package graft.sources

import scala.reflect.ClassTag

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit log every store shares ([[SnapshotStore]], [[MorStore]],
  * [[TableCatalog]]): numbered, typed JSON entries `<dir>/N.json` under
  * one store root, plus the streaming sinks' exactly-once ledger. A
  * store keeps only its data layout and its resolve; every decision
  * about what is committed lives here.
  *
  * Commit protocol: the store first writes the data an entry will
  * reference (a crash there leaves unreferenced orphans), then
  * [[append]] writes the entry to `N.json.tmp` and renames it to
  * `N.json` WITHOUT overwrite. A crash mid-write therefore leaves only
  * a `.tmp` leftover, which no listing counts and the next append of N
  * overwrites; a torn entry can never sit under a logged name, and a
  * second writer racing for N fails instead of clobbering it.
  *
  * Visibility rule: a fully written entry is visible. There is no
  * pointer to fall behind, so a single-ref store's head is simply its
  * newest entry, and a crash between an entry and anything written
  * after it loses nothing. [[TableCatalog]] applies the same rule per
  * ref: a ref's head is the newest of its pointer and the newest entry
  * committed on that ref.
  *
  * Idempotence: every entry carries its commit ts. [[tsCommitted]] is
  * an O(1) set seeded from the log once per handle (on first use). For
  * streaming sinks, [[once]] runs a commit only for a batch id not yet
  * committed and then persists the batch high-water mark `_maxbatch`
  * (`"<floorEntry> <maxBatchId>"`, swung atomically by [[PointerFile]]),
  * so a restarted handle seeds from ONE mark read plus the entries above
  * its floor — the commit-vs-mark crash window — never the whole log.
  * This rests on the Structured Streaming batch-id contract: ids from
  * one checkpoint are monotone and gapless, so an id at or below the
  * mark committed. Only sinks write the mark; manual commits (wall-clock
  * or fixture ts) never move it. Pointing a NEW checkpoint (ids restart
  * at 0) at a store that carries a mark makes old ids no-op: use a fresh
  * store.
  */
private[graft] class CommitLog[E <: CommitLog.Entry](
    spark: SparkSession, root: String, dirName: String)(implicit tag: ClassTag[E]) {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = FileSystem.get(conf)
  private val dir = new Path(root, dirName)
  private def path(n: Long) = new Path(dir, s"$n.json")
  private def markPath = new Path(root, "_maxbatch")

  /** Numbers of every fully written entry, ascending (one listing). */
  def ids(): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).sorted.toSeq

  /** The newest entry, else None (empty log). */
  def head(): Option[Long] = ids().lastOption

  def nextId(): Long = head().fold(0L)(_ + 1)

  def exists(n: Long): Boolean = fs.exists(path(n))

  def read(n: Long): E =
    CommitLog.readJson(fs, path(n), tag.runtimeClass.asInstanceOf[Class[E]])

  def entries(): Seq[E] = ids().map(read)

  /** Publish `e` as entry `e.id` (tmp write, no-overwrite rename). */
  def append(e: E): Unit = {
    fs.mkdirs(dir)
    val tmp = new Path(dir, s"${e.id}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(CommitLog.json.writeValueAsBytes(e)) finally out.close()
    try FileContext.getFileContext(path(e.id).toUri, conf).rename(tmp, path(e.id))
    catch {
      case ex: Exception => throw new IllegalStateException(
        s"entry ${e.id} already exists at $dir — another writer raced this " +
          "commit (cross-process writers need a storage-level CAS)", ex)
    }
    appendedTs.add(e.ts)
  }

  def delete(n: Long): Unit = fs.delete(path(n), false)

  private lazy val seededTs: Set[Long] = entries().map(_.ts).toSet
  private val appendedTs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** O(1) amortized: was any entry committed with this ts? */
  def tsCommitted(ts: Long): Boolean = appendedTs.contains(ts) || seededTs(ts)

  // (max marked id, ts of the entries above the mark's floor)
  private lazy val batchSeed: (Long, Set[Long]) = {
    val (floor, maxId) = readMark().getOrElse((-1L, -1L))
    (maxId, ids().filter(_ > floor).map(read(_).ts).toSet)
  }
  private val markedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** Was streaming batch `id` committed (monotone gapless ids only;
    * other callers use [[tsCommitted]])?
    */
  def batchCommitted(id: Long): Boolean =
    id <= batchSeed._1 || batchSeed._2(id) || markedIds.contains(id)

  /** The exactly-once sink step: -1 for an already committed batch,
    * else run `commit` (which logs its entry with ts = `batchId`), mark
    * the batch and return what `commit` returned.
    */
  def once(batchId: Long)(commit: => Long): Long =
    if (batchCommitted(batchId)) -1L
    else {
      val n = commit
      markBatch(batchId)
      n
    }

  // monotone: an out-of-order mark (only a misconfigured second writer
  // produces one) never lowers the mark
  private def markBatch(id: Long): Unit = {
    markedIds.add(id)
    val keep = readMark() match {
      case Some((f, m)) if m > id => (f, m)
      case _ => (head().getOrElse(-1L), id)
    }
    PointerFile.swing(conf, new Path(root), markPath, s"${keep._1} ${keep._2}",
      s"maxbatch $root")
  }

  private def readMark(): Option[(Long, Long)] =
    if (!fs.exists(markPath)) None
    else {
      val in = fs.open(markPath)
      val s = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      s.split("\\s+") match {
        case Array(f, m) => Some((f.toLong, m.toLong))
        case _ => None
      }
    }
}

private[graft] object CommitLog {

  /** A log entry: its number in the log and its commit ts. */
  trait Entry {
    def id: Long
    def ts: Long
  }

  /** Reads and writes every entry (and the catalog export manifest);
    * map sections are written in key order.
    */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def readJson[T](fs: FileSystem, p: Path, cls: Class[T]): T = {
    val in: java.io.InputStream = fs.open(p)
    try json.readValue(in, cls) finally in.close()
  }
}
