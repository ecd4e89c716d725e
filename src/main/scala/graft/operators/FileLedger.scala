package graft.operators

import java.sql.Timestamp
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{CommitLog, RowLog}

/** Exactly-once processed-file ledger (`cdc_processed_files`).
  *
  * Re-expresses the reference's file tracking
  * (reference: lambda/handler.py:664-703): rows `file_key, status,
  * error_message, processed_at`, status `completed | failed |
  * batch_processed | pending`, the processed set being {completed,
  * batch_processed} (handler.py:666-668).
  *
  * Layout, as Structured Streaming keeps its offset and commit logs: the
  * driver writes each mark as one small JSON entry of the tail (`_log/`, a
  * [[graft.sources.RowLog]]), so no mark starts a Spark job. When an append
  * would take the tail past [[FileLedger.MaxTailEntries]] entries or
  * [[FileLedger.MaxTailRows]] rows, the tail folds into a new parquet base
  * (`_base/`) and the fold applies the reference's 30-day retention
  * (AUTOMATIC_CLEANUP.md:68-87) — a size trigger in place of its 1% coin
  * flip per invocation. A fold is published by a [[graft.sources.CommitLog]]
  * entry `_folds/N.json` that names its base and the tail entries it
  * folded; those entries are deleted after it, so a crash in between
  * leaves each row visible once, and the next fold finishes the delete. A
  * ledger written as plain parquet files in its root (the earlier format)
  * reads as the base until the first fold moves it.
  *
  * A handle keeps the processed set in memory. It seeds once from the base
  * (one Spark job; none when there is no base) plus the tail, adds its own
  * marks, and picks up other handles' marks from the tail entries it has
  * not seen, by one listing and no job — per-table streams that share the
  * ledger stay exactly-once. A fold by another handle drops the set, and
  * the next check seeds it again. Each mark first catches up with the
  * log, so the size trigger counts every handle's entries.
  */
final class FileLedger(spark: SparkSession, path: String) {

  import FileLedger._

  private val tail = new RowLog(spark, s"$path/_log", Schema)
  private val folds = new CommitLog[Fold](spark, path, "_folds")
  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val lock = FileLedger.lockFor(fs.makeQualified(new Path(path)).toString)

  // this handle's view, guarded by `this`: the fold its base comes from
  // (-1: none), the unfolded tail entries it has read, and the processed
  // keys of that base and tail (none until seeded for that base)
  private var headFold = -1L
  private var base: Option[Fold] = None
  private val entries = mutable.LinkedHashMap.empty[String, Seq[Row]]
  private var tailRows = 0L
  private var processed: Option[mutable.HashSet[String]] = None

  /** Every ledger row: the base's parquet ∪ the tail (a local relation). */
  def records: DataFrame = synchronized {
    refresh()
    val t = tail.frame(entries.values.flatten.toSeq)
    baseFrame.fold(t)(_.unionByName(t))
  }

  /** Processed ⇔ a `completed`/`batch_processed` row exists
    * (reference: handler.py:664-676).
    */
  def isProcessed(fileKey: String): Boolean = processedAmong(Seq(fileKey)).nonEmpty

  /** Bulk variant for backfills: the subset of `fileKeys` already done.
    * After the seed, a lookup in the handle's set; a key it lacks costs
    * one refresh of the log, never a Spark job, unless the refresh finds
    * another handle's fold and the set is seeded again.
    */
  def processedAmong(fileKeys: Seq[String]): Set[String] = synchronized {
    if (!processed.exists(p => fileKeys.forall(p))) refresh()
    val p = processed.getOrElse(seed())
    fileKeys.filter(p).toSet
  }

  def markCompleted(fileKey: String): Unit = append(Seq(row(fileKey, "completed", null)))

  /** Error message truncated to 500 chars (reference: handler.py:694). */
  def markFailed(fileKey: String, error: String): Unit =
    append(Seq(row(fileKey, "failed", Option(error).getOrElse("").take(500))))

  def markBatchProcessed(fileKeys: Seq[String]): Unit = {
    val now = new Timestamp(System.currentTimeMillis())
    append(fileKeys.map(k => Row(k, "batch_processed", null, now)))
  }

  /** UPDATE sink: reset old `failed` rows to `pending` so they are retried
    * (reference: DEPLOY_FILE_DEDUPLICATION.md:266-270 —
    * `UPDATE cdc_processed_files SET status='pending' WHERE
    * status='failed' AND processed_at < ...`). One fold; returns the rows
    * this reset flipped, not rows already pending.
    */
  def resetFailed(olderThanMinutes: Long = 60): Long = synchronized {
    val cutoff = new Timestamp(System.currentTimeMillis() - olderThanMinutes * 60000L)
    if (isEmpty) 0L else fold(Nil, None, Some(cutoff)).flipped
  }

  /** Retention cleanup: one fold that drops rows older than
    * `retentionDays` (reference: AUTOMATIC_CLEANUP.md:279-281 —
    * `DELETE ... WHERE processed_at < now - INTERVAL '30' DAY`); returns
    * the rows removed.
    */
  def cleanup(retentionDays: Int = 30): Long = synchronized {
    if (isEmpty) 0L
    else {
      val f = fold(Nil, Some(retentionDays), None)
      f.in - f.out
    }
  }

  private def row(fileKey: String, status: String, error: String): Row =
    Row(fileKey, status, error, new Timestamp(System.currentTimeMillis()))

  private def append(rows: Seq[Row]): Unit = synchronized {
    refresh() // the trigger counts the shared tail, not this handle's part
    if (entries.size >= MaxTailEntries || tailRows + rows.size > MaxTailRows)
      fold(rows, Some(RetentionDays), None)
    else add(tail.append(rows), rows)
  }

  private def add(name: String, rows: Seq[Row]): Unit = {
    entries(name) = rows
    tailRows += rows.size
    processed.foreach(_ ++= processedKeys(rows))
  }

  /** Catch up with the log: the tail's names (one listing), the newest
    * fold (one listing) and each unseen entry (one read). A fold this
    * handle did not make drops the processed set. An entry deleted
    * between the listing and its read was folded meanwhile, so the
    * refresh restarts.
    */
  private def refresh(): Unit = {
    val names = tail.names()
    val h = folds.head().getOrElse(-1L)
    if (h != headFold) {
      base = if (h < 0) None else Some(folds.read(h))
      headFold = h
      processed = None
    }
    val live = names.filterNot(base.fold(Set.empty[String])(_.folded.toSet))
    val liveSet = live.toSet
    entries.keys.filterNot(liveSet).toSeq.foreach { n =>
      tailRows -= entries(n).size
      entries.remove(n)
    }
    try live.filterNot(entries.contains).foreach(n => add(n, tail.read(n)))
    catch { case _: java.io.FileNotFoundException => refresh() }
  }

  /** The processed keys of the base (one Spark job) and the tail read. */
  private def seed(): mutable.HashSet[String] = {
    val p = mutable.HashSet.empty[String]
    baseFrame.foreach(b => p ++= b.filter(col("status").isin(ProcessedStatuses: _*))
      .select("file_key").distinct().collect().map(_.getString(0)))
    entries.values.foreach(rs => p ++= processedKeys(rs))
    processed = Some(p)
    p
  }

  /** The base's directory: the head fold's, else the root when it holds
    * parquet files in the earlier format, else none.
    */
  private def baseDir: Option[String] = base match {
    case Some(f) => Some(s"$path/${f.base}")
    case None => if (RowLog.parquetFiles(fs, path).nonEmpty) Some(path) else None
  }

  private def baseFrame: Option[DataFrame] =
    baseDir.map(spark.read.schema(Schema).parquet(_))

  private def isEmpty: Boolean = {
    refresh()
    entries.isEmpty && baseDir.isEmpty
  }

  /** Fold base ∪ tail ∪ `extra` (the rows of an append the tail cannot
    * take) into a new base: `failed` rows older than `flipBefore` turn
    * `pending`, and with `retentionDays` older rows are dropped. One
    * Spark job; the counts ride it as observations. Folds of one ledger
    * are serialized within the JVM; a fold racing another process's
    * fails its [[graft.sources.CommitLog]] publish and leaves the tail as
    * it was.
    */
  private def fold(extra: Seq[Row], retentionDays: Option[Int],
      flipBefore: Option[Timestamp]): Folded = lock.synchronized {
    refresh()
    val prev = base
    // a crashed fold's undeleted entries go before a new fold can forget them
    prev.foreach(f => tail.delete(f.folded))
    // the keys the new base will hold are known without a job when this
    // handle knew the old base's, or there was none
    val known = processed.orElse(Option.when(baseDir.isEmpty)(mutable.HashSet.empty[String]))
    val folded = entries.keys.toSeq
    val rows = entries.values.flatten.toSeq ++ extra
    val added = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schema)
    val flip = flipBefore.fold(lit(false))(t =>
      col("status") === "failed" && col("processed_at") < lit(t))
    val (in, out) = (Observation(), Observation())
    val id = folds.nextId()
    val dir = s"_base/$id-${UUID.randomUUID().toString.take(8)}"
    baseFrame.fold(added)(_.unionByName(added))
      .observe(in, count(lit(1)).as("rows"), count(when(flip, 1)).as("flipped"))
      .withColumn("status", when(flip, lit("pending")).otherwise(col("status")))
      .filter(retentionDays.fold(lit(true))(d =>
        col("processed_at") >= date_sub(current_timestamp(), d)))
      .observe(out, count(lit(1)).as("rows"))
      .coalesce(1).write.parquet(s"$path/$dir")
    val result = Folded(in.get("rows").asInstanceOf[Long], out.get("rows").asInstanceOf[Long],
      in.get("flipped").asInstanceOf[Long])
    val entry = Fold(id, System.currentTimeMillis(), dir, folded)
    folds.append(entry)

    // the fold is published: delete what it replaced, keeping the previous
    // base for frames planned just before it
    tail.delete(folded)
    RowLog.parquetFiles(fs, path).foreach(fs.delete(_, false))
    val keep = (Seq(dir) ++ prev.map(_.base)).map(d => new Path(d).getName).toSet
    val bases = new Path(path, "_base")
    fs.listStatus(bases).filterNot(s => keep(s.getPath.getName)).foreach(s => fs.delete(s.getPath, true))
    folds.ids().filter(_ < id - 1).foreach(folds.delete)

    base = Some(entry)
    headFold = id
    entries.clear()
    tailRows = 0L
    // retention dropped rows: the next check seeds from the new base
    processed = if (result.in == result.out) known.map(_ ++= processedKeys(rows)) else None
    result
  }
}

object FileLedger {
  val ProcessedStatuses: Seq[String] = Seq("completed", "batch_processed")

  val Schema: StructType = StructType(Seq(
    StructField("file_key", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("error_message", StringType, nullable = true),
    StructField("processed_at", TimestampType, nullable = false)))

  /** The tail folds into the base when an append would take it past
    * either bound, so a check lists at most this many entries and
    * [[FileLedger.records]] holds at most this many local rows.
    */
  private[graft] val MaxTailEntries = 1000
  private[graft] val MaxTailRows = 100000L

  /** Retention of the folds the trigger starts (AUTOMATIC_CLEANUP.md:12-63). */
  private val RetentionDays = 30

  /** One `_folds/N.json` entry: the base directory (relative to the
    * ledger root) and the tail entries folded into it.
    */
  private[graft] final case class Fold(id: Long, ts: Long, base: String, folded: Seq[String])
      extends CommitLog.Entry

  private final case class Folded(in: Long, out: Long, flipped: Long)

  private def processedKeys(rows: Seq[Row]): Iterator[String] =
    rows.iterator.filter(r => ProcessedStatuses.contains(r.getString(1))).map(_.getString(0))

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def lockFor(qualifiedPath: String): AnyRef =
    locks.computeIfAbsent(qualifiedPath, _ => new Object)
}
