package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CatalogSink, MorSink, SnapshotSink}

/** The commit log's write protocol on every store: a crash while an
  * entry is being written leaves only a partial `N.json.tmp`, which
  * must not change the head, the ts and batch checks, reads, or the
  * next commit (which then lands as entry N).
  */
class CommitLogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft-$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/t"
  }

  /** One store over `root`, fed through its exactly-once sink. */
  private trait Handle {
    def log: CommitLog[_ <: CommitLog.Entry]
    def send(b: DataFrame, batchId: Long): Long
    def read(): DataFrame
  }

  private case class Store(name: String, logDir: String, open: String => Handle)

  private val stores = Seq(
    Store("SnapshotStore", "_log", root => new Handle {
      val st = new SnapshotStore(spark, root)
      def log = st.log
      def send(b: DataFrame, id: Long) = SnapshotSink.appendBatch(st, b, id)
      def read() = st.readLatest()
    }),
    Store("MorStore", "_log", root => new Handle {
      val st = new MorStore(spark, root, Seq("event_id"))
      def log = st.log
      def send(b: DataFrame, id: Long) =
        MorSink.appendBatch(st, b.withColumn("__op", lit("U")), id)
      def read() = st.read()
    }),
    Store("TableCatalog", "_catalog", root => new Handle {
      val cat = new TableCatalog(spark, root)
      def log = cat.log
      def send(b: DataFrame, id: Long) = CatalogSink.commitBatch(cat, b, id,
        Map("raw" -> ((prev: Option[DataFrame], b: DataFrame) =>
          prev.map(_.unionByName(b)).getOrElse(b))))
      def read() = cat.read("raw")
    }))

  private def batch(id: Long): DataFrame = {
    import spark.implicits._
    Seq(id).toDF("event_id")
  }

  private def ids(h: Handle): Seq[Long] =
    h.read().select("event_id").collect().map(_.getLong(0)).sorted.toSeq

  stores.foreach { store =>
    test(s"${store.name}: a torn entry write leaves head, checks, reads and the next commit unaffected") {
      val root = freshDir(s"torn-${store.name}")
      val first = store.open(root)
      (0L to 1L).foreach(i => assert(first.send(batch(i), i) >= 0L))
      val head = first.log.head().get
      // the crash: entry head+1 was being written when the process died
      val torn = new Path(new Path(root, store.logDir), s"${head + 1}.json.tmp")
      val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(torn, true)
      out.write("""{"generation":""".getBytes("UTF-8")); out.close()

      val h = store.open(root)
      assert(h.log.head().contains(head))
      assert(h.log.ids() == first.log.ids())
      assert(h.log.tsCommitted(1L) && !h.log.tsCommitted(2L))
      assert(h.log.batchCommitted(1L) && !h.log.batchCommitted(2L))
      assert(ids(h) == Seq(0L, 1L))
      assert(h.send(batch(1), 1L) == -1L)
      assert(h.send(batch(2), 2L) == head + 1)
      assert(!fs.exists(torn), "the next commit writes its entry over the leftover")
      assert(h.log.read(head + 1).ts == 2L)
      assert(ids(h) == Seq(0L, 1L, 2L))
    }
  }
}
