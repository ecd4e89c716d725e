package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{MorStore, SnapshotStore, TableCatalog}

/** The commit-vs-mark crash window, driven the same way through every
  * exactly-once sink: batch 1's commit is durable, but the process died
  * before the batch mark `_maxbatch` (and, where the store has one,
  * before the pointer `_latest`) caught up. After a restart the
  * redelivered batch 1 must no-op, and batch 2 must build on batch 1 —
  * the final state equals the crash-free fold.
  */
class SinkCrashWindowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft-$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/t"
  }

  /** A sink under test: `open` returns a sender over a FRESH store
    * handle at `root`; `events` reads the committed event ids.
    */
  private case class Sink(name: String,
      open: String => (DataFrame, Long) => Long,
      events: String => DataFrame)

  private val append: (Option[DataFrame], DataFrame) => DataFrame =
    (prev, b) => prev.map(_.unionByName(b)).getOrElse(b)

  private val sinks = Seq(
    Sink("SnapshotSink",
      root => { val st = new SnapshotStore(spark, root)
        (b, id) => SnapshotSink.appendBatch(st, b, id) },
      root => new SnapshotStore(spark, root).readLatest()),
    Sink("MorSink",
      root => { val st = new MorStore(spark, root, Seq("event_id"))
        (b, id) => MorSink.appendBatch(st, b.withColumn("__op", lit("U")), id) },
      root => new MorStore(spark, root, Seq("event_id")).read()),
    Sink("CatalogSink",
      root => { val cat = new TableCatalog(spark, root)
        (b, id) => CatalogSink.commitBatch(cat, b, id, Map("raw" -> append)) },
      root => new TableCatalog(spark, root).read("raw")))

  private def batch(id: Long): DataFrame = {
    import spark.implicits._
    Seq(id).toDF("event_id")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("event_id").collect().map(_.getLong(0)).sorted.toSeq

  private def snapshot(root: String, name: String): Option[Array[Byte]] = {
    val p = new Path(root, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  private def restore(root: String, name: String, bytes: Array[Byte]): Unit = {
    val p = new Path(root, name)
    fs.delete(p, false)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  sinks.foreach { sink =>
    test(s"${sink.name}: crash between commit and batch mark replays to the crash-free fold") {
      val root = freshDir(s"crashwin-${sink.name}")
      val send = sink.open(root)
      assert(send(batch(0), 0L) >= 0L)
      val before = Seq("_maxbatch", "_latest").flatMap(n => snapshot(root, n).map(n -> _))
      assert(before.exists(_._1 == "_maxbatch"), "a sink commit must persist the batch mark")
      assert(send(batch(1), 1L) >= 0L)
      // the crash: batch 1 is committed, its mark (and pointer) never landed
      before.foreach { case (n, bytes) => restore(root, n, bytes) }

      val restarted = sink.open(root)
      assert(restarted(batch(1), 1L) == -1L, "redelivered batch 1 must no-op")
      assert(restarted(batch(2), 2L) >= 0L)

      val serial = freshDir(s"crashwin-serial-${sink.name}")
      val clean = sink.open(serial)
      (0L to 2L).foreach(i => assert(clean(batch(i), i) >= 0L))
      assert(ids(sink.events(root)) == ids(sink.events(serial)))
      assert(ids(sink.events(root)) == Seq(0L, 1L, 2L))
    }
  }
}
