package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TableKeys
import graft.pipeline.CdcPipeline
import graft.streaming.CdcOrchestrator

/** Two tables streamed concurrently, one null-PK table skipped —
  * the reference's parallel-tables / serialized-per-table model.
  */
class OrchestratorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def writeCdcFile(file: String, rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("orch").toString + "/out"
    rows.toDF("id", "v", "Op").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(file)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
  }

  test("per-table streams run concurrently; null-PK table skipped") {
    import spark.implicits._
    val root = Files.createTempDirectory("orch-root").toString
    val keys = TableKeys.parse("""{"t_a": "id", "t_b": "id", "t_skip": null}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4)
    pipe.initialLoad("t_a", Seq((1L, "a1")).toDF("id", "v"))
    pipe.initialLoad("t_b", Seq((1L, "b1")).toDF("id", "v"))

    writeCdcFile(s"$root/in/t_a/2026/01/01/f1.parquet",
      Seq((1L, "a1-v2", "U"), (2L, "a2", "I")))
    writeCdcFile(s"$root/in/t_b/2026/01/01/f1.parquet",
      Seq((1L, "b1", "D")))

    val schema = spark.read.parquet(s"$root/in/t_a/2026/01/01/f1.parquet").schema
    val running = CdcOrchestrator.startAll(
      spark, s"$root/in", s"$root/store", s"$root/ckpt", keys,
      schemas = Map("t_a" -> schema, "t_b" -> schema, "t_skip" -> schema),
      numBuckets = 4)
    assert(running.map(_.table).sorted == Seq("t_a", "t_b")) // t_skip absent
    running.foreach(r => assert(r.query.awaitTermination(300000), s"${r.table} stream timed out"))

    val aState = pipe.storeFor("t_a", Seq("id")).read()
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val bState = pipe.storeFor("t_b", Seq("id")).read()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(aState.toSeq == Seq((1L, "a1-v2"), (2L, "a2")))
    assert(bState.isEmpty)
  }
}
