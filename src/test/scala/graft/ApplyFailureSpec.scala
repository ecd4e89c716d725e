package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TableKeys
import graft.pipeline.CdcPipeline
import graft.routing.CdcPath

/** A failed file apply releases the staged file and records exactly one
  * `failed` ledger row.
  */
class ApplyFailureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a failed apply leaves nothing cached and writes one failed ledger row") {
    import spark.implicits._
    val root = Files.createTempDirectory("apply-failure").toString
    val file = s"$root/fair/users/2026/08/12/b1.parquet"
    val tmp = s"$root/out"
    Seq((1L, "alice", "I")).toDF("id", "v", "Op").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    new java.io.File(file).getParentFile.mkdirs()
    Files.move(part.toPath, new java.io.File(file).toPath)

    // the target was never initialized: the apply throws after staging
    val pipe = new CdcPipeline(spark, s"$root/store", TableKeys.parse("""{"users": "id"}"""),
      numBuckets = 8)
    spark.catalog.clearCache()
    val out = pipe.processFile(file)

    out match {
      case CdcPipeline.Failed("users", e) => assert(e.getMessage.contains("not initialized"))
      case other => fail(s"expected a failed apply, got $other")
    }
    assert(spark.sharedState.cacheManager.isEmpty, "the staged file must be unpersisted")
    val ledger = pipe.ledger.records.filter(col("file_key") === CdcPath.ledgerKey(file))
      .select("status").as[String].collect().toSeq
    assert(ledger == Seq("failed"))
  }
}
