package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    graft.tools.Scratch.sweepStale()
    val Array(sfDir, outDir) = args
    var spark = SparkEntry.session()
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q01_agg,d40_... runs a subset
    // (unset in the driver environment → full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      // self-heal: a fatal executor event can stop the context mid-run
      // (observed once in a 246-query single-JVM sf1 sweep) — without
      // this, every later query fails "stopped SparkContext" and the
      // round's correctness artifact silently loses them
      if (spark.sparkContext.isStopped) {
        System.err.println(s"[verify] SparkContext stopped — recreating session before $name")
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = SparkEntry.session()
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
