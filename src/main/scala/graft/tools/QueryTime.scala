package graft.tools

/** Targeted per-query timing: run named SparkEntry queries N times each
  * in one JVM (first run discarded as warmup) and print the median —
  * the dev-loop A/B harness for single-operator performance work, so a
  * constant-factor change doesn't need a full Bench pass to measure.
  * Usage: `runMain graft.tools.QueryTime <sfDir> <runs> <query...>`
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    require(args.length > 2, "usage: QueryTime <sfDir> <runs> <query...>")
    val sfDir = args(0)
    val runs = args(1).toInt
    val spark = graft.SparkEntry.session()
    args.drop(2).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (0 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }.drop(1) // warmup pays codegen/classloading
      val med = times.sorted.apply(times.size / 2)
      println(f"[qtime] $name median $med%.2f s over $runs runs " +
        times.map(t => f"$t%.2f").mkString("[", ",", "]"))
    }
    spark.stop()
  }
}
