package graft.tools

/** Scale-growth measurement: time each named query at TWO data
  * directories (canonically sf0.1 and the [[MakeSf1]] sf1-equivalent)
  * in one JVM and report the wall-time growth ratio beside the data
  * growth (10×). Linear-or-better operators land at ≤ ~10×; anything
  * decisively super-linear is a scale bug to root-cause. Medians of
  * `runs` with the first run per (query, dir) discarded as warmup —
  * AQE compiles different plans per data size, so each dir pays its
  * own codegen.
  *
  * Usage: `runMain graft.tools.GrowthSweep <dirA> <dirB> <runs> <query...>`
  */
object GrowthSweep {
  def main(args: Array[String]): Unit = {
    require(args.length > 3, "usage: GrowthSweep <dirA> <dirB> <runs> <query...>")
    val (dirA, dirB, runs) = (args(0), args(1), args(2).toInt)
    val spark = graft.SparkEntry.session()
    def medianAt(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      val times = (0 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }.drop(1)
      times.sorted.apply((times.size - 1) / 2)
    }
    args.drop(3).foreach { name =>
      try {
        val a = medianAt(name, dirA)
        val b = medianAt(name, dirB)
        println(f"[growth] $name%-28s ${a}%6.2f s -> ${b}%6.2f s  ratio ${b / a}%5.1fx")
      } catch {
        case e: Throwable =>
          println(s"[growth] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
