package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: does a banded SELF-JOIN over a lazy signature subplan
  * compute the subplan once (exchange/stage reuse) or twice? Timed
  * empirically — plan strings don't reveal AQE runtime stage reuse.
  * Also pins: checkpoint-backed frames lose partitioning.
  */
object CcPlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.session()

    val labels = spark.range(1, 1001)
      .select(col("id"), greatest(col("id") - 1, lit(1L)).as("component"))
      .repartition(col("id")).localCheckpoint()
    println("checkpoint outputPartitioning: " +
      labels.queryExecution.executedPlan.outputPartitioning)

    // 200k docs x 40 tokens: signature aggregation dominates
    val words = (0 until 40).map(j =>
      md5(concat((col("id") / 10).cast("long").cast("string"), lit(s"_$j"))))
    val docs = spark.range(0, 200000)
      .select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text"))
      .repartition(8).persist()
    docs.count()
    def t(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s (rows $r)")
    }
    t("simhash signatures alone")(
      graft.operators.TextDedup.simhash(docs, "doc_id", "text").count())
    t("simhashPairs (self-join over the same subplan)")(
      graft.operators.TextDedup.simhashPairs(docs, "doc_id", "text").count())
    spark.stop()
  }
}
