package graft.tools

import graft.operators.BpeInduction
import graft.queries.PlatformQueries

/** Prints the d43 tokenizer's learned vocab as a DuckDB VALUES
  * relation — run once whenever the fixed training corpus or merge
  * count changes, and paste the output into `PlatformQueries.d43_sql`.
  */
object BpeVocabDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.session()
    import spark.implicits._
    val (merges, vocab) = BpeInduction.train(
      PlatformQueries.BpeTrainCorpus.toDF("text"), "text",
      k = PlatformQueries.BpeMerges)
    println(s"-- merges learned: ${merges.size}")
    merges.foreach(m => println(s"--   ${m.left} + ${m.right} (${m.pairCount})"))
    val vseq = vocab.collect().sortBy(_.word)
    val rows = vseq.map(sw => s"('${sw.word}', ${sw.syms.size})")
    println("VALUES " + rows.mkString(", "))
    // t21 blocks: the symbolized (word -> id sequence) table and the
    // per-character CASE arms for the oracle's OOV expansion
    val symId = BpeInduction.symbolization(vseq.toSeq).toMap
    println("-- t21 vocab(word, ids):")
    println("VALUES " + vseq.map(sw =>
      s"('${sw.word}', '${sw.syms.map(symId).mkString(" ")}')").mkString(", "))
    println("-- t21 char CASE arms:")
    println(symId.filter(_._1.length == 1).toSeq.sortBy(_._1)
      .map { case (c, i) => s"WHEN '$c' THEN $i" }.mkString(" "))
    spark.stop()
  }
}
