package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generate an sf1-equivalent test dataset (10× sf0.1) for the scale
  * readiness sweep — the driver's testdata is read-only and tops out
  * at sf0.1, but the 100 TB question needs at least one uniform
  * bigger-SF measurement per heavy query (growth ratios, not absolute
  * times).
  *
  * Method: union `copies` key-shifted replicas of sf0.1. Key columns
  * shift by copy × 10⁷ (far above any sf0.1 key), so referential
  * integrity holds within each replica and cardinalities scale 10×.
  * Dimension tables that TPC-H keeps fixed (region, nation) stay
  * single-copy. Two tables need DECORRELATION so the replicas do not
  * manufacture cross-copy duplicates the real distribution would not
  * have (which would inflate the dedup/ANN families super-linearly and
  * invalidate the growth readings):
  *
  *  - `documents.text`: a per-copy Caesar rotation of a-z (copy 0
  *    unchanged). A bijection on characters preserves ALL equality
  *    structure within a copy — word shingles, char k-gram windows,
  *    token/char counts, the planted near-dup clusters — while no
  *    letter-bearing token or window ever matches across copies. The
  *    first cut of this tool used per-TOKEN suffixes instead, which
  *    decorrelates word-level shingles but NOT char-level windows
  *    inside 8-char tokens: one corpus-wide hot fingerprint survived
  *    all 10 copies and drove d21's inverted-index self-join quadratic
  *    (df² on a df that scales with the corpus). Hash VALUES differ per
  *    copy (md5 of rotated text), so winnowing may select different
  *    windows per copy — statistically equivalent, which is what a
  *    growth reading needs. Caveat: rotated copies are not English, so
  *    content-sensitive filters (langid, stopword-ratio quality) score
  *    copies 1-9 differently — growth readings for those queries
  *    measure scan-linearity, not filter-selectivity fidelity.
  *  - `embeddings.embedding`: element-wise sign flip by a per-copy
  *    ±1 mask (seeded per copy). cos(u·s, v·s) = cos(u, v), so every
  *    within-copy angle — again including planted near-dups — is
  *    preserved bit-for-bit, while cross-copy cosines collapse to
  *    ~0 (E[s]=0): no manufactured pairs.
  *
  * Usage: `runMain graft.tools.MakeSf1 [dstDir] [copies]`
  * (defaults: /tmp/sf1, 10).
  */
object MakeSf1 {

  private val Src = "/root/testdata/sf0.1"
  private val KeyOff = 10000000L

  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/sf1")
    val copies = if (args.length > 1) args(1).toInt else 10
    val spark = graft.SparkEntry.session()

    def read(name: String) = spark.read.parquet(s"$Src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[sf1] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def shifted(name: String, keyCols: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = read(name)
      write(name, (0 until copies).map { i =>
        val sh = keyCols.foldLeft(base) { case (df, c) =>
          // preserve the column's type: int32 keys stay int32
          df.withColumn(c, (col(c) + lit(i * KeyOff)).cast(df.schema(c).dataType))
        }
        perCopy(sh, i)
      }.reduce(_ unionByName _))
    }

    // fixed dimensions: copied through unchanged
    Seq("region", "nation").foreach(n => write(n, read(n)))

    shifted("customer", Seq("c_custkey"))
    shifted("supplier", Seq("s_suppkey"))
    shifted("part", Seq("p_partkey"))
    shifted("orders", Seq("o_orderkey", "o_custkey"))
    shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    shifted("events", Seq("event_id", "user_id"))

    // documents: per-copy Caesar rotation decorrelates BOTH word
    // shingles and char k-gram windows across copies (see header);
    // copy 0 is byte-identical to the source corpus and n_chars is
    // preserved exactly (bijection on characters).
    // Two preconditions guard the decorrelation itself (ADVICE r10):
    // the rotation maps only a-z, so any digit/uppercase/punctuation
    // would be invariant across copies and silently re-plant the
    // cross-copy hot-fingerprint correlation this scheme fixes; and
    // copy i uses rotation i % 26, so copies >= 26 would get the
    // identity rotation and correlate with copy 0.
    require(copies <= 26,
      s"Caesar decorrelation supports at most 26 copies (got $copies): " +
        "copy i rotates by i % 26, so copy 26 would repeat copy 0")
    val nonLower = read("documents")
      .filter(!col("text").rlike("^[a-z ]*$")).count()
    require(nonLower == 0,
      s"documents corpus must be pure lowercase+space for Caesar " +
        s"decorrelation ($nonLower rows contain other characters — " +
        "extend translate() to cover the full charset before rerunning)")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    shifted("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("text",
        translate(col("text"), alpha, alpha.drop(i % 26) + alpha.take(i % 26))))

    // embeddings: per-copy ±1 mask (seeded) preserves every within-copy
    // cosine exactly and zeroes cross-copy similarity in expectation
    shifted("embeddings", Seq("vec_id"), (df, i) =>
      if (i == 0) df
      else {
        val dim = df.select(size(col("embedding"))).head().getInt(0)
        val rnd = new scala.util.Random(1000 + i)
        val mask = Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
        df.withColumn("embedding",
          zip_with(col("embedding"), typedLit(mask), (x, s) => x * s))
      })

    spark.stop()
  }
}
