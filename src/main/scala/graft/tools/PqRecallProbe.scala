package graft.tools
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.VectorSearch
import graft.queries.DataPipelineQueries.derivedPlanes

/** Recall instrumentation for the trained-PQ path: overlap@10 against
  * the exact cosine ranking, swept over the levers that matter —
  * probe depth (the IVF routing ceiling: even perfect codes cannot
  * recall a neighbor in an unprobed cell), codebook size, Lloyd
  * passes, farthest-point vs lowest-id seeding, and subspace count.
  * The "ivf nProbe=N" rows are the ceiling for every PQ row at that
  * depth (exact scoring within probed cells).
  */
object PqRecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.session()
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    for (dir <- dirs) {
      val e = Tables(spark, dir, "embeddings")
      val planes = derivedPlanes(spark, dir, 8)
      val q = e.filter(col("vec_id") < 5)
      def sets(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "id").collect().map(r => r.getLong(0) -> r.getLong(1))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val exact = sets(VectorSearch.bruteForceTopK(e, q, "vec_id", "embedding", "vec_id", 10))
      def score(got: Map[Long, Set[Long]]) =
        exact.keys.toSeq.map(k => (got.getOrElse(k, Set.empty[Long]) & exact(k)).size)
          .sum.toDouble / (exact.size * 10)
      // routing ceiling: exact scoring within the probed cells
      val ceil = Seq(1, 2, 4, 8).map { np =>
        np -> score(sets(VectorSearch.ivfTopK(e, q, "vec_id", "embedding",
          "vec_id", planes, 10, nProbe = np)))
      }
      println(f"$dir ivf-ceiling " +
        ceil.map { case (np, s) => f"np$np=$s%.2f" }.mkString(" "))
      // TRAINED coarse quantizer (round 14): the routing ceiling is
      // the binding constraint at scale (np4 fell 0.72 → 0.56 at 10×
      // corpus), and the 8 derived planes are NOT trained cells —
      // k-means cells (Lloyd over the full 64-dim vectors) with each
      // seeding, including the new deterministic k-means|| ("kmpp"),
      // measured at the same depths
      for ((sd, it) <- Seq(("first", 8), ("first", 3), ("stride", 8),
          ("kmpp", 8))) {
        val tc = VectorSearch.quantizedKMeansModel(e, "vec_id", "embedding",
          k = 8, iters = it, seeding = sd)
        val tceil = Seq(2, 4).map { np =>
          np -> score(sets(VectorSearch.ivfTopK(e, q, "vec_id", "embedding",
            "vec_id", tc, 10, nProbe = np)))
        }
        println(f"$dir ivf-ceiling-trained-$sd-i$it " +
          tceil.map { case (np, s) => f"np$np=$s%.2f" }.mkString(" "))
      }
      // trained codebooks: m subspaces of 64/m dims, k codewords
      def books(m: Int, k: Int, iters: Int, seeding: String) = {
        val sd = 64 / m
        (0 until m).map(sub => VectorSearch.quantizedKMeansModel(
          e.select(col("vec_id"),
            slice(col("embedding"), sub * sd + 1, sd).as("embedding")),
          "vec_id", "embedding", k = k, iters = iters, seeding = seeding))
      }
      def pq(m: Int, k: Int, iters: Int, seeding: String, np: Int) = {
        val cb = books(m, k, iters, seeding)
        val enc = VectorSearch.encodeIvfPq(e, "vec_id", "embedding", planes, cb)
        score(sets(VectorSearch.searchIvfPq(enc, q, "vec_id", "embedding",
          planes, cb, 10, np)))
      }
      val cfgs = Seq(
        ("m4k8i3-first", 4, 8, 3, "first"),
        ("m4k32i3-first", 4, 32, 3, "first"),
        ("m8k16i3-first", 8, 16, 3, "first"),
        ("m4k32i8-stride", 4, 32, 8, "stride"),
        ("m8k16i8-stride", 8, 16, 8, "stride"),
        ("m8k32i8-stride", 8, 32, 8, "stride"),
        ("m4k32i8-kmpp", 4, 32, 8, "kmpp"),
        ("m8k16i8-kmpp", 8, 16, 8, "kmpp"),
        ("m4k8i8-far", 4, 8, 8, "farthest"))
      for ((tag, m, k, it, sd) <- cfgs; np <- Seq(2, 4)) {
        println(f"$dir pq $tag np$np=${pq(m, k, it, sd, np)}%.2f")
      }
      // IVFPQ + exact refine (FAISS refine shape): ADC shortlist of R,
      // exact cosine re-rank — converges to the routing ceiling as R
      // grows; the lever that works on isotropic unit vectors where
      // codebook quality cannot (gaps thinner than quantization noise)
      // np8 included since round 14: at sf0.1 the np4 ROUTING ceiling
      // fell to 0.56 (10× corpus, same cell count — neighbors spread
      // over more cells per probe), so restoring recall is a DEPTH
      // adjustment, not a codebook one; R100 shows the shortlist side
      // of the same scaling
      for ((m, k) <- Seq((4, 8), (8, 16)); np <- Seq(2, 4, 8); r <- Seq(30, 50, 100)) {
        val cb = books(m, k, 3, "first")
        val enc = VectorSearch.encodeIvfPq(e, "vec_id", "embedding", planes, cb)
        val got = score(sets(VectorSearch.searchIvfPqRefined(enc, e, q,
          "vec_id", "vec_id", "embedding", planes, cb, 10,
          candidates = r, nProbe = np)))
        println(f"$dir pq-refined m${m}k$k np$np R$r=$got%.2f")
      }
      // the s25 configuration: refined search through TRAINED cells
      // (full-dim Lloyd k=8 i=3 first — the oracle-replayable config)
      {
        val tc = VectorSearch.quantizedKMeansModel(e, "vec_id", "embedding",
          k = 8, iters = 3)
        val cb = books(4, 8, 3, "first")
        val enc = VectorSearch.encodeIvfPq(e, "vec_id", "embedding", tc, cb)
        for (np <- Seq(2, 4); r <- Seq(50, 100)) {
          val got = score(sets(VectorSearch.searchIvfPqRefined(enc, e, q,
            "vec_id", "vec_id", "embedding", tc, cb, 10,
            candidates = r, nProbe = np)))
          println(f"$dir pq-refined-trainedcells m4k8 np$np R$r=$got%.2f")
        }
      }
    }
    spark.stop()
  }
}
