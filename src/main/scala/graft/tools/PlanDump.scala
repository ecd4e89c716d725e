package graft.tools

import java.io.PrintWriter

/** Generates PLANS.md: the physical plans of headline queries with the
  * scale-relevant features called out. Dev tool, rerun after plan-shape
  * changes: `sbt "runMain graft.tools.PlanDump"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.session()
    val dir = "/root/testdata/sf0.001"
    val out = new StringBuilder

    out.append(
      """# PLANS — physical plans of headline queries (sf0.001, pre-execution)
        |
        |Generated by `graft.tools.PlanDump`. The shapes below are also
        |asserted by `PlanSpec` so they cannot silently regress.
        |""".stripMargin)

    def dump(title: String, note: String, df: org.apache.spark.sql.DataFrame): Unit = {
      out.append(s"\n## $title\n\n$note\n\n```\n")
      out.append(df.queryExecution.executedPlan.toString.take(4000))
      out.append("```\n")
    }

    dump("q11 — predicate stack",
      "LIKE/IN/range all reach the parquet scan (`PushedFilters`); only the projected columns are read (`ReadSchema`).",
      graft.queries.CoreQueries.q11_predicate_stack(spark, dir))

    dump("q07 — dimension join + aggregation",
      "Both dimensions broadcast (`BroadcastHashJoin`); the fact side is scanned once, aggregated with map-side partials; no fact shuffle before the final small-key exchange.",
      graft.queries.CoreQueries.q07_join_revenue_by_nation(spark, dir))

    dump("q16 — window dedup (rn = 1)",
      "One exchange by the partition key, in-partition sort, and `WindowGroupLimit` pushes the rn=1 filter below the window so each group keeps only its top row through the sort.",
      graft.queries.CoreQueries.q16_latest_per_key(spark, dir))

    {
      import spark.implicits._
      val target = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      val staging = Seq((1L, "v1b", "U"), (2000L, "new", "I")).toDF("id", "v", "Op")
      dump("CdcMerge — the zero-shuffle MERGE",
        "Three `BroadcastHashJoin`s (left-outer survivors, keys-only semi, anti inserts) and **no exchange of the target anywhere** — the 100 TB contract: merge cost scales with the CDC batch, not the table.",
        graft.operators.CdcMerge(target, staging, Seq("id")))
    }

    dump("s01 — brute-force ANN top-k",
      "Query set broadcast against a single corpus scan; `double_dot` runs inside whole-stage codegen (the `*(n)` stages); per-query top-k via rank window over the small joined result.",
      graft.queries.DataPipelineQueries.s01_ann_topk(spark, dir))

    dump("d08 — deterministic stratified sample",
      "A single codegen'd scan+filter — no exchange anywhere. Membership is an md5 function of the id, so the same rows survive on any engine, partitioning, or rerun.",
      graft.operators.Sampling.stratifiedSample(
        graft.Tables(spark, dir, "documents"), "doc_id",
        org.apache.spark.sql.functions.lit(30)))

    dump("d09 — incremental dedup, batch vs store band index",
      "The batch side (bands, candidate pairs, sizes, pair shingles) broadcasts at every join; the store-sized relations — the band index and the candidate-doc text scan — are never exchanged before aggregation. Per-batch cost scales with the batch and its candidates, not the store.",
      graft.queries.DataPipelineQueries.d09_incremental_dedup(spark, dir))

    dump("w07 — as-of join",
      "Union of probe+build, ONE hash exchange on the key, in-partition sort, running `last(ignoreNulls)` window — never a per-key range join or correlated-max double join. Cost: one shuffle of probe+build regardless of history depth per key.",
      graft.queries.CurationQueries.w07_asof_join(spark, dir))

    dump("d12 — domain-mixture resampling",
      "The per-group count aggregate (rows = |groups|) broadcasts back onto the corpus; the keep rule is a codegen'd md5-threshold filter — the corpus itself is never shuffled.",
      graft.queries.CurationQueries.d12_domain_mix(spark, dir))

    dump("d13 — sequence packing",
      "One exchange by shard, per-shard sort, running-sum window, integer division to pack ids — no global-order single-partition window at any size.",
      graft.queries.CurationQueries.d13_sequence_packing(spark, dir))

    dump("d23 — fingerprint containment, prefix-filtered",
      "Rarity-rank window (row_number over df order) selects each doc's ⌊(1−t)·n⌋+1 rarest fingerprints; candidate and verification joins all key on the 8-byte fingerprint LONG or doc ids — no string key anywhere, high-df fingerprints never generate a candidate.",
      graft.operators.TextDedup.fingerprintContainmentPrefix(
        graft.queries.DataPipelineQueries.dupDocCorpus(spark, dir), "doc_id", "text"))

    dump("d25 — boilerplate passage spans",
      "One tokenize+gram pass persisted for both the df mining aggregate and the occurrence join; the frequent-gram set (Zipf head) broadcasts; interval merge is a running-max window partitioned by doc id — the corpus is never globally sorted.",
      graft.operators.Boilerplate.passageSpans(
        graft.Tables(spark, dir, "documents"), "doc_id", "text", 3, 5L))

    dump("m03 — image perceptual near-dup",
      "60-bit block hash built by a sequence explode + map-side-combined sum; pairs come from 4×15-bit chunk collisions (pigeonhole for hamming ≤ 3), exact popcount on candidates only — never an all-pairs product.",
      graft.queries.DataPipelineQueries.queries("m03_image_neardup")(spark, dir))

    dump("m04 — shift-invariant audio near-dup",
      "Fingerprints join on the signature ALONE (one exchange on sig); the (pair, window-delta) aggregate then finds the best consistent alignment — a per-pair window over ≤ 2·maxWins−1 delta rows, never a global sort. Both self-join sides and the window counts scan ONE cached fingerprint relation; the df cap kills hot-landmark skew before the join.",
      graft.queries.DataPipelineQueries.queries("m04_audio_neardup")(spark, dir))

    dump("s12 — quantized k-means, final assignment",
      "The returned labeling is a pure projection: k centroid literals baked into an argmin expression of `int_dot` kernels over the cached quantized corpus — no join, no exchange, no Generate. Iteration cost (not shown: driver loop) is one VectorSumAgg shuffle of k×dims longs per pass.",
      graft.operators.VectorSearch.quantizedKMeans(
        graft.Tables(spark, dir, "embeddings"), "vec_id", "embedding", 8, 3))

    dump("s13 — product-quantization ANN (ADC)",
      "The encoded corpus (per-subspace argmin codes — a pure projection over the scan) joins the broadcast ADC distance tables; scoring is element_at lookups folded in fixed subspace order INSIDE the broadcast-join stage. The only exchange in the whole plan is the per-query rank window's.",
      {
        val e = graft.Tables(spark, dir, "embeddings")
        val planes = graft.queries.DataPipelineQueries.derivedPlanes(spark, dir, 8)
        val cbs = (0 until 4).map(s => planes.map(_.slice(s * 16, s * 16 + 16)))
        graft.operators.VectorSearch.pqTopK(
          e, e.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", cbs, 10)
      })

    dump("d31 — template centrality, one propagation round",
      "One round of the integer degree-damped propagation (the `Propagation.propagate` iteration body, shown pre-checkpoint — the operator checkpoints each round, which hides the plan behind an RDD scan): scores join the checkpointed symmetric edge relation on src (one hash exchange), aggregate incoming shares by dst, left-join back to the degree relation. Per-round shuffled bytes ∝ |E| + |V|, constant across rounds; the edge checkpoint is scanned, never rebuilt.",
      {
        import org.apache.spark.sql.functions._
        val edges = spark.range(999)
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        val bidir = edges.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
          .localCheckpoint()
        val deg = bidir.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
          .localCheckpoint()
        val scores = deg.select(col("id"), col("deg"), lit(1000000L).as("score"))
        val in = scores.withColumn("__out", expr("score div deg"))
          .join(bidir, col("id") === col("src"))
          .groupBy(col("dst")).agg(sum(col("__out")).as("__in"))
        deg.join(in, col("id") === col("dst"), "left")
          .select(col("id"), col("deg"),
            (lit(150000L) + expr("850 * coalesce(__in, 0) div 1000")).as("score"))
      })

    dump("s14 — IVF-PQ composite ANN",
      "The billion-scale index shape: ONE corpus scan computes the coarse cell AND the 4 PQ codes as projections (no join, no shuffle); the query side (probed cells exploded + ADC distance tables) rides ONE BroadcastExchange; scoring is element_at lookups inside the BroadcastHashJoin stage; the ONLY shuffle is the per-query rank window. At 100 TB the encoded corpus (cell + codes) is what persists — ~100x smaller than the raw vectors — and the probe join prunes it to nProbe/|cells| per query.",
      {
        import org.apache.spark.sql.functions._
        val planes = graft.queries.DataPipelineQueries.derivedPlanes(spark, dir, 8)
        val codebooks = (0 until 4).map(s => planes.map(_.slice(s * 16, s * 16 + 16)))
        val e = graft.Tables(spark, dir, "embeddings")
        graft.operators.VectorSearch.ivfPqTopK(
          e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id",
          planes, codebooks, k = 10, nProbe = 2)
      })

    dump("v16 — single-pass column profile (exact multi-NDV)",
      "ANALYZE in one scan: every column's non-null count, exact NDV, and min/max ride ONE FileScan into ONE Expand (the multi-distinct rewrite) and one aggregate; the stack generator melts the stats row. The alternative — one job per column — would scan the table N times.",
      graft.queries.AnalyticsQueries.v16_column_profile(spark, dir))

    dump("t16 — classifier inference (broadcast model)",
      "Model inference as a plan: the vocabulary (the exported model) rides a BroadcastExchange into the token stream; the only shuffle is the per-doc hash aggregate. The corpus-side explode never moves — exactly how a trained filter model deploys over 100 TB.",
      graft.queries.AnalyticsQueries.t16_classifier_score(spark, dir))

    dump("d35 — weighted sample (WindowGroupLimit pushdown)",
      "Efraimidis-Spirakis per-stratum top-k: the rank window is preceded by WindowGroupLimit(5) on BOTH sides of the stratum exchange — each partition locally truncates to 5 candidates before shuffling, so the full corpus is never sorted; the md5-derived priority is a pure projection.",
      graft.queries.AnalyticsQueries.d35_weighted_sample(spark, dir))

    dump("d40 — Bloom-pruned decontamination",
      "The middle regime between broadcast and full shuffle: the corpus gram stream passes a codegen'd bloom_might_contain filter BEFORE the exact semi join, so the join exchange carries probable matches only (true hits + 1% fpp), not the corpus. The filter bytes ride the plan; exactness is restored by the confirming join on real gram strings.",
      graft.queries.EngineQueries.d40_bloom_decontaminate(spark, dir))

    dump("d41 — contiguous global index (two-phase offsets)",
      "ROW_NUMBER semantics with NO single-partition stage: one range exchange orders partitions, a per-partition counter assigns local positions, and the tiny offset table (≤ numPartitions rows) broadcasts back. Look for rangepartitioning + BroadcastHashJoin and the absence of any Window/SinglePartition.",
      graft.queries.EngineQueries.d41_global_index(spark, dir))

    dump("t19 — integer-exact BM25 retrieval",
      "The tf side filters to the query terms BEFORE aggregation (the corpus shuffle carries query-term hits only); per-term df is a 6-row broadcast; the scalar corpus totals ride a BroadcastNestedLoopJoin of ONE row; top-k is TakeOrderedAndProject, never a global sort.",
      graft.queries.EngineQueries.t19_bm25_topk(spark, dir))

    dump("unified kill-floor serve — postings under revision masks",
      "The floor relation (MAX kill_below per id — the erase ledger plus currently-masked recrawl floors, id-sized by construction) rides ONE BroadcastExchange into a LeftAnti BroadcastHashJoin whose extra range term (rev < floor) stays inside the hash join — the index chain is scanned once and never exchanged for a maintenance event. The same mask shape serves positions, the LSH relations, and any rider member (w39's vector codes).",
      {
        import org.apache.spark.sql.functions._
        import graft.streaming.UnifiedIndex
        val cat = new graft.sources.TableCatalog(spark,
          java.nio.file.Files.createTempDirectory("graft-plans-uni")
            .toFile.getAbsolutePath + "/cat")
        val docs = graft.Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        UnifiedIndex.commitBatch(cat, docs, 0L)
        UnifiedIndex.commitBatch(cat,
          docs.filter(col("doc_id") % 10 === 4)
            .withColumn("text", concat(lit("merge window "), col("text"))),
          1L, replace = true)
        UnifiedIndex.delete(cat,
          docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")), 2L)
        UnifiedIndex.postingsLive(cat)._1
      })

    dump("q44 — correlated LATERAL top-n",
      "The LATERAL subquery with ORDER BY + LIMIT decorrelates to a ranked window join — Catalyst plans one join plus a per-nation rank filter, not a per-row subquery execution.",
      graft.queries.EngineQueries.q44_lateral_topn(spark, dir))

    dump("d42 — incremental view refresh (final merge)",
      "The visible plan is the last refresh: a union of group-cardinality partial states re-aggregated once. Batch aggregates collapse by map-side combine; no input batch is rescanned by later refreshes.",
      graft.queries.EngineQueries.d42_incremental_view(spark, dir))

    dump("d44 — merge-on-read resolve",
      "The MoR read: latest-per-key window over the DELTAS ONLY (small between compactions), then an anti join whose build side is the delta key set — the base is scanned once and never shuffled. Write cost was O(batch); this is where the read pays it back, bounded by delta volume until compact() folds the stack.",
      graft.queries.EngineQueries.d44_mor_cdc(spark, dir))

    dump("q46 — bucketed co-located join",
      "Both fact tables written bucketBy(8, orderkey): the equi-join reads co-located buckets and plans with NO Exchange on either side (BucketedJoinSpec asserts it with broadcast disabled) — the repeated-join shuffle is paid once at write time. At this sf AQE may still broadcast; the bucket layout claim is the spec's.",
      graft.queries.EngineQueries.q46_bucketed_join(spark, dir))

    dump("d45 — incremental distinct (HLL state)",
      "The non-algebraic aggregate made mergeable: view state carries one HLL sketch per group; each batch folds in via hll_union_agg over group-cardinality rows. The visible plan is the final merge plus the exact-count audit join.",
      graft.queries.EngineQueries.d45_incremental_distinct(spark, dir))

    dump("d43 — BPE encode path",
      "The Zipf-bounded vocab rides ONE BroadcastExchange into a BroadcastHashJoin over the exploded corpus — the corpus never shuffles for the join (no SortMergeJoin anywhere); per-doc subword counts aggregate with map-side partials. The training loop happens before this plan exists and is corpus-independent.",
      graft.queries.PlatformQueries.d43_bpe_tokenize(spark, dir))

    dump("s18 — filter-aware IVF-PQ probing",
      "The adaptive machinery (per-cell survivor counts, cum-sum window along the probe order, depth join) runs entirely on index/query-sized relations; the corpus-side work is unchanged from s14 — encoded rows join the broadcast ADC tables, and the rank window is the only corpus-sized exchange. Each query's probe set is exactly deep enough for >= k predicate survivors.",
      graft.queries.PlatformQueries.s18_filtered_ivfpq(spark, dir))

    dump("t22 — Count-Min sketch build",
      "ONE aggregation over the ×depth-exploded corpus: map-side partial HashAggregate compresses every partition to ≤ depth×width cells BEFORE the exchange, so the reduce moves sketch-sized state, never corpus-sized (cm100 smoke: 5.8 MB shuffled vs 573 MB for the exact groupBy at 100M tokens). No join, no window anywhere in the build.",
      graft.operators.CountMin.build(
        graft.Tables(spark, dir, "documents").select(
          org.apache.spark.sql.functions.explode(
            graft.functions.TextFunctions.tokens(
              org.apache.spark.sql.functions.col("text"))).as("word")),
        "word", 4, 2048))

    dump("t23 — BM25 served from the stored inverted index",
      "Query-time plan reads ONLY the persisted postings/doclen parquet (no documents scan anywhere — PlanSpec-guarded): tf filters postings to the query terms at the scan, df/totals are tiny broadcast aggregates, and top-k is TakeOrderedAndProject.",
      // the query builds its index eagerly; the returned DF is the
      // serve plan over the stored relations
      graft.queries.EngineQueries.t23_bm25_index_serve(spark, dir))

    dump("d49 — edit-distance join (symmetric deletion)",
      "Both sides explode to their |s|+1 deletion variants (string-length-linear), candidates equi-join on the variant — a plain hash join Catalyst sizes — and the codegen'd `levenshtein` verifies only deduped candidate pairs. No quadratic stage at any size.",
      graft.queries.CurationQueries.d49_fuzzy_name_match(spark, dir))

    dump("q49 — BFS fixpoint, one frontier round",
      "The Reachability iteration body (shown pre-checkpoint): frontier joins the checkpointed edge relation on the node key (one hash exchange), dedups multi-path arrivals, then anti-joins the visited set — both sides frontier-sized; the edge relation is scanned, never rebuilt. Rounds repeat until the frontier empties (the fixpoint), each cut by localCheckpoint so round N never re-executes rounds 1..N-1.",
      {
        import org.apache.spark.sql.functions._
        val edges = spark.range(999)
          .select(col("id").as("__src"), ((col("id") * 7 + 3) % 64).as("__dst"))
          .localCheckpoint()
        val visited = spark.range(3)
          .select(col("id").as("seed"), col("id").as("node"), lit(0L).as("depth"))
          .localCheckpoint()
        visited.join(edges, visited("node") === edges("__src"))
          .select(visited("seed"), edges("__dst").as("node"))
          .distinct()
          .join(visited, Seq("seed", "node"), "left_anti")
      })

    dump("s23 — hybrid RRF served from both persisted indexes",
      "The fused query's plan reads ONLY stored relations: postings/doclen parquet for the lexical list, the IVF-PQ code store for the semantic list (plus the one bounded embeddings read carrying the raw QUERY vector). No documents scan anywhere — corpus text and corpus vectors were each read exactly once, at index build. Per-query cost is posting-lists + probed cells; the fusion itself is a tiny full-outer join of two 50-row lists.",
      graft.queries.SemanticQueries.s23_hybrid_index_serve(spark, dir))

    dump("s24 — IVF-PQ with the exact refine stage",
      "Stage 1 (ADC over probed cells) and stage 2 (exact cosine over the 50-candidate shortlist) in one plan: the ADC distance tables, the shortlist, and the query vectors each ride a BroadcastExchange; the raw-vector corpus is scanned in place for the refine join — never hash-exchanged — so the expensive double scoring touches |queries|x50 rows while the corpus cost stays one scan. The only shuffles are the two per-query rank windows.",
      graft.queries.SemanticQueries.s24_ivfpq_refined(spark, dir))

    dump("t35 — bigram-LM quality scoring",
      "Model deployment as a plan, like t16 but three-relation: the bigram/context/unigram count relations (vocabulary-bounded) each ride a BroadcastExchange into ONE exploded corpus scan; the 1-row total rides a BroadcastNestedLoopJoin; the per-document aggregate partials map-side (a document's tokens never leave their partition before combining), so the only full shuffle carries one row per document. Training (not shown) is one corpus pass: a single (w1,w2) hash aggregate that the other model relations re-aggregate model-sized.",
      graft.queries.DataPipelineQueries.t35_lm_quality(spark, dir))

    val pw = new PrintWriter("PLANS.md", "UTF-8") // the checkout root: forked runs start there
    pw.write(out.toString)
    pw.close()
    println("wrote PLANS.md")
    spark.stop()
  }
}
