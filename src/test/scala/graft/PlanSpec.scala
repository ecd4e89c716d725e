package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards (the 100 TB contract): filters reach the
  * parquet scan, small sides broadcast, the CDC merge never exchanges the
  * target, hot paths stay inside whole-stage codegen. These assertions
  * catch structural performance regressions that row-count tests cannot.
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  def executedPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan
  }

  def planString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Pre-execution plan: selective queries can AQE-collapse to
    * EmptyRelation after running, hiding the scan node.
    */
  def initialPlanString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate stack pushes filters into the parquet scan") {
    val plan = initialPlanString(queries.CoreQueries.q11_predicate_stack(spark, dir))
    assert(plan.contains("PushedFilters: [IsNotNull"), plan.take(2000))
    assert(plan.contains("StringContains(p_type,BRASS)"),
      "LIKE filter should be pushed:\n" + plan.take(2000))
    assert(plan.contains("In(p_size"), "IN filter should be pushed:\n" + plan.take(2000))
  }

  test("projection prunes the parquet read schema") {
    val df = Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
    val plan = initialPlanString(df)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      plan.take(2000))
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val df = queries.CoreQueries.q07_join_revenue_by_nation(spark, dir)
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("CDC merge plan: broadcast joins only — the target is never exchanged") {
    import spark.implicits._
    val target = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    val staging = Seq((1L, "v1b", "U"), (2000L, "new", "I")).toDF("id", "v", "Op")
    val merged = operators.CdcMerge(target, staging, Seq("id"))
    val plan = executedPlan(merged)
    val bhj = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("BroadcastHashJoin") => p
    }
    val shuffles = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("ShuffleExchange") => p
    }
    assert(bhj.size >= 3, s"expected ≥3 broadcast joins, plan:\n$plan")
    assert(shuffles.isEmpty, s"CDC merge must not shuffle, plan:\n$plan")
  }

  test("window dedup plans one exchange by key then in-partition sort") {
    import spark.implicits._
    val staging = (1L to 100L).map(i => (i % 10, s"v$i", i))
      .toDF("id", "v", "ingestion_seq")
    val plan = planString(operators.CdcDedup.dedup(staging, Seq("id"), gate = false))
    assert(plan.contains("Window"), plan.take(2000))
    assert(plan.contains("WindowGroupLimit"),
      "rn=1 filter should push a group-limit below the window:\n" + plan.take(2000))
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = planString(queries.CoreQueries.q13_topk(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("embedding near-dup join keys are non-constant banded signatures") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val corpus = queries.DataPipelineQueries.dupVecCorpus(spark, dir)
    val planes = queries.DataPipelineQueries.derivedPlanes(spark, dir, 128)
    val pairs = operators.VectorSearch.cosineNearDupPairs(
      corpus, "vec_id", "vec", threshold = 0.9, planes = planes, bands = 16)
    val plan = executedPlan(pairs)
    val joins = collectWithSubqueries(plan) { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, "expected a join in the near-dup plan:\n" + plan)
    val pairJoin = joins.find(_.leftKeys.nonEmpty)
    assert(pairJoin.isDefined,
      "pair join must be an equi-join on band keys (not a cartesian):\n" + plan)
    // a single-bucket degenerate plan would fold the key to a literal
    assert(pairJoin.get.leftKeys.exists(k =>
        !k.isInstanceOf[Literal] && k.references.exists(_.name == "__bkey")),
      s"pair join keys must include the non-constant __bkey, got ${pairJoin.get.leftKeys}")
  }

  test("banded self-joins read signatures from ONE cached relation (both sides)") {
    // self-join sides compute independently (no exchange/stage reuse —
    // measured, CcPlanCheck), so the operators persist the signature
    // relation; this pins that both join sides scan the cache instead
    // of re-running the signature pipeline
    import spark.implicits._
    val docs = (0L until 64L).map(i => (i, s"alpha bravo charlie delta echo ${i % 8}"))
      .toDF("doc_id", "text")
    operators.CacheScope.scoped { implicit cs =>
      val simPlan = planString(operators.TextDedup.simhashPairs(docs, "doc_id", "text"))
      assert("InMemoryTableScan".r.findAllIn(simPlan).length >= 2,
        "both simhash self-join sides must scan the cached signatures:\n" + simPlan.take(3000))
      val corpus = queries.DataPipelineQueries.dupVecCorpus(spark, dir)
      val planes = queries.DataPipelineQueries.derivedPlanes(spark, dir, 128)
      val vecPlan = planString(operators.VectorSearch.cosineNearDupPairs(
        corpus, "vec_id", "vec", threshold = 0.9, planes = planes, bands = 16))
      assert("InMemoryTableScan".r.findAllIn(vecPlan).length >= 2,
        "both banded embedding self-join sides must scan the cached keys:\n" + vecPlan.take(3000))
      assert(cs.trackedCount >= 2, "scope must own the operator caches")
    }
  }

  test("epoch upsampling is a shuffle-free generate over the scan") {
    import spark.implicits._
    val docs = Seq((1L, "wiki"), (2L, "web")).toDF("doc_id", "source")
    val plan = planString(operators.Sampling.epochUpsample(
      docs, "source", Map("wiki" -> 3)))
    assert(!plan.contains("Exchange"),
      "epochUpsample must not shuffle:\n" + plan.take(3000))
    assert(plan.contains("Generate explode"),
      "expansion must be a generator, not a join:\n" + plan.take(3000))
  }

  test("cube query is ONE Expand-fed aggregate, not a union of scans") {
    // pre-execution plan: the executed AQE string prints Final + Initial
    // plans and would double every node count
    val plan = initialPlanString(queries.CurationQueries.q32_cube_grouping(spark, dir))
    assert("Expand ".r.findAllIn(plan).length == 1,
      "cube must plan a single Expand:\n" + plan.take(3000))
    // one aggregate shuffle; the only other exchange is the ORDER BY range
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "cube must aggregate through ONE hash exchange:\n" + plan.take(3000))
    assert("FileScan parquet".r.findAllIn(plan).length == 1,
      "cube must read the fact table once:\n" + plan.take(3000))
  }

  test("collocation mining reads the unigram relation from cache (c_x, c_y, N)") {
    import spark.implicits._
    val docs = (0L until 32L).map(i => (i, "alpha beta gamma delta " + (i % 4)))
      .toDF("doc_id", "text")
    operators.CacheScope.scoped { implicit cs =>
      val plan = planString(operators.Collocations.pmiPairs(
        docs, "text", minCount = 2, liftNum = 1, liftDen = 1))
      assert("InMemoryTableScan".r.findAllIn(plan).length >= 3,
        "c_x join, c_y join and N must all read the cached unigrams:\n" + plan.take(3000))
      assert(!plan.contains("Window"),
        "collocation counting must be pure aggregation:\n" + plan.take(3000))
      assert(cs.trackedCount == 1, "exactly the unigram relation is cached")
    }
  }

  test("MMR greedy steps read the candidate pool and picks from cache") {
    import spark.implicits._
    val vecs = (1L to 12L).map(i => (i, Array.tabulate(4)(d =>
      math.sin(i * 13 + d).toFloat))).toDF("vec_id", "embedding")
    operators.CacheScope.scoped { implicit cs =>
      val k = 3
      val plan = planString(operators.VectorSearch.mmrTopK(
        vecs, vecs.filter($"vec_id" === 1L), "vec_id", "embedding", "vec_id",
        k = k, candidates = 6))
      assert("InMemoryTableScan".r.findAllIn(plan).length >= k,
        "greedy steps must reuse cached candidates/picks, not recompute:\n" + plan.take(3000))
      // r14 shape: no join/aggregate in the greedy loop — the picked
      // row is first() over the score window, redundancy is a running
      // greatest(); the loop must never sort-aggregate or shuffle
      assert(!plan.contains("SortMergeJoin") && !plan.contains("SortAggregate"),
        "greedy loop must stay join/aggregate-free:\n" + plan.take(3000))
      // cand + one pick per step + one surviving pool per non-final step
      assert(cs.trackedCount == 2 * k,
        s"expected ${2 * k} scoped caches, got ${cs.trackedCount}")
    }
  }

  test("stratified sample is a shuffle-free codegen'd scan+filter") {
    // drop the presentation orderBy — the operator itself must not exchange
    val df = operators.Sampling.stratifiedSample(
      Tables(spark, dir, "documents"),
      "doc_id", org.apache.spark.sql.functions.lit(50))
    val plan = planString(df)
    assert(!plan.contains("Exchange"), "sampling must not shuffle:\n" + plan.take(3000))
    assert(plan.contains("*(1)"), // compact form of a WholeStageCodegen stage
      "filter should be codegen'd:\n" + plan.take(3000))
  }

  test("decontamination broadcasts the eval gram set, never the corpus") {
    val plan = planString(queries.DataPipelineQueries.d07_decontaminate(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      "eval grams should broadcast:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "corpus side must not be sort-merge joined:\n" + plan.take(3000))
  }

  test("custom expressions stay inside whole-stage codegen") {
    // parquet-backed input: a local relation would be constant-folded
    import org.apache.spark.sql.functions.{col, transform}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .select(functions.DoubleDot(col("v"), col("v")).as("d"))
    val plan = planString(e)
    // the `*(n)` prefix marks operators inside WholeStageCodegen stage n
    assert(plan.contains("*(1) Project [double_dot"),
      "double_dot must run inside a codegen stage (no fallback):\n" + plan)
    assert(e.collect().forall(_.getDouble(0) > 0.0))
  }

  test("stream-static enrichment broadcasts the dimension (no fact-side join shuffle)") {
    import org.apache.spark.sql.functions.col
    val dim = Tables(spark, dir, "customer")
      .join(Tables(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val plan = planString(streaming.EventWindows.enrichedStats(
      Tables(spark, dir, "events"), dim, "user_id", "c_custkey", "n_name"))
    assert(plan.contains("BroadcastHashJoin"),
      "dimension join must broadcast:\n" + plan)
    assert(!plan.contains("SortMergeJoin"),
      "event stream must not shuffle for the enrichment join:\n" + plan)
  }

  test("shingling tokenizes once per doc and grams compile (no lambda)") {
    // Two past regressions under guard here: (1) the tokenizing `split`
    // must run once per document, never once per gram index (the
    // outer-ref O(tokens²) pitfall — measured 5× on the shingle path);
    // (2) grams must come from the compiled word_grams kernel, not an
    // interpreted ArrayTransform lambda (per-gram lambda invocation +
    // slice allocation was most of the shingle stage).
    val sh = operators.TextDedup.shingles(
      Tables(spark, dir, "documents"), "doc_id", "text", 3)
    val plan = initialPlanString(sh)
    // word-boundary guard: don't count e.g. a regexp-split variant
    val splits = "(?<![A-Za-z_])split\\(".r.findAllIn(plan).length
    assert(splits == 1,
      s"expected exactly one split( in the shingle plan, found $splits:\n" + plan)
    assert(plan.contains("word_grams"),
      "grams must use the compiled word_grams kernel:\n" + plan)
    assert(!plan.contains("lambdafunction"),
      "no interpreted lambda may remain on the shingle path:\n" + plan)
  }

  test("bucket filter prunes partitions at the store scan (not post-read)") {
    // a bucket `isin` over the hive-partitioned __bucket column must
    // become a PartitionFilter, so no file outside the set is read. This
    // file-source scan still lists every bucket directory first; the
    // store's own reads and merges avoid that by planning their scans
    // from the store's listing of the live buckets they read
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("planspec_bucket").toString
    val store = new sources.BucketedTableStore(spark, s"$root/t", Seq("k"), numBuckets = 16)
    import spark.implicits._
    store.initialize((1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v"))
    // the hive-partitioned layout the store writes, filtered with isin
    val pruned = spark.read.parquet(s"$root/t")
      .filter(col(sources.BucketedTableStore.BucketCol)
        .isin(Integer.valueOf(3), Integer.valueOf(7)))
    val plan = initialPlanString(pruned)
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("__bucket"),
      "bucket isin must prune partitions:\n" + plan.take(3000))
  }

  test("range join plans as an equi-join on the bucket key, not a nested loop") {
    // the whole point of RangeJoin.bucketed: a keyless time-band join
    // must NOT fall back to BroadcastNestedLoopJoin/CartesianProduct
    val plan = planString(queries.CurationQueries.q21_range_join(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "band join must not plan as an all-pairs join:\n" + plan.take(3000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      "expected an equi-join on __bucket:\n" + plan.take(3000))
  }

  test("filtered ANN pushes the metadata predicate into the corpus scan") {
    // s07's contract: the label filter is a PRE-filter at the parquet
    // scan (pushdown-able equality), never a post-filter on scored rows
    val plan = initialPlanString(queries.CurationQueries.s07_ann_filtered(spark, dir))
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,1)]") ||
      plan.contains("EqualTo(label,1)"),
      "label predicate must reach the scan:\n" + plan.take(3000))
  }

  test("containment candidates join on the hashed shingle key, never the raw string") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the d16 exact join's scale killer was an equi-join keyed on the raw
    // shingle STRING over the full inverted index; the prefix path must key
    // every join on the 8-byte xxhash64 `skey` (or doc id) instead
    val sh = operators.TextDedup.shingles(
      queries.DataPipelineQueries.dupDocCorpus(spark, dir), "doc_id", "text", 3)
    val cands = operators.TextDedup.containmentCandidates(sh, 0.9)
    val plan = executedPlan(cands)
    val joins = collectWithSubqueries(plan) { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, "expected joins in the candidate plan:\n" + plan)
    val keys = joins.flatMap(j => j.leftKeys ++ j.rightKeys)
    assert(!keys.exists {
        case a: AttributeReference => a.name == "shingle"
        case _ => false
      }, s"no candidate join may key on the raw shingle string, got keys $keys")
    assert(keys.exists(k => k.references.exists(_.name == "skey") ||
        k.toString.toLowerCase.contains("xxhash64")),
      s"expected the hashed shingle key in a join, got keys $keys")
  }

  test("LSH verification gate controls the broadcast: closed → shuffle, open → broadcast") {
    // ScaleSmoke exercises the fallback's RESULTS at 720k candidates; this
    // pins the PLAN. Size-based auto-broadcast is disabled so the only
    // broadcast source left is the gate's own hint: with the gate forced
    // closed no verification join may broadcast, with it open (tiny
    // candidate set at sf0.001) the hint must take effect.
    val corpus = queries.DataPipelineQueries.dupDocCorpus(spark, dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val closed = planString(operators.TextDedup.minhashLshPairs(
        corpus, "doc_id", "text", broadcastCandidateLimit = 0L))
      assert(!closed.contains("BroadcastHashJoin"),
        "forced-closed gate must not broadcast any verification side:\n" + closed.take(3000))
      assert(closed.contains("SortMergeJoin") || closed.contains("ShuffledHashJoin"),
        "verification must run as shuffle joins under the closed gate:\n" + closed.take(3000))
      val open = planString(operators.TextDedup.minhashLshPairs(
        corpus, "doc_id", "text"))
      assert(open.contains("BroadcastHashJoin"),
        "open gate must broadcast the candidate set via the hint:\n" + open.take(3000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("fingerprint df-cap suppression is a broadcast anti-join (index never shuffles for it)") {
    val corpus = queries.DataPipelineQueries.dupDocCorpus(spark, dir)
    val plan = planString(operators.TextDedup.fingerprintPairs(
      corpus, "doc_id", "text", maxDf = 64))
    // the hot set is ≤ total_fps/maxDf ids: it must ship as a broadcast
    // LeftAnti, not force a shuffle of the fingerprint relation
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "hot-fingerprint suppression must broadcast:\n" + plan.take(3000))
  }

  test("LSH index lookup: query side always broadcasts; verification follows the gate") {
    val corpus = queries.DataPipelineQueries.dupDocCorpus(spark, dir)
    val idx = operators.TextDedup.lshIndexRelations(corpus, "doc_id", "text")
    val q = corpus.limit(50)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val open = planString(operators.TextDedup.lshIndexLookup(q, "doc_id", "text",
        idx("bands"), idx("shingles"), idx("sizes")))
      assert(open.contains("BroadcastHashJoin"),
        "query band keys must broadcast into the index scan:\n" + open.take(3000))
      assert(!open.contains("SortMergeJoin"),
        "open gate: the index must never shuffle for a lookup:\n" + open.take(3000))
      val closed = planString(operators.TextDedup.lshIndexLookup(q, "doc_id", "text",
        idx("bands"), idx("shingles"), idx("sizes"), broadcastCandidateLimit = 0L))
      // the band-key join still broadcasts (explicit query-side hint);
      // the candidate/verification joins degrade to shuffles
      assert(closed.contains("SortMergeJoin") || closed.contains("ShuffledHashJoin"),
        "closed gate: verification must fall back to shuffle joins:\n" + closed.take(3000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("postings live view: tombstone mask broadcasts; serve plan never tokenizes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(200)
    val rels = operators.CacheScope.scoped { implicit cs =>
      val r = operators.InvertedIndex.postingsRelations(corpus, "doc_id", "text", 0L)
      r.map { case (k, v) => k -> v.localCheckpoint() }
    }
    val tomb = Seq((3L, 1L), (7L, 2L)).toDF("doc_id", "kill_below")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planString(
        operators.InvertedIndex.liveView(rels("postings"), tomb))
      // a replace/delete ships ids, never postings rows: the mask must
      // be a broadcast LeftAnti even with auto-broadcast off — the
      // corpus-sized index is scanned, never shuffled, for maintenance
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        "tombstone mask must broadcast:\n" + plan.take(3000))
      assert(!plan.contains("SortMergeJoin"),
        "the index must never shuffle for its tombstone mask:\n" + plan.take(3000))
      // serving is index-only: stored relations feed scoring directly,
      // so the serve plan contains no tokenizer (Generate/explode) —
      // raw document text is never touched at query time
      assert(!plan.contains("Generate"),
        "serve path must not re-tokenize:\n" + plan.take(3000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("line dedup reassembles inside the aggregate (no window, no row_number)") {
    import spark.implicits._
    val corpus = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val plan = planString(operators.TextDedup.lineDedup(corpus, "doc_id", "text"))
    // reassembly is array_sort over collected (pos, line) structs inside
    // the per-doc aggregate — a Window/row_number shape would add a
    // per-doc sort pass over the exploded corpus
    assert(!plan.contains("Window"),
      "per-doc reassembly must not plan a window:\n" + plan.take(3000))
    assert(plan.contains("partial_collect_list"),
      "expected map-side-partial struct collection:\n" + plan.take(3000))
  }

  test("frequent-ngram mining is one aggregation: no window, no join") {
    val df = operators.Boilerplate.frequentNgrams(
      Tables(spark, dir, "documents"), "doc_id", "text", 3, 5L)
    val plan = planString(df)
    assert(!plan.contains("Window"),
      "gram mining must not plan a window:\n" + plan.take(3000))
    assert(!plan.contains("Join"),
      "gram mining must not plan a join:\n" + plan.take(3000))
    assert(plan.contains("partial_count"),
      "map-side partial aggregation expected:\n" + plan.take(3000))
  }

  test("passage/budget windows are always partitioned (no global window)") {
    import org.apache.spark.sql.catalyst.plans.logical
    // d25's interval merge and d26's running budget shuffle by doc/domain
    // only — a window with an empty partition spec would serialize the
    // whole corpus through one task
    val spans = operators.Boilerplate.passageSpans(
      Tables(spark, dir, "documents"), "doc_id", "text", 3, 5L)
    val canon = operators.Boilerplate.canonicalDupSpans(
      Tables(spark, dir, "documents"), "doc_id", "text", 8)
    val budget = queries.CurationQueries.queries("d26_token_budget")(spark, dir)
    Seq("d25" -> spans, "d26" -> budget, "d60" -> canon).foreach { case (name, df) =>
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: logical.Window => w
      }
      assert(wins.nonEmpty, s"$name: expected window nodes")
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$name: window must be partitioned, got ${w.windowExpressions}"))
    }
    // d26's doc-level window must be sharded by (domain, quality bucket)
    // — a domain-only partition would serialize a whole domain through
    // one task (the histogram prefilter's whole point)
    val d26Wins = budget.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }
    assert(d26Wins.exists(_.partitionSpec.size >= 2),
      s"d26: expected a (domain, bucket)-partitioned window, got " +
        d26Wins.map(_.partitionSpec).mkString("; "))
  }

  test("fingerprint containment prefix ranks by rarity and joins on the LONG key") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.StringType
    val df = operators.TextDedup.fingerprintContainmentPrefix(
      queries.DataPipelineQueries.dupDocCorpus(spark, dir), "doc_id", "text")
    val plan = executedPlan(df)
    // the rarity prefix exists (row_number over df order) …
    assert(planString(df).contains("row_number"),
      "expected the rarity-rank window in the prefix plan")
    // … and no join anywhere keys on a string (text/gram) — candidates
    // and verification ride the 8-byte fingerprint LONG or doc ids
    val keys = collectWithSubqueries(plan) { case j: BaseJoinExec => j }
      .flatMap(j => j.leftKeys ++ j.rightKeys)
    assert(keys.nonEmpty)
    assert(!keys.exists {
        case a: AttributeReference => a.dataType == StringType
        case _ => false
      }, s"no fingerprint join may key on a string, got $keys")
  }

  test("lateral top-n decorrelates to a ranked window (no per-outer-row subquery)") {
    val df = queries.CurationQueries.queries("q30_lateral_topn")(spark, dir)
    val plan = planString(df)
    // Catalyst must rewrite the correlated LATERAL + LIMIT into the
    // window/rank shape (one shuffle by the correlation key) — a
    // surviving nested-loop per outer row would re-scan customer 25×
    assert(plan.contains("Window") || plan.contains("WindowGroupLimit"),
      "expected the decorrelated window plan:\n" + plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "lateral must not survive as a nested loop:\n" + plan.take(3000))
  }

  test("centroid aggregate carries vectors whole (no corpus-wide explode)") {
    // VectorSumAgg's contract: the plan has no Generate below the
    // aggregate — the corpus is never multiplied by the dimension count
    val df = operators.VectorSearch.quantizedCentroids(
      Tables(spark, dir, "embeddings"), "label", "embedding")
    val plan = planString(df)
    assert(!plan.contains("Generate"),
      "centroids must aggregate arrays directly, not explode:\n" + plan.take(3000))
    assert(plan.contains("vector_sum"), plan.take(3000))
    assert(plan.contains("partial_vector_sum"),
      "map-side partial aggregation expected:\n" + plan.take(3000))
  }

  test("audio alignment self-join reads fingerprints from ONE cached relation") {
    import spark.implicits._
    val media = (0L until 32L)
      .map(i => (i, "audio", (s"%032d".format(i) * 4).getBytes("UTF-8"), "src"))
      .toDF("media_id", "kind", "content", "source")
      .as[operators.Multimodal.MediaRecord]
    operators.CacheScope.scoped { implicit cs =>
      val plan = planString(operators.Multimodal.audioNearDupPairs(media))
      // both match-join sides + the per-audio window counts scan the
      // persisted df-capped fingerprint relation, never re-fingerprint
      assert("InMemoryTableScan".r.findAllIn(plan).length >= 3,
        "join sides and counts must scan the cached fingerprints:\n" + plan.take(3000))
      assert(cs.trackedCount >= 1, "scope must own the fingerprint cache")
    }
  }

  test("PQ/ADC search broadcasts the query tables and shuffles only for the rank window") {
    // pqTopK: the encoded corpus never moves before scoring — the ADC
    // table rides a broadcast, scoring is a projection inside the BHJ
    // stage, and the ONLY shuffle is the per-query rank window's
    val e = Tables(spark, dir, "embeddings")
    val planes = queries.DataPipelineQueries.derivedPlanes(spark, dir, 8)
    val codebooks = (0 until 4).map(s => planes.map(_.slice(s * 16, s * 16 + 16)))
    val df = operators.VectorSearch.pqTopK(
      e, e.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", "vec_id", codebooks, k = 10)
    val plan = executedPlan(df)
    val bcast = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("BroadcastExchange") => p
    }
    val shuffles = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("ShuffleExchange") => p
    }
    assert(bcast.nonEmpty, s"ADC table must broadcast:\n${plan.toString.take(3000)}")
    assert(shuffles.size <= 1,
      s"only the rank window may shuffle:\n${plan.toString.take(3000)}")
  }

  test("k-means assignment is a zero-shuffle projection over the cached corpus") {
    // quantizedKMeans' returned frame: centroids are CONSTANT literals
    // baked into the argmin expression, so labeling the corpus is a
    // pure per-row projection — no join against a centroid relation,
    // no shuffle, and the quantized corpus comes from the cache the
    // iteration loop already materialized
    val df = operators.VectorSearch.quantizedKMeans(
      Tables(spark, dir, "embeddings"), "vec_id", "embedding", k = 4, iters = 2)
    val plan = planString(df)
    assert(!plan.contains("Exchange"),
      "assignment must not shuffle:\n" + plan.take(3000))
    assert(!plan.contains("Join"),
      "centroids must be literals, not a joined relation:\n" + plan.take(3000))
    assert(plan.contains("InMemoryTableScan"),
      "assignment must reuse the cached quantized corpus:\n" + plan.take(3000))
  }

  test("IVF-PQ search broadcasts the probe/ADC tables; only the rank window shuffles") {
    val df = queries.SemanticQueries.s14_ivf_pq(spark, dir)
    val plan = executedPlan(df)
    val bcast = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("BroadcastExchange") => p
    }
    val shuffles = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("ShuffleExchange") => p
    }
    assert(bcast.nonEmpty, s"query tables must broadcast:\n${plan.toString.take(3000)}")
    assert(shuffles.size <= 1,
      s"only the rank window may shuffle:\n${plan.toString.take(3000)}")
  }

  test("residual IVF-PQ keeps s14's plan contract: broadcast + at most one shuffle") {
    val df = queries.SemanticQueries.s16_ivf_pq_residual(spark, dir)
    val plan = executedPlan(df)
    val bcast = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("BroadcastExchange") => p
    }
    val shuffles = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("ShuffleExchange") => p
    }
    assert(bcast.nonEmpty, s"residual ADC tables must broadcast:\n${plan.toString.take(3000)}")
    assert(shuffles.size <= 1,
      s"only the rank window may shuffle:\n${plan.toString.take(3000)}")
  }

  test("classifier inference broadcasts the vocabulary (model rides a broadcast)") {
    val df = queries.AnalyticsQueries.t16_classifier_score(spark, dir)
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"),
      "vocab join must broadcast:\n" + plan.take(3000))
  }

  test("weighted sample plans a partitioned rank window with group-limit pushdown") {
    val df = queries.AnalyticsQueries.d35_weighted_sample(spark, dir)
    val plan = planString(df)
    assert(plan.contains("WindowGroupLimit"),
      "per-stratum top-k must push the limit below the window:\n" + plan.take(3000))
  }

  test("column profile: no multi-distinct Expand; NDVs are hash aggregates") {
    // r14 optimization: the ONE-aggregate shape (multi-distinct Expand)
    // was forced down to SortAggregate by the string min/max buffers —
    // a full sort of 7x the table (measured 4.4 s at sf0.1). The
    // profile now runs each exact NDV as its own single-distinct
    // HashAggregate over a column-pruned scan (columnar I/O unchanged)
    // and the singleton stats rows meet in broadcast cross joins:
    // no Expand, no sort of the fact table, 0.75 s at sf0.1.
    val df = queries.AnalyticsQueries.v16_column_profile(spark, dir)
    val plan = initialPlanString(df)
    assert(!plan.contains("Expand"),
      "NDVs must not ride a multi-distinct Expand (it sort-aggregates " +
        "7x the table because of the string min/max buffers):\n" + plan.take(3000))
    assert(plan.contains("HashAggregate"),
      "per-column NDVs should be hash aggregates:\n" + plan.take(3000))
    // the stats rows are singletons: their joins must all be broadcasts
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "singleton stat rows must meet in broadcast joins:\n" + plan.take(3000))
  }

  test("hive-partitioned read prunes directories (PartitionFilters, not post-read)") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-partprune")
      .toFile.getAbsolutePath + "/docs"
    Tables(spark, dir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(tmp)
    val df = spark.read.parquet(tmp).filter(col("lang") === "en")
    val plan = initialPlanString(df)
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("isnotnull(lang") || plan.contains("(lang"),
      "lang predicate must prune partitions:\n" + plan.take(2000))
    // the predicate must NOT survive as a post-scan Filter on lang
    assert(!plan.contains("Filter (lang"),
      "partition predicate leaked past the scan:\n" + plan.take(2000))
  }

  test("BPE encode path broadcasts the vocab (corpus never shuffles for the join)") {
    val df = queries.PlatformQueries.d43_bpe_tokenize(spark, dir)
    val plan = executedPlan(df)
    val bcast = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("BroadcastExchange") => p
    }
    assert(bcast.nonEmpty,
      s"the Zipf-bounded vocab must ride a broadcast:\n${plan.toString.take(3000)}")
    // the corpus side must reach the vocab join without an exchange:
    // no SortMergeJoin anywhere in the encode path
    assert(!plan.toString.contains("SortMergeJoin"),
      s"corpus shuffled for the vocab join:\n${plan.toString.take(3000)}")
  }

  test("BPE sequence path keeps d43's contract: broadcast vocab, no corpus shuffle for the join") {
    val df = queries.PlatformQueries.t21_bpe_sequences(spark, dir)
    val plan = executedPlan(df)
    assert(collectWithSubqueries(plan) {
      case p if p.nodeName.contains("BroadcastExchange") => p
    }.nonEmpty, s"vocab must broadcast:\n${plan.toString.take(3000)}")
    assert(!plan.toString.contains("SortMergeJoin"),
      s"corpus shuffled for the vocab join:\n${plan.toString.take(3000)}")
  }

  test("Count-Min build is one aggregation; probes broadcast the sketch") {
    val toks = org.apache.spark.sql.functions.explode(
      graft.functions.TextFunctions.tokens(
        org.apache.spark.sql.functions.col("text")))
    val docs = Tables(spark, dir, "documents").select(toks.as("word"))
    val sk = graft.operators.CountMin.build(docs, "word", 4, 2048)
    val buildPlan = planString(sk)
    // exactly one aggregation pair (partial + final) over the exploded
    // corpus: any join or window here would break the map-side-combine
    // contract that keeps the reduce sketch-sized
    assert(!buildPlan.contains("Join") && !buildPlan.contains("Window"),
      buildPlan.take(2000))
    val probes = docs.distinct()
    val est = graft.operators.CountMin.estimate(sk, probes, "word", 4, 2048)
    assert(planString(est).contains("BroadcastHashJoin"),
      "sketch side must broadcast for probing")
  }

  test("served BM25 never scans raw documents (index relations only)") {
    val df = queries.EngineQueries.t23_bm25_index_serve(spark, dir)
    val plan = planString(df)
    assert(!plan.contains("documents.parquet"),
      "query-time plan read the raw corpus — the index is supposed to serve:\n" +
        plan.take(2000))
    assert(plan.contains("parquet"), "serve must read the stored index")
  }

  test("phrase search serves from the stored positional index — no raw text") {
    val df = queries.EngineQueries.t30_phrase_index_serve(spark, dir)
    val plan = planString(df)
    assert(!plan.contains("documents.parquet"),
      "phrase serve re-tokenized the raw corpus:\n" + plan.take(2000))
    assert(plan.contains("parquet"), "serve must read the stored positions")
  }

  test("proximity serves from the stored positional index — no raw text") {
    val df = queries.EngineQueries.t31_proximity_index_serve(spark, dir)
    val plan = planString(df)
    assert(!plan.contains("documents.parquet"),
      "proximity serve re-tokenized the raw corpus:\n" + plan.take(2000))
    assert(plan.contains("parquet"), "serve must read the stored positions")
  }

  test("append-member chain read: one multi-directory scan, no shuffle between segments") {
    import graft.sources.TableCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-chainplan")
      .toFile.getAbsolutePath + "/cat"
    val cat = new TableCatalog(spark, root)
    val docs = Tables(spark, dir, "documents").select(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"))
    import org.apache.spark.sql.functions.{col => c}
    (0 until 3).foreach { i =>
      cat.commitAllAppend(Map.empty,
        Map("seg" -> docs.filter(c("doc_id") % 3 === i)), i.toLong)
    }
    val read = cat.read("seg").filter(c("doc_id") % 7 === 0)
    val plan = initialPlanString(read)
    // the chain must read as ONE FileScan over an InMemoryFileIndex of
    // all three segment directories — a per-segment union (3 scans) is
    // tolerable, but any Exchange/resolve between segments would break
    // the segments-are-disjoint-appends contract
    assert(!plan.contains("Exchange"),
      "a chain read shuffled between segments:\n" + plan.take(2000))
    assert(plan.contains("InMemoryFileIndex(3 paths)")
        || "FileScan".r.findAllIn(plan).size <= 3,
      "chain read shape unexpected:\n" + plan.take(2000))
  }

  test("unified phrase serve: stored positions only, tombstones broadcast-masked") {
    val df = queries.EngineQueries.w35_unified_phrase(spark, dir)
    val plan = planString(df)
    // serving reads the unified index's sixth relation, never the raw
    // corpus; the forget mask is a broadcast anti-join on the id-sized
    // tombstone relation — the index is scanned, never shuffled, for
    // a maintenance event
    assert(!plan.contains("documents.parquet"),
      "unified phrase serve re-tokenized the raw corpus:\n" + plan.take(2000))
    assert("BroadcastHashJoin [^\\n]*LeftAnti".r.findFirstIn(plan).nonEmpty,
      "tombstone mask must ride a broadcast anti-join:\n" + plan.take(2000))
    assert(!"SortMergeJoin [^\\n]*LeftAnti".r.findFirstIn(plan).nonEmpty,
      "the index was SHUFFLED for a maintenance mask:\n" + plan.take(2000))
  }

  test("unified recrawl serve: kill-floor mask is a broadcast anti-join, index never shuffled") {
    // inline catalog with LIVE floors (w37 itself ends compacted, and
    // an empty tombstone side lets AQE erase the join — correct, but
    // then there is no mask to assert on): ingest + recrawl + forget,
    // no fold, so both tombstone classes are present in the mask
    import graft.streaming.UnifiedIndex
    import org.apache.spark.sql.functions.{col => c, concat, lit}
    val root = java.nio.file.Files.createTempDirectory("graft-planrecrawl")
      .toFile.getAbsolutePath + "/cat"
    val cat = new graft.sources.TableCatalog(spark, root)
    val docs = Tables(spark, dir, "documents").select(c("doc_id"), c("text"))
    UnifiedIndex.commitBatch(cat, docs, 0L)
    UnifiedIndex.commitBatch(cat,
      docs.filter(c("doc_id") % 10 === 4)
        .withColumn("text", concat(lit("merge window "), c("text"))),
      1L, replace = true)
    UnifiedIndex.delete(cat, docs.filter(c("doc_id") % 7 === 0)
      .select(c("doc_id")), 2L)
    val (tf, _) = UnifiedIndex.postingsLive(cat)
    val plan = planString(tf)
    // the revision mask (rev < MAX kill_below per id) must stay an
    // id-sized broadcast anti-join — the range term must not demote
    // it to a shuffled join or a nested-loop over the index
    assert(!plan.contains("documents.parquet"),
      "recrawl serve re-tokenized the raw corpus:\n" + plan.take(2000))
    assert("BroadcastHashJoin [^\\n]*LeftAnti[^\\n]*rev".r.findFirstIn(plan).nonEmpty,
      "kill-floor mask must ride a broadcast anti-join:\n" + plan.take(2000))
    assert(!"SortMergeJoin [^\\n]*LeftAnti".r.findFirstIn(plan).nonEmpty
        && !plan.contains("BroadcastNestedLoopJoin"),
      "the index was shuffled or nested-looped for the mask:\n" + plan.take(2000))
  }

  test("multimodal fusion serves from ONE catalog's live members — corpus text never rescanned") {
    val df = queries.SemanticQueries.w39_multimodal_admission(spark, dir)
    val plan = planString(df)
    // both fused lists come from the unified catalog's stored members
    // (postings/doclen + codes) under kill-floor masks: the raw text
    // is never re-tokenized at serve time, and embeddings appears
    // solely as the 1-row query-vector scan (inherently raw; bounded).
    assert(!plan.contains("documents.parquet"),
      "fused serve re-scanned the raw corpus text:\n" + plan.take(2000))
    val embScans = "embeddings\\.parquet".r.findAllIn(plan).size
    assert(embScans <= 2, // query vector + (pre-AQE) its probe twin
      s"fused serve re-read corpus vectors ($embScans scans):\n" + plan.take(2000))
  }

  test("hybrid fusion serves from both indexes — neither corpus rescanned") {
    val df = queries.SemanticQueries.s23_hybrid_index_serve(spark, dir)
    val plan = planString(df)
    // the lexical list must come from the postings relations, not a
    // re-tokenized corpus; the semantic list from the stored codes,
    // not re-encoded raw vectors — the fused query's plan therefore
    // contains NO documents scan and exactly the one embeddings read
    // that carries the raw QUERY vector (inherently raw; bounded)
    assert(!plan.contains("documents.parquet"),
      "fused plan re-scanned the raw corpus text:\n" + plan.take(2000))
    val embScans = "embeddings\\.parquet".r.findAllIn(plan).size
    assert(embScans <= 2, // query vector + (pre-AQE) its probe twin
      s"fused plan re-read corpus vectors ($embScans embeddings scans):\n" +
        plan.take(2000))
  }

  test("filter-aware IVF-PQ keeps corpus-side work to the ADC broadcast join") {
    val df = queries.PlatformQueries.s18_filtered_ivfpq(spark, dir)
    val plan = executedPlan(df)
    val bcast = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("BroadcastExchange") => p
    }
    assert(bcast.nonEmpty,
      s"probe/ADC tables must broadcast:\n${plan.toString.take(3000)}")
    // the adaptive-depth machinery (survivor agg, cum-sum window,
    // depth join) shuffles only query×cells-sized relations; together
    // with the rank window the plan stays within a small fixed budget
    // — a corpus-sized extra exchange would blow it
    val shuffles = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("ShuffleExchange") => p
    }
    assert(shuffles.size <= 5,
      s"unexpected exchanges (${shuffles.size}):\n${plan.toString.take(3000)}")
  }

  test("signed view fold is pure aggregation — no join, batch-sized shuffles only") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val state = Seq(("a", 5L, 100L), ("b", 2L, 30L)).toDF("g", "n", "s")
    val delta = (0 until 1000).map(i => (s"g${i % 3}", i.toLong, if (i % 4 == 0) -1 else 1))
      .toDF("g", "v", "__sign")
    val folded = operators.IncrementalView.mergeSigned(
      Some(state), delta, "__sign", Seq("g"), "n", Seq("s" -> col("v")))
    val plan = executedPlan(folded)
    assert(!plan.toString.contains("Join"),
      s"signed fold must not join:\n${plan.toString.take(2000)}")
    val shuffles = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("ShuffleExchange") => p
    }
    assert(shuffles.size <= 2, // batch aggregate + state merge, both group-sized
      s"unexpected exchanges (${shuffles.size}):\n${plan.toString.take(2000)}")
  }

  test("z_interleave runs inside whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.IntegerType
    val df = Tables(spark, dir, "orders")
      .select((col("o_custkey") % 65536).cast(IntegerType).as("x"))
      .select(functions.ZInterleave(col("x"), col("x")).as("z"))
    val plan = planString(df)
    assert(plan.contains("z_interleave") && plan.contains("*(1)"),
      "z_interleave must stay in a codegen stage:\n" + plan.take(2000))
  }

  test("binned interval join plans as a hashed equi-join, never a nested loop") {
    val plan = planString(queries.PlatformQueries.q59_interval_join(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "overlap join fell back to a quadratic physical join:\n" + plan.take(2000))
    assert(plan.contains("Join"), "no join at all?\n" + plan.take(2000))
  }

  test("triangle counting is equi-joins only (no cartesian wedge pairing)") {
    val plan = executedPlan(queries.PlatformQueries.q57_triangle_count(spark, dir))
    val quad = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("CartesianProduct") ||
        p.nodeName.contains("BroadcastNestedLoopJoin") => p
    }
    // the single allowed nested loop is the 1-row × 1-row scalar
    // combine of n_triangles with n_wedges — the wedge/closure path
    // itself must stay hashed equi-joins
    assert(quad.size <= 1 &&
      quad.forall(_.nodeName.contains("BroadcastNestedLoopJoin")),
      s"wedge or closure join planned quadratic:\n${plan.toString.take(2000)}")
  }

  test("q61 star join broadcasts both small dimensions (fact never re-shuffles for them)") {
    val plan = executedPlan(queries.PlatformQueries.q61_star_join(spark, dir))
    val bhj = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("BroadcastHashJoin") => p
    }
    assert(bhj.size >= 2,
      s"customer and nation must broadcast, saw ${bhj.size} broadcast joins:\n" +
        plan.toString.take(1500))
  }

  test("q60 actually triggers dynamic partition pruning on the fact scan") {
    val plan = initialPlanString(
      queries.PlatformQueries.q60_dynamic_pruning(spark, dir))
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "fact scan has no runtime partition filter — DPP did not fire:\n" +
        plan.take(2000))
  }

  test("sketch-planned skew join probes via a broadcast of the sketch") {
    import org.apache.spark.sql.functions._
    import graft.operators.{CountMin, SkewJoin}
    val ev = Tables(spark, dir, "events").select(col("user_id"))
    val sketch = CountMin.build(ev, "user_id", 4, 1024)
    val dim = Tables(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"))
    val probe = dim.select(col("user_id"), posexplode(
        CountMin.cellsOf(col("user_id").cast("string"), 4, 1024))
        .as(Seq("row", "cell")))
      .join(broadcast(sketch), Seq("row", "cell"), "left")
    assert(planString(probe).contains("BroadcastHashJoin"),
      "hot-key probe must broadcast the sketch, not shuffle the dimension")
    // and the detector itself finds keys without erroring end-to-end
    val hot = SkewJoin.sketchHotKeys(sketch, dim, "user_id", 1L, 4, 1024, 3)
    assert(hot.nonEmpty)
  }

  test("IVF-PQ refine stage: shortlist and queries broadcast, corpus never shuffled") {
    import org.apache.spark.sql.functions._
    import graft.operators.{CacheScope, VectorSearch}
    import graft.queries.DataPipelineQueries.derivedPlanes
    implicit val cs: CacheScope = CacheScope.processOwned
    val e = Tables(spark, dir, "embeddings")
    val planes = derivedPlanes(spark, dir, 8)
    val cb = (0 until 4).map(sub => VectorSearch.quantizedKMeansModel(
      e.select(col("vec_id"),
        slice(col("embedding"), sub * 16 + 1, 16).as("embedding")),
      "vec_id", "embedding", k = 8, iters = 2))
    val enc = VectorSearch.encodeIvfPq(e, "vec_id", "embedding", planes, cb)
    val plan = planString(VectorSearch.searchIvfPqRefined(enc, e,
      e.filter(col("vec_id") < 3), "vec_id", "vec_id", "embedding",
      planes, cb, k = 5, candidates = 20, nProbe = 2))
    // ADC table, shortlist, and query vectors each ride a broadcast;
    // the raw-vector corpus is scanned for the refine join, never
    // hash-exchanged (the only shuffles are the two per-query rank
    // windows) — the shape that keeps refine viable at corpus scale
    assert(plan.split("BroadcastExchange").length - 1 >= 3,
      "refine must broadcast the ADC table, the shortlist, and the queries:\n" +
        plan.take(3000))
    assert(!plan.contains("Exchange hashpartitioning(id"),
      "the corpus side was shuffled by id — refine must scan it in place:\n" +
        plan.take(3000))
  }

  test("m10 decoded-frame near-dup: sigs cached once, join stays hashed equi") {
    val plan = executedPlan(
      queries.DataPipelineQueries.m10_y4m_neardup(spark, dir))
    val s = plan.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      "same-position join planned quadratic:\n" + s.take(2000))
    // the persisted frame-sig relation feeds both self-join sides and
    // the per-video counts — three cached reads, zero re-decodes
    val cached = collectWithSubqueries(plan) {
      case p if p.nodeName.contains("InMemoryTableScan") => p
    }
    assert(cached.size >= 2,
      s"frame sigs must be persisted and reused, saw ${cached.size} cached scans:\n" +
        s.take(2000))
  }
}
