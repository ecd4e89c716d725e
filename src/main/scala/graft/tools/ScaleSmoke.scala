package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale smoke, two parts (select with arg `cdc` / `lsh` / default both):
  *
  * - CDC: initialize a bucketed store from the sf0.1 lineitem (~600k
  *   rows, composite key), then merge a ~1.2M-row CDC batch (2× updates
  *   on every row + deletes + inserts) and a small 10k-row batch.
  * - LSH: run d03 (MinHash+LSH text dedup) and d05 (banded embedding
  *   near-dup) over synthetic clustered corpora at 5k and 50k
  *   docs/vectors — wall-time growth should be near-linear (fixed
  *   cluster size ⇒ candidate volume ∝ n); a candidate explosion shows
  *   up here long before sf-gated correctness would catch it. The 50k
  *   doc corpus plants a 1000-member duplicate cluster (~500k candidate
  *   pairs), driving the verification joins through the over-limit
  *   shuffle fallback.
  *
  * Dev tool: numbers land in COVERAGE.md.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.session()
    val mode = args.headOption.getOrElse("all")
    if (mode == "lsh" || mode == "all") lshSmoke(spark)
    if (mode == "cdc" || mode == "all") cdcSmoke(spark, "/root/testdata/sf0.1")
    if (mode == "curation" || mode == "all") curationSmoke(spark)
    if (mode == "containment" || mode == "all") containmentSmoke(spark)
    if (mode == "cc" || mode == "all") ccSmoke(spark)
    if (mode == "skew" || mode == "all") skewSmoke(spark)
    if (mode == "budget" || mode == "all") budgetSmoke(spark)
    if (mode == "graph" || mode == "all") graphSmoke(spark)
    if (mode == "pq" || mode == "all") pqSmoke(spark)
    if (mode == "all") audioSmoke(spark, Seq(50000L))
    if (mode == "audio") audioSmoke(spark, Seq(50000L, 500000L))
    if (mode == "all") analyticsSmoke(spark, Seq(50000L))
    if (mode == "analytics") analyticsSmoke(spark, Seq(50000L, 500000L))
    if (mode == "all") engineSmoke(spark, Seq(1000000L))
    if (mode == "engine") engineSmoke(spark, Seq(1000000L, 10000000L))
    if (mode == "engine100") engineSmoke(spark, Seq(100000000L)) // opt-in: minutes
    if (mode == "all") morSmoke(spark, 1000000L)
    if (mode == "mor") morSmoke(spark, 10000000L)
    if (mode == "mor100") morSmoke(spark, 100000000L) // opt-in: minutes
    if (mode == "growth") growthSmoke(spark) // 500k tier: slow, opt-in
    if (mode == "all") cmSmoke(spark, 10000000L)
    if (mode == "cm100") cmSmoke(spark, 100000000L) // opt-in
    if (mode == "all") editSmoke(spark, 100000L)
    if (mode == "edit") editSmoke(spark, 1000000L) // opt-in
    if (mode == "all") triSmoke(spark, 1000000L)
    if (mode == "tri") triSmoke(spark, 10000000L) // opt-in
    if (mode == "all") ivjSmoke(spark, 300000L)
    if (mode == "interval") ivjSmoke(spark, 1000000L) // opt-in
    if (mode == "mergeplan") mergePlanSmoke(spark, "/root/testdata/sf0.1")
    // sf1 (6M rows): the table where the CoW-vs-MoR crossing actually
    // shows (at 600k, per-commit fixed cost hides it — r10 verdict);
    // once at the sf0.1 64-bucket layout scaled up, once at a
    // 10x-bucket layout that keeps per-bucket rows at the sf0.1 size
    if (mode == "mergeplan-sf1") {
      mergePlanSmoke(spark, "/tmp/sf1", numBuckets = 64)
      mergePlanSmoke(spark, "/tmp/sf1", numBuckets = 640)
    }
    if (mode == "lshserve") lshServeSmoke(spark, Seq(10000L, 100000L))
    if (mode == "lshserve100") lshServeSmoke(spark, Seq(1000000L)) // opt-in: minutes
    if (mode == "tombcurve") tombCurveSmoke(spark, 100000L)
    if (mode == "fragcurve") fragCurveSmoke(spark, 100000L)
    if (mode == "revcurve") revCurveSmoke(spark, 100000L)
    spark.stop()
  }

  /** Serve-cost-vs-recrawl-churn curve for the REVISIONED unified
    * index (w37): over a 100k-doc corpus, recrawl waves replace
    * cumulative shares of the corpus (each wave ONE six-relation
    * commit with finite kill floors), and at churn c ∈ {0, 0.1, 0.3,
    * 0.5} the masked serves are timed — the 6-term scoring aggregate
    * over postingsLive and a 2-term phrase count over positionsLive.
    * Dead fraction at churn c is c/(1+c) of the per-doc relation
    * (replaced rev-0 rows over original + replacement rows), so the
    * curve prices exactly what the w37 mask pays that a compacted
    * index would not; the final fold + post-fold serve complete the
    * amortization read. Numbers land in COVERAGE.md.
    */
  private def revCurveSmoke(spark: SparkSession, n: Long): Unit = {
    import graft.operators.InvertedIndex
    import graft.streaming.{IndexMaintenance, UnifiedIndex}
    def clustered(m: Long) = {
      val words = (0 until 15).map(j =>
        substring(md5(concat(floor(col("id") / 10).cast("long").cast("string"),
          lit(s"_$j"))), 1, 7))
      spark.range(m).select(col("id").as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }
    val corpus = clustered(n).repartition(32).persist()
    corpus.count()
    val terms = corpus.filter(col("doc_id") === (n - 1))
      .select(explode(split(col("text"), " ")))
      .collect().map(_.getString(0)).take(6)
    def serveOnce(cat: graft.sources.TableCatalog): Long = {
      val (tf, dl) = UnifiedIndex.postingsLive(cat)
      tf.filter(col("tok").isin(terms.toSeq: _*))
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("s"))
        .join(dl, "doc_id")
        .agg(count(lit(1)), sum(expr("s * dl"))).collect()(0).getLong(0)
    }
    def phraseOnce(cat: graft.sources.TableCatalog): Long =
      InvertedIndex.phraseCount(UnifiedIndex.positionsLive(cat),
        Seq(terms(0), terms(1))).count()
    val root = Files.createTempDirectory("revcurve").toString + "/cat"
    val cat = new graft.sources.TableCatalog(spark, root)
    time(s"unified build, $n docs") {
      UnifiedIndex.commitBatch(cat, corpus, 0L)
    }
    // cumulative churn points: wave k recrawls a DISJOINT slice so
    // the total replaced share hits the target fraction
    val waves = Seq(0.0 -> 0L, 0.1 -> 10L, 0.3 -> 20L, 0.5 -> 20L)
    var lo = 0L
    waves.zipWithIndex.foreach { case ((c, pct), k) =>
      if (pct > 0) {
        val hi = lo + n * pct / 100L
        val wave = corpus.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .withColumn("text", concat(lit("re "), col("text")))
        time(f"recrawl wave to churn $c%.1f (${hi - lo} docs)") {
          UnifiedIndex.commitBatch(cat, wave, k.toLong, replace = true)
        }
        lo = hi
      }
      serveOnce(cat); phraseOnce(cat) // warm constants per point
      time(f"scoring serve, churn $c%.1f (dead ${c / (1 + c)}%.2f)") {
        println(s"[scale]   scored docs: ${serveOnce(cat)}")
      }
      time(f"phrase serve,  churn $c%.1f") {
        println(s"[scale]   phrase docs: ${phraseOnce(cat)}")
      }
    }
    time("unified fold (churn 0.5 -> snapshot)") {
      require(IndexMaintenance.compactUnifiedIfNeeded(cat, 999L).nonEmpty,
        "0.33 dead must clear the default threshold")
    }
    time("scoring serve post-fold") {
      println(s"[scale]   scored docs: ${serveOnce(cat)}")
    }
    time("phrase serve post-fold") {
      println(s"[scale]   phrase docs: ${phraseOnce(cat)}")
    }
    corpus.unpersist()
  }

  /** Serve-cost-vs-chain-length curve — the measurement behind
    * [[graft.streaming.IndexMaintenance.DefaultMaxSegments]]. Over a
    * 100k-doc clustered corpus: commit the postings index as N
    * append-member segments (delete-free, so the dead-fraction
    * trigger never applies) and time the 6-term scoring serve at
    * chain lengths 1, 8, 32, 128; then the pure-defrag fold and the
    * post-fold serve. The ceiling's trade: every serve pays the
    * chain's file-listing/open cost, one fold pays a whole-index
    * rewrite once. Numbers land in COVERAGE.md.
    */
  private def fragCurveSmoke(spark: SparkSession, n: Long): Unit = {
    import graft.streaming.{IndexMaintenance, PostingsIndex}
    def clustered(m: Long) = {
      val words = (0 until 15).map(j =>
        substring(md5(concat(floor(col("id") / 10).cast("long").cast("string"),
          lit(s"_$j"))), 1, 7))
      spark.range(m).select(col("id").as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }
    val corpus = clustered(n).repartition(32).persist()
    corpus.count()
    val terms = corpus.filter(col("doc_id") === (n - 1))
      .select(explode(split(col("text"), " ")))
      .collect().map(_.getString(0)).take(6)
    def serveOnce(cat: graft.sources.TableCatalog): Long = {
      val (tf, dl) = PostingsIndex.live(cat)
      tf.filter(col("tok").isin(terms.toSeq: _*))
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("s"))
        .join(dl, "doc_id")
        .agg(count(lit(1)), sum(expr("s * dl"))).collect()(0).getLong(0)
    }
    // SAME full corpus at every point — only the segmentation varies,
    // so the curve isolates fragmentation from index size
    var last: graft.sources.TableCatalog = null
    Seq(1, 32, 128).foreach { segs =>
      val root = Files.createTempDirectory(s"fragcurve$segs").toString + "/cat"
      val cat = new graft.sources.TableCatalog(spark, root)
      val none = corpus.select(col("doc_id")).limit(0)
      time(f"build as $segs%3d segments") {
        (0 until segs).foreach { i =>
          PostingsIndex.commitBatch(cat,
            corpus.filter(pmod(col("doc_id"), lit(segs)) === i), none,
            i.toLong)
        }
      }
      serveOnce(cat) // warm-up constants per catalog
      time(f"postings serve, chain=$segs%3d") {
        println(s"[scale]   scored docs: ${serveOnce(cat)}")
      }
      last = cat
    }
    time("defrag fold (chain=128 -> snapshot)") {
      require(IndexMaintenance.compactPostingsIfNeeded(last, 999L,
        maxSegments = 128).nonEmpty)
    }
    time("postings serve post-fold") {
      println(s"[scale]   scored docs: ${serveOnce(last)}")
    }
    corpus.unpersist()
  }

  /** Serve-cost-vs-tombstone-fraction curve — the measurement behind
    * [[graft.streaming.IndexMaintenance.DefaultThreshold]]. Over a
    * 100k-doc clustered corpus: build each index once, then at dead
    * fractions f ∈ {0, 0.1, 0.2, 0.3, 0.5} time the MASKED serve (LSH:
    * the 400-query d57 lookup; postings: a 6-term scoring aggregate
    * over the live relations), and at the end time the compaction
    * transact plus the post-compaction serve. The threshold trade: the
    * masked serve pays the dead fraction on EVERY lookup, compaction
    * pays one member-relation rewrite once. Numbers land in
    * COVERAGE.md.
    */
  private def tombCurveSmoke(spark: SparkSession, n: Long): Unit = {
    import graft.operators.TextDedup
    import graft.streaming.{IndexMaintenance, PostingsIndex}
    def clustered(m: Long) = {
      val words = (0 until 15).map(j =>
        substring(md5(concat(floor(col("id") / 10).cast("long").cast("string"),
          lit(s"_$j"))), 1, 7))
      spark.range(m).select(col("id").as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }
    val corpus = clustered(n).repartition(32).persist()
    corpus.count()
    val fracs = Seq(0.0, 0.1, 0.2, 0.3, 0.5)
    // ── LSH dedup index ──
    val near = corpus.filter(col("doc_id") % 500 === 0).limit(200)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val queries = near.repartition(8).persist()
    queries.count()
    val lshRoot = Files.createTempDirectory("tombcurve-lsh").toString + "/cat"
    val lshCat = new graft.sources.TableCatalog(spark, lshRoot)
    time(s"lsh index build, $n docs") {
      lshCat.commitAll(TextDedup.lshIndexRelations(corpus, "doc_id", "text"), 0L)
    }
    // warm-up lookup (codegen + file listing): the curve measures the
    // MASK's marginal cost, not first-run constants
    TextDedup.lshIndexLookup(queries, "doc_id", "text", lshCat.read("bands"),
      lshCat.read("shingles"), lshCat.read("sizes")).count()
    fracs.zipWithIndex.foreach { case (f, i) =>
      lshCat.commitAll(Map("tombstones" ->
        corpus.filter(pmod(col("doc_id"), lit(1000)) < (f * 1000).toLong)
          .select(col("doc_id").as("id"))), (i + 1).toLong)
      time(f"lsh masked lookup, dead=$f%.1f") {
        val tomb = broadcast(lshCat.read("tombstones"))
        def live(r: String) = lshCat.read(r).join(tomb, Seq("id"), "left_anti")
        println(s"[scale]   matches: " + TextDedup.lshIndexLookup(
          queries, "doc_id", "text",
          live("bands"), live("shingles"), live("sizes")).count())
      }
    }
    time("lsh compaction transact (dead=0.5)") {
      require(IndexMaintenance.compactLshIfNeeded(lshCat, 99L).nonEmpty)
    }
    time("lsh lookup post-compaction") {
      println(s"[scale]   matches: " + TextDedup.lshIndexLookup(
        queries, "doc_id", "text", lshCat.read("bands"),
        lshCat.read("shingles"), lshCat.read("sizes")).count())
    }
    // ── BM25 postings index ──
    val postRoot = Files.createTempDirectory("tombcurve-post").toString + "/cat"
    val postCat = new graft.sources.TableCatalog(spark, postRoot)
    val none = corpus.limit(0)
    time(s"postings index build, $n docs") {
      PostingsIndex.commitBatch(postCat, corpus, none, 0L)
    }
    // probe terms from the LAST cluster (ids n-10..n-1, pmod 990-999):
    // never tombstoned by any fraction step, so every serve scores the
    // same 10 docs and the timings compare like for like
    val terms = corpus.filter(col("doc_id") === (n - 1))
      .select(explode(split(col("text"), " ")))
      .collect().map(_.getString(0)).take(6)
    def serveOnce(): Long = {
      val (tf, dl) = PostingsIndex.live(postCat)
      tf.filter(col("tok").isin(terms.toSeq: _*))
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("s"))
        .join(dl, "doc_id")
        .agg(count(lit(1)), sum(expr("s * dl"))).collect()(0).getLong(0)
    }
    serveOnce() // warm-up
    fracs.zipWithIndex.foreach { case (f, i) =>
      if (f > 0) PostingsIndex.commitBatch(postCat, none,
        corpus.filter(pmod(col("doc_id"), lit(1000)) < (f * 1000).toLong)
          .select("doc_id"), (i + 1).toLong)
      time(f"postings masked serve, dead=$f%.1f") {
        println(s"[scale]   scored docs: ${serveOnce()}")
      }
    }
    time("postings compaction transact (dead=0.5)") {
      require(IndexMaintenance.compactPostingsIfNeeded(postCat, 99L).nonEmpty)
    }
    time("postings serve post-compaction") {
      println(s"[scale]   scored docs: ${serveOnce()}")
    }
    queries.unpersist(); corpus.unpersist()
  }

  /** Persisted-LSH-index serve growth: a FIXED 400-doc query batch
    * (200 near-dups of the first 10k corpus docs + 200 fresh) looked
    * up against indexes built over n ∈ {10k, 100k} clustered docs
    * (10-member clusters of identical text, so posting lists are
    * bounded at 10 and every near-dup query matches its whole
    * cluster). The lookup's cost model is "scan the index once,
    * broadcast only the batch" — so lookup wall should grow far
    * slower than the 10× index growth, and the build (shingle +
    * band + write, once per corpus) is where the linear cost lives.
    * Numbers land in COVERAGE.md.
    */
  private def lshServeSmoke(spark: SparkSession, ns: Seq[Long]): Unit = {
    import graft.operators.TextDedup
    def clustered(n: Long) = {
      val words = (0 until 15).map(j =>
        substring(md5(concat(floor(col("id") / 10).cast("long").cast("string"),
          lit(s"_$j"))), 1, 7))
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }
    // fixed query batch: 200 single-token perturbations of cluster
    // members (jaccard 12/14 ≈ 0.86 vs every member of the source
    // cluster) + 200 docs of globally unique words (match nothing)
    val near = clustered(10000L).filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(lit("zz"), expr("substring(text, 8)")).as("text"))
    val freshWords = (0 until 15).map(j =>
      substring(md5(concat(col("id").cast("string"), lit(s"_fresh$j"))), 1, 7))
    val fresh = spark.range(200).select((col("id") + 20000000L).as("doc_id"),
      concat_ws(" ", freshWords: _*).as("text"))
    val queries = near.unionAll(fresh).repartition(8).persist()
    println(s"[scale] lshserve query batch: ${queries.count()} docs")
    ns.foreach { n =>
      val corpus = clustered(n).repartition(32).persist()
      corpus.count()
      val root = Files.createTempDirectory("lshserve").toString + "/cat"
      val cat = new graft.sources.TableCatalog(spark, root)
      time(s"index build+commit, $n docs") {
        cat.commitAll(TextDedup.lshIndexRelations(corpus, "doc_id", "text"), 1L)
      }
      time(s"index lookup, 400 queries vs $n-doc index") {
        val m = TextDedup.lshIndexLookup(queries, "doc_id", "text",
          cat.read("bands"), cat.read("shingles"), cat.read("sizes")).count()
        println(s"[scale]   matches: $m")
      }
      corpus.unpersist()
    }
    queries.unpersist()
  }

  /** MergePlanner crossover measurement: a FIXED-size update batch
    * (~9k rows, 1.5% of the table) scattered over T of the store's 64
    * buckets, T ∈ {1, 4, 16, 32, 64}. Times the bucket-pruned
    * broadcast CoW rewrite against the O(batch) MoR delta commit at
    * each T — CoW cost grows with T (it rewrites T/64 of the table),
    * the delta commit stays flat, and the wall-time crossing is the
    * empirical bucketFrac boundary that [[graft.operators.MergePlanner
    * .Thresholds]] encodes. The MoR read-resolve is timed once at the
    * end (the deferred cost a delta route amortizes over compaction).
    * Numbers land in COVERAGE.md.
    */
  private def mergePlanSmoke(spark: SparkSession, dir: String,
      numBuckets: Int = 64): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val nRows = li.count()
    val keys = Seq("l_orderkey", "l_linenumber")
    val root = Files.createTempDirectory("mergeplan").toString
    val store = time(s"init $nRows rows / $numBuckets buckets") {
      graft.sources.BucketedTableStore.create(spark, s"$root/li", keys, li,
        numBuckets = numBuckets)
    }
    val mor = new graft.sources.MorStore(spark, s"$root/mor", keys)
    time(s"mor base commit (same $nRows)") { mor.commitBase(li, 1L) }
    val bucket = pmod(hash(keys.map(col): _*), lit(numBuckets))
    Seq(1, 4, 16, 32, 64).map(t => t * numBuckets / 64).distinct.foreach { t =>
      // fixed-size batch regardless of T (~1.5% of the table): an
      // independent hash keeps 1/T of the rows in T buckets.
      // dropDuplicates: the synthetic lineitem carries a handful of
      // repeated (orderkey, linenumber) keys, and the MoR delta
      // contract rejects same-key rows without a __seq
      val batch = li.withColumn("__b", bucket).filter(col("__b") < t)
        .filter(pmod(hash(keys.map(col) :+ lit(17): _*), lit(t)) === 0)
        .drop("__b").dropDuplicates(keys)
        .withColumn("l_quantity", col("l_quantity") + 1)
        .withColumn("Op", lit("U")).persist()
      val n = batch.count()
      val (_, p) = graft.operators.CdcDedup.dedupAndProbe(batch, keys, numBuckets)
      println(s"[scale] T=$t: $n rows, probe buckets=${p.bucketsTouched}, " +
        s"touched frac=${p.touchedFrac(numBuckets)}")
      time(f"  T=$t broadcast CoW merge") { store.merge(batch) }
      time(f"  T=$t MoR delta commit") {
        mor.commitDelta(batch.withColumnRenamed("Op", mor.OpCol), 1000L + t)
      }
      batch.unpersist()
    }
    time("mor read resolve (base + 5 deltas)") {
      println(s"[scale] mor rows: ${mor.read().count()}")
    }
  }

  /** Triangle counting at n nodes: circulant deltas {1,2,5} (≈ n−2
    * planted triangles from consecutive triples) plus a hub linked to
    * every 7th node — degree n/7, the exact shape that makes naive
    * wedge enumeration quadratic. Degree orientation must keep this
    * linear-ish: the hub is every one of its edges' higher endpoint,
    * so it sources zero wedges.
    */
  private def triSmoke(spark: SparkSession, n: Long): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Triangles
    val nodes = spark.range(1, n + 1).select(col("id").as("n"))
    val circ = Seq(1, 2, 5).map(d =>
      nodes.filter(col("n") + d <= n)
        .select(col("n").as("s"), (col("n") + d).as("t")))
      .reduce(_ unionByName _)
    val hub = nodes.filter(col("n") % 7 === 0 && col("n") =!= 1)
      .select(lit(1L).as("s"), col("n").as("t"))
    val canon = Triangles.canonical(circ.unionByName(hub), "s", "t")
    val r = time(s"tri n=$n (hub degree ${n / 7})") {
      Triangles.count(canon).head()
    }
    println(s"[scale] tri n=$n: triangles=${r.getLong(0)} wedges=${r.getLong(1)}")
    require(r.getLong(0) >= n - 2, s"lost planted triangles: ${r.getLong(0)}")
  }

  /** Binned interval-overlap self-join at n intervals (~16-tick spans
    * over a 2n timeline ⇒ ~8 concurrent ⇒ output ≈ 8n pairs).
    * Exactness cross-check at volume: two different bin widths must
    * count the SAME pairs (both are exact paths; a dedup bug or a
    * bin-boundary leak breaks the equality).
    */
  private def ivjSmoke(spark: SparkSession, n: Long): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.IntervalJoin
    val iv = spark.range(n).select(col("id"),
      ((col("id") * 7919) % (2 * n)).as("s"),
      ((col("id") * 7919) % (2 * n) + 16).as("e"))
    def pairs(w: Long): Long = time(s"interval n=$n width=$w") {
      IntervalJoin.binnedOverlap(iv, iv, "s", "e", w)
        .filter(col("l_id") < col("r_id")).count()
    }
    val a = pairs(16L); val b = pairs(64L)
    println(s"[scale] interval n=$n: pairs=$a")
    require(a == b, s"bin widths disagree: $a vs $b — dedup broken")
  }

  /** Edit-distance join growth: n synthetic ~18-char names, every
    * 10th a single-char typo of its neighbor (planted links) — the
    * candidate relation is Σ(len+1) ≈ 19n variants, so wall time
    * should grow linearly in n plus the (output-sized) verification.
    * A superlinear jump here would mean variant-key skew (short
    * strings colliding) — the adversarial case the spec covers
    * functionally and this measures at volume.
    */
  private def editSmoke(spark: SparkSession, n: Long): Unit = {
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // deterministic name: 3 md5-derived 6-char blocks; every 10th row
    // replaces the first char of its neighbor's name (ed = 1)
    def nameOf(id: org.apache.spark.sql.Column) = concat(
      substring(md5(id.cast("string")), 1, 6),
      substring(md5((id + 7).cast("string")), 1, 6),
      substring(md5((id * 3).cast("string")), 1, 6))
    val names = spark.range(n).select(col("id"),
      when(col("id") % 10 === 9, concat(lit("Z"), substring(nameOf(col("id") - 1), 2, 17)))
        .otherwise(nameOf(col("id"))).as("name"))
    val sec = timed {
      val pairs = graft.operators.EditDistanceJoin
        .pairsWithin1(names, "id", "name").count()
      println(f"[scale] edit-distance pairs found at $n%,d names: $pairs%,d " +
        s"(planted ${n / 10})")
    }
    println(f"[scale] ed<=1 self-join over $n%,d names: $sec%.1f s")
  }

  /** Count-Min vs exact groupBy at token scale: the sketch's reduce
    * state is depth×width CELLS regardless of corpus size (map-side
    * partials absorb the explode), where the exact count must build
    * and shuffle hash state for the full ~0.9n-distinct key universe.
    * The probe stage then estimates the known heavy keys from the
    * stored sketch alone — no corpus touch.
    */
  private def cmSmoke(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val depth = 4; val width = 4096
    // the regime the sketch exists for: a ~90%-unique key universe
    // (head of 100 hot keys, near-unique tail) — exact counting must
    // shuffle ~0.9n distinct keys; the sketch's reduce state stays
    // depth×width cells no matter what
    val toks = spark.range(n)
      .select(concat(lit("k"),
        when(col("id") % 10 === 0, col("id") % 100)
          .otherwise(col("id")).cast("string")).as("word"))
    val (skSec, skBytes) = withShuffleBytes(spark) {
      timed {
        graft.operators.CountMin.build(toks, "word", depth, width)
          .write.mode("overwrite").parquet("/tmp/cm_smoke_sketch")
      }
    }
    val sketch = spark.read.parquet("/tmp/cm_smoke_sketch")
    println(f"[scale] CM build $n%,d tokens -> ${depth}x$width sketch: $skSec%.1f s, " +
      f"shuffled ${skBytes / 1e6}%.1f MB (sketch rows: ${sketch.count()}%,d)")
    val (exactSec, exBytes) = withShuffleBytes(spark) {
      timed {
        toks.groupBy("word").agg(count(lit(1)).as("c"))
          .filter(col("c") > n / 100000).count()
      }
    }
    println(f"[scale] exact groupBy over the same tokens: $exactSec%.1f s, " +
      f"shuffled ${exBytes / 1e6}%.1f MB")
    val probes = (0 until 10).map(i => s"k${i * 10}").toDF("word")
    val probeSec = timed {
      graft.operators.CountMin.estimate(sketch, probes, "word", depth, width).count()
    }
    println(f"[scale] 10-key probe against the stored sketch: $probeSec%.2f s " +
      "(no corpus touch)")
  }

  /** MoR read-cost curve vs delta-stack depth (r8 verdict item 3):
    * resolve latency at 0/1/10/100 uncompacted 1k-row deltas over an
    * n-row base, the post-compaction reset, and the derived
    * `compactEvery` recommendation — the deepest measured stack whose
    * resolve stays within 2× the pure base scan. Write cost (flat
    * O(batch) commits) is engineSmoke territory; this is the READ
    * half of the trade the MoR docstring promises.
    */
  private def morSmoke(spark: SparkSession, n: Long): Unit = {
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val root = java.nio.file.Files.createTempDirectory("graft-mor-curve")
      .toFile.getAbsolutePath + "/t"
    val st = new graft.sources.MorStore(spark, root, Seq("k"))
    st.commitBase(spark.range(n).select(col("id").as("k"), col("id").as("v")), 0L)
    def delta(i: Int) = spark.range(1000)
      .select(((col("id") * (n / 1000) + i * 37) % n).as("k"),
        lit(-i.toLong).as("v"), lit("U").as("__op"))
    val baseSec = timed { st.read().count() }
    println(f"[scale] MoR resolve @ depth 0 (pure scan), $n rows: $baseSec%.2f s")
    var committed = 0
    var recommend = 0
    for (target <- Seq(1, 10, 100)) {
      while (committed < target) {
        st.commitDelta(delta(committed), 1000L + committed); committed += 1
      }
      val sec = timed { st.read().count() }
      val ratio = sec / math.max(baseSec, 1e-9)
      println(f"[scale] MoR resolve @ depth $target%3d (1k-row deltas): " +
        f"$sec%.2f s (${ratio}%.1fx base scan)")
      if (ratio <= 2.0) recommend = target
    }
    val compactSec = timed { st.compact(999999L); () }
    val resetSec = timed { st.read().count() }
    println(f"[scale] MoR compact after depth 100: $compactSec%.2f s; " +
      f"resolve after compact: $resetSec%.2f s")
    println(s"[scale] compactEvery recommendation (2x-base-scan budget, " +
      s"1k-row batches vs $n-row base): ~$recommend batches")
  }

  /** 500k-doc tier of the LSH/containment growth curves (10x the
    * standard 50k smoke — the 128 GiB sandbox fits it). Same corpus
    * generators as the 50k runs, so the 50k -> 500k ratio IS the
    * growth curve; anything superlinear beyond the candidate volume is
    * a finding. Opt-in mode: these runs take minutes, not seconds.
    */
  private def growthSmoke(spark: SparkSession): Unit = {
    val n = 500000
    // d03 corpus shape (10-member clusters + planted 1000-member hot
    // cluster), from lshSmoke
    def concept(bigCluster: Int) =
      when(col("id") < bigCluster, lit(0L)).otherwise(floor(col("id") / 10).cast("long"))
    val lshDocs = {
      val words = (0 until 15).map(j =>
        substring(md5(concat(concept(1000).cast("string"), lit(s"_$j"))), 1, 7))
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }.repartition(32).persist()
    lshDocs.count()
    time(s"d03 minhash+LSH dedup, $n docs (10-member clusters + 1000-member cluster)") {
      println(s"[scale]   pairs: ${graft.operators.TextDedup
        .minhashLshPairs(lshDocs, "doc_id", "text").count()}")
    }
    val index = graft.operators.IncrementalDedup
      .bandIndex(lshDocs, "doc_id", "text").persist()
    time(s"d09 band-index build, $n docs") { index.count() }
    val batch = {
      val words = (0 until 15).map(j =>
        substring(md5(concat(col("id").cast("string"), lit(s"_$j"))), 1, 7))
      spark.range(500).select((col("id") + 10000000L).as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }
    time(s"d09 incremental dedup, 500-doc batch vs $n-doc index") {
      println(s"[scale]   batch hits: ${graft.operators.IncrementalDedup
        .dedupAgainst(index, lshDocs, batch, "doc_id", "text").count()}")
    }
    index.unpersist(); lshDocs.unpersist()
    spark.catalog.clearCache()

    // d19 corpus shape (universal 12-word boilerplate tail), from
    // containmentSmoke
    val tailDocs = {
      val unique = (0 until 12).map(j =>
        substring(md5(concat(floor(col("id") / 10).cast("long").cast("string"),
          lit(s"_u$j"))), 1, 7))
      val boiler = (0 until 12).map(j => lit(s"boiler$j"))
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (unique ++ boiler): _*).as("text"))
    }.repartition(32).persist()
    tailDocs.count()
    time(s"d19 prefix containment, $n docs (universal boilerplate tail)") {
      println(s"[scale]   directed pairs: ${graft.operators.TextDedup
        .containmentPairsPrefix(tailDocs, "doc_id", "text").count()}")
    }
    tailDocs.unpersist()
    spark.catalog.clearCache()

    // d23 corpus shape (universal char-level tail), from containmentSmoke
    val fpDocs = {
      val unique = (0 until 10).map(j =>
        substring(md5(concat(floor(col("id") / 10).cast("long").cast("string"),
          lit(s"_f$j"))), 1, 7))
      val tailLit = lit("universal boilerplate tail shared by every single document")
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (unique :+ tailLit): _*).as("text"))
    }.repartition(32).persist()
    fpDocs.count()
    time(s"d23 prefix fingerprint containment, $n docs (universal tail)") {
      println(s"[scale]   directed pairs: ${graft.operators.TextDedup
        .fingerprintContainmentPrefix(fpDocs, "doc_id", "text").count()}")
    }
    fpDocs.unpersist()
    spark.catalog.clearCache()

    // cross-doc line dedup at 5M docs (10x the curation smoke)
    val lineDocs = spark.range(5000000L).select(col("id").as("doc_id"),
      concat_ws("\n",
        concat(lit("boiler line "), (col("id") % 20).cast("string")),
        concat(lit("u"), col("id"), lit(" alpha")),
        concat(lit("u"), col("id"), lit(" bravo")),
        concat(lit("u"), col("id"), lit(" charlie")),
        concat(lit("u"), col("id"), lit(" delta")),
        concat(lit("u"), col("id"), lit(" echo"))).as("text"))
    time("line dedup, 5000000 docs, 6 lines each") {
      val bad = graft.operators.TextDedup.lineDedup(lineDocs, "doc_id", "text")
        .filter(col("n_kept") =!= 5).count()
      require(bad == 0, s"expected exactly the boilerplate line dropped, $bad docs differ")
    }

    // bigram-LM quality gate at 500k docs / ~7.5M tokens over a
    // ~4k-word vocabulary (md5-derived "words" shared across docs via
    // id%4096 — a realistic Zipf-free stress: the model stays
    // vocabulary-bounded while every scoring token hits a real count)
    val lmDocs = {
      val words = (0 until 15).map(j =>
        substring(md5(concat(((col("id") * 7 + j) % 4096).cast("string"),
          lit("_w"))), 1, 6))
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }.repartition(32).persist()
    lmDocs.count()
    time(s"t35 bigram-LM train (20% slice) + score, $n docs") {
      implicit val cs: graft.operators.CacheScope =
        graft.operators.CacheScope.processOwned
      val lm = graft.operators.LanguageModel.train(
        lmDocs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
      val scored = graft.operators.LanguageModel
        .score(lmDocs, lm, "doc_id", "text")
      println(s"[scale]   scored: ${scored.count()}, model bigrams: " +
        s"${lm.bigrams.count()}")
      lm.bigrams.unpersist()
    }
    lmDocs.unpersist()
    spark.catalog.clearCache()
  }

  /** Shuffle-byte telemetry: sum of task shuffle WRITE bytes during `f`
    * (reads mirror writes, so one side suffices for a delta). Listener
    * events drain asynchronously — the short sleep before reading the
    * counter is fine for a dev tool's ±MB resolution.
    */
  private def withShuffleBytes[T](spark: SparkSession)(f: => T): (T, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { val r = f; Thread.sleep(2000); (r, bytes.get) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Connected components on the two adversarial graph shapes: a long
    * PATH (diameter = n, the pointer-jump case) and a field of small
    * CLIQUES (the shape LSH near-dup output actually has). Reports wall
    * time and total shuffled bytes — the fused pointer jump's claim
    * (lookup side of the jump join reuses the label checkpoint's
    * partitioning; edges never re-shuffle after setup) shows up here as
    * byte volume ∝ labels, not rounds × edges.
    */
  private def ccSmoke(spark: SparkSession): Unit = {
    // 1M-node path: worst case for propagation (diameter 10^6); must
    // converge via jumping in ~20 rounds with label-sized shuffles only
    val path = spark.range(1, 1000000L)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (_, pathBytes) = withShuffleBytes(spark) {
      time("cc 1M-node path (diameter 10^6, pointer-jump regime)") {
        val comp = graft.operators.ConnectedComponents
          .components(path, "id_a", "id_b")
        val bad = comp.filter(col("component") =!= 1L).count()
        require(bad == 0, s"$bad nodes missed the path minimum")
      }
    }
    println(f"[scale]   shuffled: ${pathBytes / 1e6}%.1f MB")
    // 100k 10-member cliques (1M nodes, 4.5M edges): the LSH-output
    // shape; converges in the round-0 fold + one counting round
    val cliquePairs = spark.range(100000L)
      .select(explode(array((for (i <- 0 until 10; j <- i + 1 until 10)
        yield struct((col("id") * 10 + i).as("id_a"), (col("id") * 10 + j).as("id_b"))): _*)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    val (_, clqBytes) = withShuffleBytes(spark) {
      time("cc 100k 10-member cliques (4.5M edges, clique regime)") {
        val comp = graft.operators.ConnectedComponents
          .components(cliquePairs, "id_a", "id_b")
        val bad = comp.filter(col("component") =!= (col("id") - col("id") % 10)).count()
        require(bad == 0, s"$bad nodes missed their clique minimum")
      }
    }
    println(f"[scale]   shuffled: ${clqBytes / 1e6}%.1f MB")
  }

  /** Key-skew stress — the 100x risk least covered by uniform smokes:
    * (1) a Zipf(1.2)-keyed 1M-row CDC batch (hottest PK ~13% of all
    * rows) through dedup + bucketed merge, against a uniform-keyed
    * batch of the same size; (2) a planted hot LSH band / hot prefix
    * group (10% of docs in ONE duplicate cluster) through d03 and d19,
    * against the uniform 10-member-cluster corpus. Skewed wall-time
    * must stay within the printed bound of uniform — the hot cases do
    * strictly more WORK (the hot cluster's quadratic candidate set is
    * real output), so the bound proves no *additional* pathology
    * (stuck stragglers, spilled windows), not equal work.
    */
  private def skewSmoke(spark: SparkSession): Unit = {
    import org.apache.spark.sql.Column
    val n = 1000000L
    def cdcBatch(key: Column): org.apache.spark.sql.DataFrame =
      spark.range(n).select(
        key.as("k1"), (col("id") % 3).as("k2"),
        (col("id") % 997).as("v"),
        when(col("id") % 11 === 0, "D").otherwise("U").as("Op"),
        to_timestamp(lit("2030-01-01 00:00:00")).as("load_timestamp"),
        col("id").as("ingestion_seq"))
    // Zipf(1.2) via inverse transform on a hash-uniform u ∈ (0,1]:
    // k = ⌊u^(−1/0.2)⌋ capped — P(k=1) ≈ 13%, power-law tail
    val u = ((pmod(xxhash64(col("id")), lit(1000000L)) + 1).cast("double")) / 1000000.0
    val zipfKey = least(lit(250000L), floor(pow(u, lit(-5.0))).cast("long"))
    val uniformKey = col("id") % 250000L
    val keys = Seq("k1", "k2")

    def runOnce(label: String, key: Column): Double = {
      val root = Files.createTempDirectory("skew").toString
      val base = spark.range(n / 2).select(
        (col("id") % 250000L).as("k1"), (col("id") % 3).as("k2"),
        lit(0L).as("v"))
      val store = graft.sources.BucketedTableStore
        .create(spark, s"$root/t", keys, base, numBuckets = 64)
      val t0 = System.nanoTime()
      val d = graft.operators.CdcDedup.dedup(cdcBatch(key), keys, gate = true)
      store.merge(d)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] cdc dedup+merge 1M rows, $label keys: $dt%.2f s")
      dt
    }
    val tUni = runOnce("uniform", uniformKey)
    val tZipf = runOnce("zipf(1.2)", zipfKey)
    println(f"[scale]   skew ratio: ${tZipf / tUni}%.2f (bound 3.0)")
    require(tZipf <= tUni * 3.0 + 2.0,
      f"Zipf-keyed merge ${tZipf}%.1f s exceeds 3x uniform ${tUni}%.1f s")

    // hot-band LSH: 20k docs, first 2000 (10%) one duplicate cluster —
    // every band of the hot cluster is the same key, so candidates gain
    // a ~2M-pair clique (real near-dup output) on top of uniform's ~90k
    def clusteredDocs(total: Int, hot: Int) = {
      val cid = when(col("id") < hot, lit(0L))
        .otherwise(floor(col("id") / 10).cast("long"))
      val words = (0 until 15).map(j =>
        substring(md5(concat(cid.cast("string"), lit(s"_h$j"))), 1, 7))
      spark.range(total).select(col("id").as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }
    def timed(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val uniDocs = clusteredDocs(20000, 0).repartition(32).persist(); uniDocs.count()
    val hotDocs = clusteredDocs(20000, 2000).repartition(32).persist(); hotDocs.count()
    val (uPairs, uT) = timed(graft.operators.TextDedup
      .minhashLshPairs(uniDocs, "doc_id", "text").count())
    val (hPairs, hT) = timed(graft.operators.TextDedup
      .minhashLshPairs(hotDocs, "doc_id", "text").count())
    println(f"[scale] d03 20k docs uniform: $uT%.2f s ($uPairs pairs); " +
      f"10%% hot band: $hT%.2f s ($hPairs pairs); ratio ${hT / uT}%.2f")

    // hot prefix group through d19: same corpus shape plus a universal
    // boilerplate tail (df = n shingles must still never be candidates)
    def tailed(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      concat(col("text"), lit(" boiler0 boiler1 boiler2 boiler3 boiler4 boiler5")).as("text"))
    val (ucPairs, ucT) = timed(graft.operators.TextDedup
      .containmentPairsPrefix(tailed(uniDocs), "doc_id", "text").count())
    val (hcPairs, hcT) = timed(graft.operators.TextDedup
      .containmentPairsPrefix(tailed(hotDocs), "doc_id", "text").count())
    println(f"[scale] d19 20k docs uniform: $ucT%.2f s ($ucPairs pairs); " +
      f"10%% hot group: $hcT%.2f s ($hcPairs pairs); ratio ${hcT / ucT}%.2f")
    uniDocs.unpersist(); hotDocs.unpersist()
    // the hot corpora carry ~22x the candidate volume as REAL output;
    // per-unit-output cost must not regress worse than ~an order below
    // that — a straggler/spill pathology would show as 50-100x
    require(hT <= uT * 12.0 + 5.0, f"hot-band d03 $hT%.1f s vs uniform $uT%.1f s")
    require(hcT <= ucT * 12.0 + 5.0, f"hot-group d19 $hcT%.1f s vs uniform $ucT%.1f s")
  }

  /** Token-budget admission at few-domain scale — the shape where the
    * naive per-domain window serializes (4 domains × 500k rows = one
    * 500k-row sorted window per task) and the histogram prefilter must
    * not: [[graft.operators.Sampling.tokenBudgetAdmit]] windows only
    * the boundary-bucket survivors, partitioned by (domain, bucket).
    * Two quality distributions: high-cardinality (boundary bucket is
    * thin) and 10-distinct-values massive ties (the verdict's watch
    * item: quality ties concentrate the boundary bucket — still
    * bounded by bucketWidth occupancy, here ~1/10 of a domain). Both
    * runs assert exact set equality against the naive window form.
    */
  /** d31 propagation growth: 3 integer rounds over path-plus-chords
    * graphs (|E| ≈ 1.33·n) at 100k and 1M nodes. Per-round cost is one
    * edge-relation shuffle + one aggregation, so 10× nodes should cost
    * ~10× per round — superlinear growth here means the checkpointed
    * edge relation is being recomputed or the round join grew a new
    * exchange. Shuffle bytes reported for the byte-volume claim.
    */
  private def graphSmoke(spark: SparkSession): Unit = {
    Seq(100000L, 1000000L).foreach { n =>
      val path = spark.range(n - 1)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val chords = spark.range(n - 7)
        .filter(col("id") % 3 === 0)
        .select(col("id").as("a"), (col("id") + 7).as("b"))
      val edges = path.unionAll(chords)
      val (_, bytes) = withShuffleBytes(spark) {
        time(s"d31 propagation, $n nodes / ~${(n * 4) / 3} edges, 3 rounds") {
          val out = graft.operators.Propagation.propagate(edges, "a", "b", iters = 3)
          println(s"[scale]   nodes scored: ${out.count()}, " +
            s"score sum: ${out.agg(sum(col("score"))).head().getLong(0)}")
        }
      }
      println(f"[scale]   shuffled: ${bytes / 1e6}%.0f MB")
    }

    // q49's BFS fixpoint at graph scale: a bipartite giant component
    // (1M orders x 10k hubs, degree 2). The two hubs per order must be
    // INDEPENDENT — any multiplier mod the same modulus makes h2 a
    // function of h1 and the hub graph one long cycle whose diameter
    // is the multiplicative order (hundreds of rounds, the cap fires);
    // a real hash gives an expander and a handful of rounds.
    val bn = 1000000L
    val hubs = 10000L
    val fwd = spark.range(bn).select(col("id").as("src"),
      (col("id") % hubs + bn).as("dst"))
    val alt = spark.range(bn).select(col("id").as("src"),
      (pmod(xxhash64(col("id")), lit(hubs)) + bn).as("dst"))
    val bedges = fwd.unionAll(alt)
    val sym = bedges.unionAll(bedges.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = spark.range(3).select(col("id").as("seed"), (col("id") * 101L).as("node"))
    time(s"q49 BFS fixpoint, $bn+$hubs nodes / ${2 * 2 * bn} directed edges, 3 seeds") {
      val r = graft.operators.Reachability.reach(seeds.toDF(), sym)
      println(s"[scale]   reached rows: ${r.count()}, max depth: " +
        r.agg(max(col("depth"))).head().getLong(0))
    }
  }

  /** s13 PQ/ADC growth: 4×16-dim subspaces, 8 codes each, 5 queries
    * against synthetic 64-dim corpora at 50k and 500k vectors. The
    * corpus is scanned once per query batch (encode + score in the
    * broadcast-join stage); 10× vectors should cost ~10× — any worse
    * means the encode argmin or the ADC fold stopped being a pure
    * projection.
    */
  private def pqSmoke(spark: SparkSession): Unit = {
    def vec(seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      transform(sequence(lit(0), lit(63)),
        j => sin(seed * 64 + j.cast("double")))
    Seq(50000L, 500000L).foreach { n =>
      val corpus = spark.range(n)
        .select(col("id"), vec(col("id").cast("double")).as("v"))
        .repartition(32).persist()
      corpus.count()
      val queries = corpus.filter(col("id") < 5)
      val codebooks = {
        val rows = corpus.filter(col("id") >= n - 8).orderBy(col("id"))
          .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
        (0 until 4).map(s => rows.map(_.slice(s * 16, s * 16 + 16)))
      }
      time(s"s13 PQ/ADC top-10, $n vectors x 64 dims, 5 queries") {
        println(s"[scale]   result rows: ${graft.operators.VectorSearch
          .pqTopK(corpus, queries, "id", "v", "id", codebooks, k = 10).count()}")
      }

      // s18's filter-aware probing at the same tier: a ~2% predicate
      // over an IVF-PQ-encoded corpus, vs the probe-everything
      // baseline. MEASURED VERDICT (recorded in COVERAGE): at 8
      // coarse cells the baseline wins on wall time — scanning 100%
      // of a 10k-row filtered index is trivial, and the adaptive
      // machinery's extra tiny-stage latency (~0.6 s of survivor agg
      // + cum-sum + depth join) buys nothing. The adaptive path's
      // regime is MANY cells (1k+ at real scale), where
      // probe-everything degenerates to a full index scan per query
      // and candidate-volume reduction is the whole game. The smoke
      // keeps both numbers so that claim stays falsifiable.
      val centroids = {
        val rows = corpus.filter(col("id") >= n - 16 && col("id") < n - 8)
          .orderBy(col("id")).select(col("v")).collect()
          .map(_.getSeq[Double](0).toSeq).toSeq
        rows
      }
      val encoded = graft.operators.VectorSearch.encodeIvfPq(
        corpus, "id", "v", centroids, codebooks).persist()
      encoded.count()
      val encodedF = encoded.filter(col("id") % 47 === 0) // ~2% survive
      time(s"s18 filter-aware IVF-PQ top-10, $n vectors, ~2% predicate") {
        println(s"[scale]   result rows: ${graft.operators.VectorSearch
          .searchIvfPqFiltered(encodedF, queries, "id", "v",
            centroids, codebooks, k = 10).count()}")
      }
      time(s"probe-everything baseline (nProbe = ${centroids.size})") {
        println(s"[scale]   result rows: ${graft.operators.VectorSearch
          .searchIvfPq(encodedF, queries, "id", "v", centroids, codebooks,
            k = 10, nProbe = centroids.size, excludeSelf = false).count()}")
      }
      encoded.unpersist()
      corpus.unpersist()
    }
  }

  /** m04 audio-landmark growth: 10-member clusters of hop-aligned
    * shifted copies (member shift = (id%10)·hop bytes of space padding,
    * so landmarks align at a nonzero offset_delta — the shift-invariance
    * the operator exists for). Per-sig df = cluster size (bounded), so
    * the self-join's candidate volume is 45·n/10 pairs × shared windows
    * — linear in n; 10× clips should cost ~10×. The all-space padding
    * windows are corpus-common and must die at the maxSigDf cap, never
    * in the join.
    */
  private def audioSmoke(spark: SparkSession, tiers: Seq[Long]): Unit = {
    import spark.implicits._
    tiers.foreach { n =>
      val media = spark.range(n).select(
          col("id").as("media_id"),
          lit("audio").as("kind"),
          encode(concat(
            repeat(lit(" "), (pmod(col("id"), lit(10)) * 16).cast("int")),
            repeat(md5(floor(col("id") / 10).cast("long").cast("string")), 10)),
            "UTF-8").as("content"),
          lit("smoke").as("source"))
        .as[graft.operators.Multimodal.MediaRecord]
        .repartition(32).persist()
      media.count()
      val (_, bytes) = withShuffleBytes(spark) {
        time(s"m04 audio landmarks, $n clips (10-member shifted clusters)") {
          println(s"[scale]   pairs: ${graft.operators.Multimodal
            .audioNearDupPairs(media).count()}")
        }
      }
      println(f"[scale]   shuffled: ${bytes / 1e6}%.0f MB")
      media.unpersist()
      spark.catalog.clearCache()
    }
  }

  private def budgetSmoke(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.{Window => W}
    val n = 2000000L
    val budget = 50000000L
    def corpus(qualDistinct: Long) = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("dom"), (col("id") % 4).cast("string")).as("domain"),
      (pmod(xxhash64(col("id")), lit(qualDistinct)) *
        (1000000L / qualDistinct)).as("quality"),
      (pmod(xxhash64(col("id") + 7), lit(900L)) + 100L).as("tokens"))
    Seq(("~1M distinct qualities", 1000000L),
        ("10 distinct qualities (tie-fattened boundary bucket)", 10L)).foreach {
      case (label, qd) =>
        val docs = corpus(qd).repartition(32).persist()
        docs.count()
        val fastIds = graft.operators.Sampling.tokenBudgetAdmit(docs, "domain",
            "doc_id", "quality", "tokens", budget, bucketWidth = 10000L)
          .select(col("doc_id"))
        val naive = {
          val w = W.partitionBy(col("domain"))
            .orderBy(col("quality").desc, col("doc_id"))
            .rowsBetween(W.unboundedPreceding, 0)
          docs.withColumn("cum", sum(col("tokens")).over(w))
            .filter(col("cum") <= budget).select(col("doc_id"))
        }
        var nFast = 0L
        time(s"d26 histogram admit, 2M docs / 4 domains, $label") {
          nFast = fastIds.count()
        }
        var nNaive = 0L
        time(s"d26 naive one-window-per-domain, $label") { nNaive = naive.count() }
        val diff = fastIds.exceptAll(naive).count() + naive.exceptAll(fastIds).count()
        println(s"[scale]   admitted fast=$nFast naive=$nNaive setDiff=$diff")
        require(diff == 0 && nFast == nNaive,
          s"histogram path diverged from the naive window: $nFast vs $nNaive, diff $diff")
        docs.unpersist()
    }
  }

  /** d19 prefix containment on ITS OWN worst case: every doc ends with
    * the same 12-word boilerplate tail, so those shingles have df = n
    * and the exact inverted-index join (d16) pays Σ df² ≈ n² rows —
    * exactly the corpus shape containment detection targets. The prefix
    * path's candidates come only from each doc's rarest shingles
    * (cluster-specific, df = 10), so growth must track n, not n².
    * A small exact run is timed for contrast.
    */
  private def containmentSmoke(spark: SparkSession): Unit = {
    def synthDocs(n: Int) = {
      val unique = (0 until 12).map(j =>
        substring(md5(concat(floor(col("id") / 10).cast("long").cast("string"),
          lit(s"_u$j"))), 1, 7))
      val boiler = (0 until 12).map(j => lit(s"boiler$j"))
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (unique ++ boiler): _*).as("text"))
    }
    val contrast = synthDocs(2000).repartition(32).persist()
    contrast.count()
    time("d16 exact containment, 2000 docs (universal boilerplate ⇒ df² join)") {
      println(s"[scale]   directed pairs: ${graft.operators.TextDedup
        .containmentPairs(contrast, "doc_id", "text").count()}")
    }
    contrast.unpersist()
    Seq(5000, 50000).foreach { n =>
      val docs = synthDocs(n).repartition(32).persist()
      docs.count()
      time(s"d19 prefix containment, $n docs (universal boilerplate tail" +
          (if (n >= 50000) ", candidates ⇒ shuffle fallback)" else ")")) {
        val pairs = graft.operators.TextDedup
          .containmentPairsPrefix(docs, "doc_id", "text")
        println(s"[scale]   directed pairs: ${pairs.count()}")
      }
      docs.unpersist()
    }
    // d21 winnowed fingerprints on CLUSTER corpora (10-member duplicate
    // clusters, distinct content per cluster): per-fingerprint df = the
    // cluster size, so pair volume — and cost — must track n. (A corpus
    // with universal boilerplate SUBSTRINGS is d21's documented banding
    // case: the output itself is quadratic there.)
    def clusterDocs(n: Int) = {
      val words = (0 until 15).map(j =>
        substring(md5(concat(floor(col("id") / 10).cast("long").cast("string"),
          lit(s"_c$j"))), 1, 7))
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }
    Seq(5000, 50000).foreach { n =>
      val docs = clusterDocs(n).repartition(32).persist()
      docs.count()
      time(s"d21 fingerprint pairs, $n docs (10-member clusters)") {
        val pairs = graft.operators.TextDedup
          .fingerprintPairs(docs, "doc_id", "text")
        println(s"[scale]   pairs: ${pairs.count()}")
      }
      docs.unpersist()
    }
    // d23 fingerprint containment on ITS OWN worst case: every doc ends
    // with the same char-level boilerplate tail, so the tail's
    // fingerprints have df = n and the exact inverted-index join pays
    // Σ df² ≈ n². Prefix candidates come only from each doc's rarest
    // fingerprints — the cluster-specific head (df = 10) — so growth
    // must track n. A small exact run is timed for contrast.
    def tailDocs(n: Int) = {
      val unique = (0 until 10).map(j =>
        substring(md5(concat(floor(col("id") / 10).cast("long").cast("string"),
          lit(s"_f$j"))), 1, 7))
      val tail = lit("universal boilerplate tail shared by every single document")
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (unique :+ tail): _*).as("text"))
    }
    val fpContrast = tailDocs(2000).repartition(32).persist()
    fpContrast.count()
    time("d23-exact fingerprint containment, 2000 docs (universal tail ⇒ df² join)") {
      println(s"[scale]   directed pairs: ${graft.operators.TextDedup
        .fingerprintContainment(fpContrast, "doc_id", "text").count()}")
    }
    fpContrast.unpersist()
    Seq(5000, 50000).foreach { n =>
      val docs = tailDocs(n).repartition(32).persist()
      docs.count()
      time(s"d23 prefix fingerprint containment, $n docs (universal tail)") {
        println(s"[scale]   directed pairs: ${graft.operators.TextDedup
          .fingerprintContainmentPrefix(docs, "doc_id", "text").count()}")
      }
      docs.unpersist()
    }
  }

  /** as-of join and sequence packing at synthetic volume (orders of
    * magnitude above the testdata): growth must track the input
    * near-linearly — the single-shuffle / shard-local-window contracts.
    */
  private def curationSmoke(spark: SparkSession): Unit = {
    def events(n: Int) = spark.range(n).select(
      col("id").as("event_id"),
      (col("id") % 50000L).as("user_id"),
      org.apache.spark.sql.functions.expr(
        "timestamp_micros(1700000000000000 + id * 1000)").as("ts"),
      when(col("id") % 3 === 0, "purchase").otherwise("click").as("event_type"),
      (col("id") % 97).cast("double").as("value"))
    Seq(1000000, 10000000).foreach { n =>
      val ev = events(n)
      val probe = ev.filter(col("event_type") === "purchase")
      val build = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("b_event_id"))
      time(s"asof join, $n events, 50k users") {
        graft.operators.AsofJoin
          .asofLookup(probe, build, Seq("user_id"), "ts", Seq("b_event_id"))
          .filter(col("b_event_id").isNotNull).count()
      }
    }
    Seq(500000, 5000000).foreach { n =>
      val docs = spark.range(n).select(col("id").as("doc_id"),
        (col("id") % 900 + 100).as("n"))
      time(s"sequence packing, $n docs, 64 shards") {
        graft.operators.SequencePacking
          .pack(docs, "doc_id", col("n"), ctx = 2048, shards = 64)
          .agg(countDistinct(col("pack_id"))).collect()
      }
    }
    // line dedup: every doc gets 5 unique lines + 1 of 20 shared
    // boilerplate lines — kept-line volume grows with the corpus while
    // the dropped set stays the planted 20; cost must track the line
    // count (one count shuffle + one join), not the pair count
    Seq(100000, 1000000).foreach { n =>
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws("\n",
          concat(lit("boiler line "), (col("id") % 20).cast("string")),
          concat(lit("u"), col("id"), lit(" alpha")),
          concat(lit("u"), col("id"), lit(" bravo")),
          concat(lit("u"), col("id"), lit(" charlie")),
          concat(lit("u"), col("id"), lit(" delta")),
          concat(lit("u"), col("id"), lit(" echo"))).as("text"))
      time(s"line dedup, $n docs, 6 lines each") {
        val out = graft.operators.TextDedup.lineDedup(docs, "doc_id", "text")
        val bad = out.filter(col("n_kept") =!= 5).count()
        require(bad == 0, s"expected exactly the boilerplate line dropped, $bad docs differ")
      }
    }
  }

  /** Growth curves for the round-8 analytics operators: classifier
    * inference (explode + broadcast vocab + hash agg — should be
    * linear), weighted sampling (one WindowGroupLimit-pruned rank
    * window — linear), and IVF-PQ search (one encode scan + broadcast
    * probe join — linear in corpus, candidates ∝ nProbe/cells).
    */
  private def analyticsSmoke(spark: SparkSession, tiers: Seq[Long]): Unit = {
    val vocabWords = graft.operators.Scoring.QualityVocab.map(_._1).toArray
    tiers.foreach { n =>
      val words = (0 until 20).map(j =>
        element_at(lit(vocabWords),
          (pmod(hash(col("id") * 31 + lit(j)), lit(vocabWords.length)) + 1).cast("int")))
      val docs = spark.range(n).select(col("id").as("doc_id"),
          concat_ws(" ", words: _*).as("text"),
          pmod(hash(col("id")), lit(20)).cast("string").as("source"),
          (pmod(hash(col("id") + 7), lit(1000)) + 1).cast("long").as("n_chars"))
        .repartition(32).persist()
      docs.count()
      time(s"t16 classifier inference, $n docs") {
        println(s"[scale]   accepted: ${graft.operators.Scoring
          .classifierScore(docs, "doc_id", "text").filter(col("accept")).count()}")
      }
      time(s"d35 weighted sample k=5 x 20 strata, $n docs") {
        println(s"[scale]   sampled: ${graft.operators.Sampling
          .weightedSample(docs, "doc_id", "n_chars", "source", 5).count()}")
      }
      docs.unpersist()

      // deterministic 64-dim vectors: centroids re-derived in the
      // driver from the same closed form, so no collect is needed
      def vecExpr = array((0 until 64).map(j =>
        sin(col("id") * lit(0.37 + j * 0.013) + lit(j.toDouble))): _*)
      val emb = spark.range(n)
        .select(col("id").as("vec_id"), vecExpr.as("embedding"))
        .repartition(32).persist()
      emb.count()
      val cents = (0 until 8).map(i =>
        (0 until 64).map(j => math.sin(i * (0.37 + j * 0.013) + j)).toSeq)
      val codebooks = (0 until 4).map(s => cents.map(_.slice(s * 16, s * 16 + 16)))
      time(s"s14 IVF-PQ top-10, $n vectors, 50 queries") {
        println(s"[scale]   results: ${graft.operators.VectorSearch.ivfPqTopK(
          emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", "vec_id",
          cents, codebooks, k = 10, nProbe = 2).count()}")
      }
      emb.unpersist()
      spark.catalog.clearCache()
    }

    // skew stress: ONE stratum holds ~95% of the corpus — the partial
    // WindowGroupLimit must truncate per input partition BEFORE the
    // stratum shuffle, so the hot stratum's reducer sees ~5·|partitions|
    // rows, not 95% of the corpus
    val n = tiers.max
    val skewDocs = spark.range(n).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(20)) === 0, pmod(col("id"), lit(19)).cast("string"))
          .otherwise(lit("hot")).as("source"),
        (pmod(hash(col("id") + 7), lit(1000)) + 1).cast("long").as("n_chars"))
      .repartition(32).persist()
    skewDocs.count()
    time(s"d35 weighted sample, $n docs, 95%-hot stratum") {
      println(s"[scale]   sampled: ${graft.operators.Sampling
        .weightedSample(skewDocs, "doc_id", "n_chars", "source", 5).count()}")
    }
    skewDocs.unpersist()

    // BPE: corpus-once + Zipf-bounded rounds — the 500k-doc corpus has
    // ~1000 distinct words, so rounds 2..5 cost vocab-table time
    val bpeWords = (0 until 1000).map(i =>
      ("abcdefgh".drop(i % 7) + "abcdefgh".take(i % 8 + 1)) * (i % 3 + 1)).toArray
    val bpeDocs = spark.range(n).select(
      concat_ws(" ", (0 until 12).map(j =>
        element_at(lit(bpeWords),
          (pmod(hash(col("id") * 13 + lit(j)), lit(bpeWords.length)) + 1).cast("int"))): _*)
        .as("text")).repartition(32).persist()
    bpeDocs.count()
    time(s"BPE induction k=5, $n docs, ~1000-word vocab") {
      val (merges, _) = graft.operators.BpeInduction.train(bpeDocs, "text", k = 5)
      println(s"[scale]   merges: ${merges.map(m => m.left + "+" + m.right).mkString(", ")}")
    }
    bpeDocs.unpersist()
  }

  /** Bloom-pruned anti join vs the plain shuffle anti join (broadcast
    * disabled — the regime the operator exists for), and contiguous
    * global indexing vs the single-partition ROW_NUMBER window. The
    * bloom claim is SHUFFLE BYTES, not just wall time: the plain anti
    * join shuffles the whole big side; the pruned one shuffles only
    * probable matches (2% membership + 1% fpp here).
    */
  private def engineSmoke(spark: SparkSession, tiers: Seq[Long]): Unit = {
    tiers.foreach { n =>
      val big = spark.range(n).select(col("id").as("row_id"),
          concat(lit("k"), pmod(hash(col("id")), lit(n / 2))).as("key"))
        .repartition(32).persist()
      big.count()
      // members: ~2% of big's key space, plus half absent keys
      val small = spark.range(n / 50).select(
          concat(lit("k"), pmod(hash(col("id") * 7), lit(n))).as("key"))
        .repartition(32).persist()
      small.count()
      val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val (plainCnt, plainBytes) = withShuffleBytes(spark) {
          time(s"plain shuffle anti join, $n big rows") {
            big.join(small.distinct(), Seq("key"), "left_anti").count()
          }
        }
        val (prunedCnt, prunedBytes) = withShuffleBytes(spark) {
          time(s"bloom-pruned anti join, $n big rows") {
            graft.operators.BloomPrune.antiJoin(
              big, small, Seq("key"), expectedItems = n / 25).count()
          }
        }
        require(plainCnt == prunedCnt, s"bloom anti diverged: $plainCnt vs $prunedCnt")
        println(f"[scale]   shuffle bytes: plain ${plainBytes / 1e6}%.1f MB, " +
          f"pruned ${prunedBytes / 1e6}%.1f MB (${plainBytes.toDouble / math.max(prunedBytes, 1)}%.1fx)")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)

      time(s"global index two-phase, $n rows") {
        val idx = graft.operators.GlobalIndex.assign(
          big, Seq("key", "row_id"), numPartitions = 32)
        println(s"[scale]   max idx: ${idx.agg(max("idx")).head().getLong(0)}")
      }
      spark.catalog.clearCache()
      time(s"global index via parquet footers, $n rows") {
        val gdir = java.nio.file.Files.createTempDirectory("graft-gidx-smoke")
          .toFile.getAbsolutePath + "/t"
        val idx = graft.operators.GlobalIndex.assignPersisted(
          big, Seq("key", "row_id"), gdir, numPartitions = 32)
        println(s"[scale]   max idx: ${idx.agg(max("idx")).head().getLong(0)}")
      }

      // MoR vs CoW write cost: a 1k-row delta against an n-row table.
      // CoW rewrites the table (cost ∝ n); MoR commits the delta
      // (cost ∝ batch — flat across tiers).
      val morRoot = java.nio.file.Files.createTempDirectory("graft-mor-smoke")
        .toFile.getAbsolutePath + "/t"
      val morBase = spark.range(n).select(col("id").as("k"), col("id").as("v"))
      val st = new graft.sources.MorStore(spark, morRoot, Seq("k"))
      st.commitBase(morBase, 1000L)
      val deltaDf = spark.range(1000)
        .select((col("id") * (n / 1000)).as("k"), lit(-1L).as("v"),
          lit("U").as("__op"))
      time(s"MoR delta commit (1k rows vs $n-row table)") {
        st.commitDelta(deltaDf, 2000L)
      }
      time(s"CoW equivalent (full-table rewrite, $n rows)") {
        val cowRoot = java.nio.file.Files.createTempDirectory("graft-cow-smoke")
          .toFile.getAbsolutePath + "/t"
        morBase.join(deltaDf.select(col("k").as("__dk")),
            col("k") === col("__dk"), "left_anti")
          .unionByName(deltaDf.drop("__op"))
          .write.mode("overwrite").parquet(cowRoot)
      }
      time(s"MoR resolve read, $n rows + 1k delta") {
        println(s"[scale]   rows: ${st.read().count()}")
      }

      // file-skip index: point lookup opens 1 file of 32
      val skipRoot = java.nio.file.Files.createTempDirectory("graft-skip-smoke")
        .toFile.getAbsolutePath + "/t"
      spark.range(n).select(col("id").as("k"), (col("id") % 97).as("v"))
        .repartitionByRange(32, col("k"))
        .write.mode("overwrite").parquet(skipRoot)
      val skipIdx = graft.sources.FileSkipIndex.build(spark, skipRoot, "k",
        expectedKeysPerFile = n / 16).persist()
      time(s"file-skip index build, $n rows / 32 files") {
        skipIdx.count() // materialize: the build is one aggregation pass
      }
      time(s"indexed point lookup (1 of 32 files)") {
        val files = graft.sources.FileSkipIndex.candidateFiles(skipIdx, n / 2)
        println(s"[scale]   files admitted: ${files.size}; rows: " +
          graft.sources.FileSkipIndex.lookup(spark, skipIdx, skipRoot, "k", n / 2).count())
      }
      time(s"full-scan point lookup (all 32 files)") {
        println(s"[scale]   rows: " +
          spark.read.parquet(skipRoot).filter(col("k") === n / 2).count())
      }
      // range predicates prune on min/max overlap alone — the admitted
      // file count is the telemetry that generalizes v22's 1-of-32
      // claim to intervals (a 5%-span range should open ~2-3 files)
      for ((lo, hi, label) <- Seq(
          (n / 2, n / 2 + n / 20, "5%-span range"),
          (n / 2, n / 2 + n / 100, "1%-span range"),
          (n + 10, n + 1000, "beyond-max range"))) {
        time(s"indexed range scan, $label") {
          val files = graft.sources.FileSkipIndex.candidateFilesRange(skipIdx, lo, hi)
          println(s"[scale]   files admitted: ${files.size} of 32; rows: " +
            graft.sources.FileSkipIndex.rangeScan(spark, skipIdx, skipRoot, "k", lo, hi).count())
        }
      }
      skipIdx.unpersist()

      // Z-order vs linear layout: pruning on the SECOND dimension.
      // Both layouts hold the same (x, y) rows in 32 files; a y-range
      // covering ~3% of the domain should open a few files under the
      // Morton layout and nearly all 32 under the x-sorted one.
      val dims = spark.range(n).select(
        ((col("id") * 2654435761L) % 65536).cast("int").as("x"),
        ((col("id") * 40503L) % 65536).cast("int").as("y"),
        col("id").as("v"))
      def layoutFiles(sortKey: org.apache.spark.sql.Column, tag: String): Int = {
        val root = java.nio.file.Files.createTempDirectory(s"graft-z-$tag")
          .toFile.getAbsolutePath + "/t"
        dims.withColumn("__s", sortKey)
          .repartitionByRange(32, col("__s")).sortWithinPartitions(col("__s"))
          .drop("__s").write.mode("overwrite").parquet(root)
        val idxY = graft.sources.FileSkipIndex.build(spark, root, "y")
        graft.sources.FileSkipIndex.candidateFilesRange(idxY, 30000L, 32000L).size
      }
      time(s"z-order layout, y-range pruning, $n rows") {
        val zf = layoutFiles(
          graft.functions.ZInterleave(col("x"), col("y")), "morton")
        println(s"[scale]   files admitted (z-order): $zf of 32")
      }
      time(s"linear x-sorted layout, y-range pruning, $n rows") {
        val lf = layoutFiles(col("x"), "linear")
        println(s"[scale]   files admitted (x-sorted): $lf of 32")
      }

      if (n <= 1000000L) time(s"ROW_NUMBER single-partition window, $n rows (reference)") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy(col("key"), col("row_id"))
        println(s"[scale]   rows: ${big.withColumn("idx", row_number().over(w)).count()}")
      }
      big.unpersist(); small.unpersist()
      spark.catalog.clearCache()
    }
  }

  private def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
  }

  /** d03/d05 at 5k and 50k: clustered synthetic corpora (10-member
    * duplicate clusters, so candidate volume grows linearly with n).
    */
  private def lshSmoke(spark: SparkSession): Unit = {
    // integer floor-div for cluster ids (`col/10` alone is DOUBLE division
    // — every row would get a unique "cluster")
    def concept(bigCluster: Int) =
      when(col("id") < bigCluster, lit(0L)).otherwise(floor(col("id") / 10).cast("long"))
    def synthDocs(n: Int, bigCluster: Int): org.apache.spark.sql.DataFrame = {
      val words = (0 until 15).map(j =>
        substring(md5(concat(concept(bigCluster).cast("string"), lit(s"_$j"))), 1, 7))
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", words: _*).as("text"))
    }
    def synthVecs(n: Int): org.apache.spark.sql.DataFrame = {
      // hash-derived pseudo-random components (a sinusoid family like
      // sin(c·31 + 7d) is heavily self-correlated — cos(31Δc) swings to
      // ±1 — and floods the corpus with accidental "near-dups");
      // ±0.02 noise keeps within-cluster cosine ≈ 0.999
      val comps = (0 until 64).map { d =>
        val h = conv(substring(md5(concat(concept(0).cast("string"), lit(s"_d$d"))), 1, 15), 16, 10)
        (h.cast("double") / lit(math.pow(2, 60)) - 0.5) + sin(col("id") * 97 + d) * 0.02
      }
      spark.range(n).select(col("id").as("vec_id"), array(comps: _*).as("vec"))
    }
    Seq(5000, 50000).foreach { n =>
      val docs = synthDocs(n, bigCluster = if (n >= 50000) 1000 else 0)
        .repartition(32).persist()
      docs.count()
      time(s"d03 minhash+LSH dedup, $n docs (10-member clusters" +
          (if (n >= 50000) " + one 1000-member cluster ⇒ shuffle fallback)" else ")")) {
        val pairs = graft.operators.TextDedup
          .minhashLshPairs(docs, "doc_id", "text")
        println(s"[scale]   pairs: ${pairs.count()}")
      }
      // d09: a FIXED 500-doc batch against this store's band index — the
      // per-batch cost must track batch + candidates, not store size.
      // Batch concepts 0-499 duplicate store clusters (at 50k, concept 0
      // alone matches the planted 1000-member cluster; the shuffle
      // fallback itself is spec-covered in DataPipelineSpec).
      val batch = {
        val words = (0 until 15).map(j =>
          substring(md5(concat(col("id").cast("string"), lit(s"_$j"))), 1, 7))
        spark.range(500).select((col("id") + 10000000L).as("doc_id"),
          concat_ws(" ", words: _*).as("text"))
      }
      val index = graft.operators.IncrementalDedup
        .bandIndex(docs, "doc_id", "text").persist()
      time(s"d09 band-index build, $n docs (amortized across batches)") {
        index.count()
      }
      time(s"d09 incremental dedup, 500-doc batch vs $n-doc index") {
        val hits = graft.operators.IncrementalDedup
          .dedupAgainst(index, docs, batch, "doc_id", "text")
        println(s"[scale]   batch hits: ${hits.count()}")
      }
      index.unpersist()
      docs.unpersist()

      // band width scales with corpus size (8 bits at 5k, 16 at 50k):
      // keeping bits ∝ log n holds per-band bucket occupancy — and so
      // candidate volume — near-linear; a fixed width would admit a
      // constant FRACTION of all pairs (quadratic growth). Planes are
      // corpus vectors sampled with a stride so they span distinct
      // clusters (the first-128 prefix would yield ~13 near-identical
      // normals and degenerate band keys).
      val bands = 16
      val bitsPerBand = if (n >= 50000) 16 else 8
      val vecs = synthVecs(n).repartition(32).persist()
      vecs.count()
      time(s"d05 banded near-dup LSH, $n vectors (64-dim, $bands bands × $bitsPerBand bits)") {
        val numPlanes = bands * bitsPerBand
        val planes = vecs.filter(col("vec_id") % (n / numPlanes) === 0)
          .orderBy("vec_id").limit(numPlanes)
          .select("vec").collect().map(_.getSeq[Double](0).toSeq).toSeq
        val pairs = graft.operators.VectorSearch
          .cosineNearDupPairs(vecs, "vec_id", "vec", 0.9, planes, bands = bands)
        println(s"[scale]   pairs: ${pairs.count()}")
      }
      vecs.unpersist()
    }
  }

  private def cdcSmoke(spark: SparkSession, dir: String): Unit = {

    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val keys = Seq("l_orderkey", "l_linenumber")
    val root = Files.createTempDirectory("scale").toString

    val store = time("initial load 600k rows / 64 buckets") {
      graft.sources.BucketedTableStore.create(spark, s"$root/li", keys, li, numBuckets = 64)
    }

    // big batch: every row updated twice (dedup must collapse), 10% deleted
    val big = li.select(col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") + 1).as("l_quantity"), col("l_extendedprice"),
        col("l_partkey"), col("l_suppkey"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .withColumn("Op", when(col("l_orderkey") % 10 === 0, "D").otherwise("U"))
      .withColumn("load_timestamp", to_timestamp(lit("2030-01-01 00:00:00")))
      .withColumn("ingestion_seq", lit(1L))
    val bigDup = big.unionAll(big.withColumn("ingestion_seq", lit(2L))
      .withColumn("l_quantity", col("l_quantity") + 1))

    time("dedup 1.2M-row batch -> 600k") {
      val d = graft.operators.CdcDedup.dedup(bigDup, keys, gate = true).persist()
      println(s"[scale] dedup rows: ${d.count()}")
      time("merge 600k-key batch (touches all 64 buckets)") {
        println(s"[scale] touched: ${store.merge(d)}")
      }
    }
    println(s"[scale] store rows after big merge: ${store.read().count()}")

    // small batch: 10k rows touching few keys
    val small = graft.operators.CdcDedup.dedup(
      bigDup.filter(col("l_orderkey") % 61 === 1), keys, gate = true).persist()
    println(s"[scale] small batch rows: ${small.count()}")
    time("merge 10k-row batch (partition-pruned)") {
      println(s"[scale] touched: ${store.merge(small)}")
    }
  }
}
