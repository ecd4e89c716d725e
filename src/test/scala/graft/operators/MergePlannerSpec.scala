package graft.operators

import java.nio.file.Files

import scala.collection.immutable.BitSet

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BucketedTableStore, MorStore}

/** Per-batch merge strategy: the probe's observations, the policy's
  * boundaries, the adaptive dispatch routing real batches to the
  * store whose cost model fits, and the physical broadcast contract
  * following the decision.
  */
class MergePlannerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import MergePlanner._

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft-$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/t"
  }

  /** A bucket set of `n` buckets, for policy literals. */
  private def bits(n: Int) = BitSet(0 until n: _*)

  /** The distinct buckets of `df`'s keys, computed directly. */
  private def bucketsOf(df: DataFrame, keys: Seq[String], numBuckets: Int): BitSet =
    BitSet(df.select(BucketedTableStore.bucketExpr(keys, numBuckets)).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq: _*)

  private def rows(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, k * 10L)).toDF("k", "v")
  }

  test("policy: small+concentrated=broadcast CoW, scattered=MoR delta, huge=shuffle CoW") {
    val th = Thresholds(broadcastMaxRows = 1000L, bucketFrac = 0.5)
    // concentrated trickle: 100 rows in 3 of 64 buckets
    assert(choose(Probe(100, bits(3)), 64, th) == BroadcastCow)
    // exactly at the bucket boundary still CoW (<=)
    assert(choose(Probe(100, bits(32)), 64, th) == BroadcastCow)
    // scattered trickle: 100 rows across 60 of 64 buckets — rewriting
    // 94% of the table for 100 rows is the MoR case
    assert(choose(Probe(100, bits(60)), 64, th) == MorDelta)
    // backfill: size dominates every other signal
    assert(choose(Probe(5000, bits(3)), 64, th) == ShuffleCow)
    assert(choose(Probe(5000, bits(60)), 64, th) == ShuffleCow)
  }

  test("probe: exact rows, exact touched buckets") {
    // 600 rows: 500 on one hot key (one bucket), 100 spread over the
    // key space
    val hot = rows(Seq.fill(500)(7L)) .unionAll(rows(1000L until 1100L))
      .withColumn(CdcDedup.IngestionSeqCol, monotonically_increasing_id())
    val (_, p) = CdcDedup.dedupAndProbe(hot, Seq("k"), numBuckets = 16)
    assert(p.rows == 101, p.toString)
    assert(p.buckets == bucketsOf(hot, Seq("k"), 16), p.toString)
    assert(p.bucketsTouched == p.buckets.size)
  }

  test("adaptive dispatch routes each batch shape to the matching store") {
    import spark.implicits._
    val cow = BucketedTableStore.create(spark, freshDir("mp-cow"),
      Seq("k"), initial = rows(0L until 1600L), numBuckets = 16)
    val mor = new MorStore(spark, freshDir("mp-mor"), Seq("k"))
    val th = Thresholds(broadcastMaxRows = 500L, bucketFrac = 0.5)
    // the pipeline's path: the dedup gate's fused probe feeds the routing
    def route(batch: DataFrame): Strategy = {
      val (dedup, p) = CdcDedup.dedupAndProbe(batch, Seq("k"), cow.numBuckets)
      mergeAdaptive(cow, mor, dedup, p, th = th)._1
    }
    // 1. concentrated CDC file: keys 0..15 share bucket structure —
    //    pick keys hashing into few buckets by construction (multiples
    //    of 16 hash differently; just use a handful of keys)
    val small = Seq((3L, 999L, "U"), (4L, 999L, "U")).toDF("k", "v", "Op")
    assert(route(small) == BroadcastCow)
    assert(cow.read().filter(col("k") === 3L).head().getLong(1) == 999L)
    assert(mor.isEmpty, "concentrated batch must not land in the MoR side")
    // 2. scattered trickle: 200 distinct keys spread over the space —
    //    touches most of 16 buckets, stays under the row cap
    val scatter = rows(0L until 200L by 1L).withColumn("v", col("v") + 1L)
      .withColumn("Op", lit("U"))
    assert(route(scatter) == MorDelta)
    assert(!mor.isEmpty, "scattered batch must land as a MoR delta")
    assert(mor.read().count() == 200)
    assert(cow.read().filter(col("k") === 5L).head().getLong(1) == 50L,
      "scattered batch must NOT rewrite the CoW store")
    // 3. backfill: over the row cap → shuffle CoW, which DRAINS the
    //    side first (per-key apply order), then rewrites
    val backfill = rows(0L until 800L).withColumn("v", col("v") + 7L)
      .withColumn("Op", lit("U"))
    assert(route(backfill) == ShuffleCow)
    assert(mor.netChanges().isEmpty,
      "a CoW-routed batch must drain the accumulated scatter first")
    assert(cow.read().filter(col("k") === 5L).head().getLong(1) == 57L)
    // key 1500 was never in the scatter or backfill: drain + rewrite
    // must leave untouched keys at their initial values (v = 10k)
    assert(cow.read().filter(col("k") === 1500L).head().getLong(1) == 15000L)
  }

  test("plan contract: the broadcast hint follows the decision") {
    import spark.implicits._
    // pin AQE's own small-table broadcasting OFF so the only broadcast
    // in the plan is the one the strategy asked for
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val target = rows(0L until 100L)
      val staging = Seq((1L, 11L, "U")).toDF("k", "v", "Op")
      def planOf(broadcastStaging: Boolean): String =
        CdcMerge(target, staging, Seq("k"), "Op", Seq("D"),
          broadcastStaging = broadcastStaging, persistStaging = false)
          .queryExecution.executedPlan.toString
      assert(planOf(true).contains("BroadcastHashJoin"),
        "BroadcastCow/small-batch path must broadcast the staging side")
      assert(!planOf(false).contains("BroadcastHashJoin"),
        "ShuffleCow/backfill path must not force a broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("fused gate+probe: one pass reproduces dedup() and probe() exactly") {
    import spark.implicits._
    // duplicated-key batch: the gate must take the window path
    val dup = Seq(
      (1L, "old", "2024-01-01 00:00:00"),
      (1L, "new", "2024-06-01 00:00:00"),
      (2L, "only", "2024-01-01 00:00:00"))
      .toDF("id", "payload", "lts")
      .withColumn("load_timestamp", col("lts").cast("timestamp"))
      .drop("lts")
    val (d1, p1) = CdcDedup.dedupAndProbe(dup, Seq("id"), numBuckets = 8)
    assert(d1.collect().map(_.toSeq).toSet
      == CdcDedup.dedup(dup, Seq("id")).collect().map(_.toSeq).toSet,
      "fused dedup diverged from dedup()")
    assert(d1.filter(col("payload") === "new").count() == 1,
      "the cascade's newest-load_timestamp winner changed")
    // the probe describes the DEDUPED output — dedup keeps one row per
    // key, so rows == distinct keys and the bucket set is unchanged
    val ref = CdcDedup.dedup(dup, Seq("id"))
    assert(p1.rows == ref.count() && p1.buckets == bucketsOf(ref, Seq("id"), 8),
      s"fused probe $p1 diverged from the deduped batch")
    // key-unique batch: the gate must take the skip path — no window
    // in the plan, same probe contract
    val uniq = Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
    val (d2, p2) = CdcDedup.dedupAndProbe(uniq, Seq("id"), 8)
    assert(d2.collect().map(_.toSeq).toSet
      == uniq.collect().map(_.toSeq).toSet)
    assert(!d2.queryExecution.optimizedPlan.toString.contains("row_number"),
      "a key-unique batch must skip the window shuffle")
    assert(p2.rows == 2 && p2.buckets == bucketsOf(uniq, Seq("id"), 8))
  }

  // ── exactness of the bucket set ────────────────────────────────────

  test("probe: the bucket set is the deduplicated batch's (multi-column keys, nulls, ties)") {
    import spark.implicits._
    val spread = (0 until 300).map(i =>
      (Option(i % 50L), Option(s"s${i % 7}"), s"v$i", if (i % 11 == 0) "D" else "U",
        s"2026-01-0${1 + i % 3} 00:00:00"))
    val odd = Seq(
      (Option(1L), Option("a"), "x1", "U", "2026-02-01 00:00:00"),
      (Option(1L), Option("a"), "x2", "D", "2026-02-01 00:00:00"), // tie: D wins
      (Option.empty[Long], Option("b"), "n1", "I", "2026-02-01 00:00:00"), // null key part
      (Option.empty[Long], Option("b"), "n2", "U", "2026-02-02 00:00:00"),
      (Option(2L), Option.empty[String], "n3", "I", "2026-02-01 00:00:00"),
      (Option.empty[Long], Option.empty[String], "n4", "I", "2026-02-01 00:00:00"))
    val batch = (spread ++ odd).toDF("k1", "k2", "v", "Op", "lts")
      .withColumn("load_timestamp", col("lts").cast("timestamp")).drop("lts")
    val keys = Seq("k1", "k2")
    Seq(8, 64, 1000).foreach { nb =>
      val (d, p) = CdcDedup.dedupAndProbe(batch, keys, nb)
      assert(p.buckets == bucketsOf(d, keys, nb), s"$nb buckets: $p")
      assert(p.rows == d.count() && p.rows == batch.select(keys.map(col): _*).distinct().count(),
        s"$nb buckets: $p")
    }
    val (d, _) = CdcDedup.dedupAndProbe(batch, keys, 8)
    assert(d.filter(col("k1") === 1L && col("k2") === "a").head().getAs[String]("Op") == "D")
    assert(d.filter(col("k1").isNull && col("k2") === "b").head().getAs[String]("v") == "n2")
    assert(d.filter(col("k1").isNull && col("k2").isNull).count() == 1)
  }

  test("merge: a given bucket set rewrites exactly what the merge's own pass finds") {
    import spark.implicits._
    val initial = rows(0L until 500L)
    val withSet = BucketedTableStore.create(spark, freshDir("bs-given"), Seq("k"), initial, 16)
    val computed = BucketedTableStore.create(spark, freshDir("bs-own"), Seq("k"), initial, 16)
    val batch = Seq((3L, 1L, "U"), (4L, 0L, "D"), (77L, 7L, "U"), (9000L, 9L, "I"), (9001L, 0L, "D"))
      .toDF("k", "v", "Op")
    val (d, p) = CdcDedup.dedupAndProbe(batch, Seq("k"), 16)
    val touchedGiven = withSet.merge(d, buckets = Some(p.buckets))
    val touchedOwn = computed.merge(d)
    assert(touchedGiven == touchedOwn && touchedGiven == p.buckets.size)
    def state(st: BucketedTableStore) = st.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(state(withSet) == state(computed))
    assert(state(withSet).contains(9001L -> 0L), "the unmatched delete is inserted")
    assert(!state(withSet).exists(_._1 == 4L))
    assert(withSet.merge(d.limit(0), buckets = Some(BitSet.empty)) == 0)
  }

  test("drain: the logged bucket sets give the drain its buckets; a side without them still drains") {
    import spark.implicits._
    val th = Thresholds(broadcastMaxRows = 500L, bucketFrac = 0.1)
    def fixture(tag: String) = {
      val cow = BucketedTableStore.create(spark, freshDir(s"dr-$tag"), Seq("k"), rows(0L until 400L), 16)
      val sideRoot = freshDir(s"dr-side-$tag")
      (cow, new MorStore(spark, sideRoot, Seq("k")), sideRoot)
    }
    val scatter = (100L until 140L).map(k => (k, k + 1L, if (k % 10 == 0) "D" else "U"))
      .toDF("k", "v", "Op")
    def state(cow: BucketedTableStore) = cow.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

    // logged: mergeAdaptive's MoR route records the probe's set
    val (cowA, sideA, _) = fixture("logged")
    val (dA, pA) = CdcDedup.dedupAndProbe(scatter, Seq("k"), 16)
    assert(mergeAdaptive(cowA, sideA, dA, pA, th)._1 == MorDelta)
    assert(sideA.loggedBucketsSinceBase.contains(pA.buckets))
    assert(drain(cowA, sideA, th) == pA.buckets.size)
    assert(sideA.knownEmpty && sideA.loggedBucketsSinceBase.contains(BitSet.empty))

    // unlogged: an entry written before sets were logged has no field
    val (cowB, sideB, rootB) = fixture("old")
    sideB.commitDelta(normalizeDelta(cowB, sideB, dA, "Op"), 10L)
    new java.io.File(s"$rootB/_log").listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      val m = graft.sources.CommitLog.json.readValue(f, classOf[java.util.Map[String, Object]])
      assert(!m.containsKey("buckets") || m.get("buckets") == null)
      m.remove("buckets")
      graft.sources.CommitLog.json.writeValue(f, m)
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    }
    assert(sideB.loggedBucketsSinceBase.isEmpty)
    assert(drain(cowB, sideB, th) == pA.buckets.size)
    assert(sideB.knownEmpty)
    assert(state(cowB) == state(cowA))
    assert(!state(cowA).exists(_._1 == 110L) && state(cowA).contains(101L -> 102L))
  }

  test("normalizeDelta: the batch's bucket set gives the same delta as a full home probe") {
    import spark.implicits._
    val cow = BucketedTableStore.create(spark, freshDir("nd-cow"), Seq("k"), rows(0L until 200L), 16)
    val side = new MorStore(spark, freshDir("nd-side"), Seq("k"))
    // an undrained side: key 5 deleted, key 500 upserted
    side.commitDelta(Seq((5L, 0L, "D"), (500L, 5000L, "U")).toDF("k", "v", side.OpCol), 1L)
    val batch = Seq(
      (7L, 70L, "D"),     // present in the home: deletes
      (5L, 50L, "D"),     // deleted by the side: unmatched, inserted
      (999L, 9L, "D"),    // never present: unmatched, inserted
      (500L, 1L, "D"),    // present through the side: deletes
      (8L, 81L, "U"))
      .toDF("k", "v", "Op")
    val (d, p) = CdcDedup.dedupAndProbe(batch, Seq("k"), 16)
    def ops(buckets: Option[BitSet]) = normalizeDelta(cow, side, d, "Op", buckets).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String](side.OpCol)).toMap
    val full = ops(None)
    assert(full == Map(7L -> "D", 5L -> "U", 999L -> "U", 500L -> "D", 8L -> "U"), full)
    assert(ops(Some(p.buckets)) == full)
    assert(cow.read(p.buckets).count() < 200, "the probe reads only the batch's buckets")
  }
}
