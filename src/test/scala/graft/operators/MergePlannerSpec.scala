package graft.operators

import java.nio.file.Files

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

  private def rows(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, k * 10L)).toDF("k", "v")
  }

  test("policy: small+concentrated=broadcast CoW, scattered=MoR delta, huge=shuffle CoW") {
    val th = Thresholds(broadcastMaxRows = 1000L, bucketFrac = 0.5)
    // concentrated trickle: 100 rows in 3 of 64 buckets
    assert(choose(Probe(100, 3), 64, th) == BroadcastCow)
    // exactly at the bucket boundary still CoW (<=)
    assert(choose(Probe(100, 32), 64, th) == BroadcastCow)
    // scattered trickle: 100 rows across 60 of 64 buckets — rewriting
    // 94% of the table for 100 rows is the MoR case
    assert(choose(Probe(100, 60), 64, th) == MorDelta)
    // backfill: size dominates every other signal
    assert(choose(Probe(5000, 3), 64, th) == ShuffleCow)
    assert(choose(Probe(5000, 60), 64, th) == ShuffleCow)
  }

  test("probe: exact rows, near-exact touched buckets") {
    // 600 rows: 500 on one hot key (one bucket), 100 spread over the
    // key space
    val hot = rows(Seq.fill(500)(7L)) .unionAll(rows(1000L until 1100L))
    val p = probe(hot, Seq("k"), numBuckets = 16)
    assert(p.rows == 600)
    // 100 spread keys over 16 buckets: every bucket touched; HLL at 5%
    // error must land within ±3 of 16
    assert(p.bucketsTouched >= 13 && p.bucketsTouched <= 19, p.toString)
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
    // the probe equals a standalone probe of the DEDUPED output —
    // dedup keeps one row per key, so rows == distinct keys and the
    // bucket set is unchanged (HLL registers see the same value set)
    val ref = probe(CdcDedup.dedup(dup, Seq("id")), Seq("id"), 8)
    assert(p1.rows == ref.rows && p1.bucketsTouched == ref.bucketsTouched,
      s"fused probe $p1 diverged from standalone $ref")
    // key-unique batch: the gate must take the skip path — no window
    // in the plan, same probe contract
    val uniq = Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
    val (d2, p2) = CdcDedup.dedupAndProbe(uniq, Seq("id"), 8)
    assert(d2.collect().map(_.toSeq).toSet
      == uniq.collect().map(_.toSeq).toSet)
    assert(!d2.queryExecution.optimizedPlan.toString.contains("row_number"),
      "a key-unique batch must skip the window shuffle")
    val refU = probe(uniq, Seq("id"), 8)
    assert(p2.rows == 2 && p2.bucketsTouched == refU.bucketsTouched)
  }
}
