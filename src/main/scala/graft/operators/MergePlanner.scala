package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.{BucketedTableStore, MorStore}

/** Per-BATCH physical strategy for the CDC MERGE — the reference
  * writes every batch through one fixed MERGE statement and lets its
  * warehouse plan it (firebolt-cdc-lambda `merge_handler.py`: one
  * statement shape for 1-row and 1M-row files alike); on Spark the
  * right physical plan depends on the batch, and picking it statically
  * wastes exactly one of the three cost models:
  *
  *  - '''BroadcastCow''' — the typical CDC file: small enough to
  *    broadcast AND concentrated on a small slice of the table's
  *    buckets. Bucket-pruned copy-on-write rewrite with the staging
  *    side broadcast ([[graft.sources.BucketedTableStore.merge]]'s
  *    shape): zero exchanges of the target, reads stay pure scans.
  *  - '''ShuffleCow''' — a backfill-sized batch: too big to broadcast,
  *    but rewriting is amortized because the batch REPLACES a large
  *    fraction of the table. Same rewrite with a shuffle join
  *    ([[CdcMerge]] `broadcastStaging = false`).
  *  - '''MorDelta''' — a batch that SCATTERS across most buckets
  *    (e.g. a trickle of updates uniform over the key space):
  *    copy-on-write would rewrite nearly the whole table to change a
  *    sliver, so the batch commits as an O(batch) merge-on-read delta
  *    ([[graft.sources.MorStore.commitDelta]]) instead, deferring the
  *    rewrite to compaction.
  *
  * The decision costs ONE small aggregation over the staging batch
  * (row count + approximate distinct count of the target bucket id)
  * plus, optionally, a Count-Min probe bounding the hottest bucket's
  * share — the [[CountMin]] upper-bound trick: for every key k and
  * sketch row r, true(k) ≤ cell_r(h_r(k)) ≤ max_cell(r), so
  * min over rows of the row-max bounds the heaviest key from above
  * without knowing which key it is. The hot-share bound feeds the
  * SALTING decision inside ShuffleCow (a skewed backfill salts only
  * its hot slice, [[SkewJoin.hybridSkewJoin]]); it does not move the
  * strategy boundary, because CoW rewrite cost is bucket-count-driven,
  * not skew-driven.
  *
  * At 100 TB the probe is what makes adaptivity affordable: counting
  * rows and approximating distinct buckets is one map-side-combined
  * pass over the BATCH (never the table), and the strategy it picks
  * changes the write cost by orders of magnitude in both directions.
  */
object MergePlanner {

  sealed trait Strategy
  case object BroadcastCow extends Strategy
  case object ShuffleCow extends Strategy
  case object MorDelta extends Strategy

  /** What one probe pass observed about a staging batch.
    *
    * @param rows           exact batch row count
    * @param bucketsTouched approx distinct target buckets (HLL++,
    *                       default 5% relative error — strategy
    *                       boundaries are coarse, the error is noise)
    * @param hotBucketMax   upper bound on the hottest bucket's row
    *                       count (Count-Min row-max minimum), -1 if
    *                       the CM probe was skipped
    */
  final case class Probe(rows: Long, bucketsTouched: Long, hotBucketMax: Long) {
    def touchedFrac(numBuckets: Int): Double =
      if (numBuckets <= 0) 1.0 else bucketsTouched.toDouble / numBuckets
    def hotShare: Double =
      if (rows <= 0 || hotBucketMax < 0) 0.0 else hotBucketMax.toDouble / rows
  }

  /** Strategy boundaries.
    *
    * @param broadcastMaxRows biggest batch the driver should ship as a
    *   broadcast (rows, not bytes: CDC rows are bounded-width — pick
    *   so rows × row-width ≲ the 8 GB broadcast-table hard cap with
    *   slack; the default ≈ tens of MB for typical CDC rows)
    * @param bucketFrac CoW-vs-MoR boundary: a batch touching more than
    *   this fraction of the table's buckets pays (touched/all) of a
    *   full rewrite — past ~half, the rewrite no longer prunes enough
    *   to beat an O(batch) delta + amortized compaction
    */
  final case class Thresholds(
      broadcastMaxRows: Long = 2000000L,
      bucketFrac: Double = 0.5)

  /** One aggregation pass over the batch: exact rows + approx distinct
    * buckets (+ optional Count-Min hottest-bucket bound, a second
    * sketch-sized aggregate). `keys` and `numBuckets` must match the
    * target store's bucketing or the touch estimate is meaningless.
    */
  def probe(staging: DataFrame, keys: Seq[String], numBuckets: Int,
      withHotBound: Boolean = false): Probe = {
    val bucket = pmod(hash(keys.map(col): _*), lit(numBuckets))
    val r = staging
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(bucket).as("b"))
      .head()
    val hot =
      if (!withHotBound) -1L
      else {
        // CM row-max minimum: an upper bound on the heaviest bucket
        // ([[CountMin.heaviestKeyBound]]). depth 4 × width 2048 ≈ 8k
        // cells — sketch-sized regardless of batch size, map-side
        // combined like every CountMin build.
        CountMin.heaviestKeyBound(CountMin.build(
          staging.select(bucket.cast("string").as("__bkt")),
          "__bkt", depth = 4, width = 2048))
      }
    Probe(r.getLong(0), r.getLong(1), hot)
  }

  /** The policy — pure and total, so the spec enumerates it directly. */
  def choose(p: Probe, numBuckets: Int,
      th: Thresholds = Thresholds()): Strategy =
    if (p.rows > th.broadcastMaxRows) ShuffleCow
    else if (p.touchedFrac(numBuckets) <= th.bucketFrac) BroadcastCow
    else MorDelta

  /** Probe-and-dispatch against a CoW home store with a MoR delta
    * side-table for scattered batches (the Hudi-style pairing: the
    * bucketed table is the read-optimized view; `morSide` accumulates
    * scatter until its compaction folds it back). Returns the strategy
    * taken so callers/specs can assert the routing.
    *
    * ORDERING: once any batch lands in `morSide`, a later CoW merge
    * of overlapping keys would apply out of order — so a CoW-routed
    * batch [[drain]]s the side FIRST (one amortized rewrite of the
    * accumulated net changes), then merges. Readers of the pair use
    * [[resolvedView]] between drains. [[graft.pipeline.CdcPipeline]]
    * runs the same protocol per table.
    */
  /** The resolved current view of a CoW home with an undrained MoR
    * side: net side ops applied on top (deletes drop, upserts replace;
    * upsert rows are projected to the home schema — scatter batches
    * may carry staging metadata the home's merge intersection would
    * have dropped, and may lack columns a later evolution added).
    */
  def resolvedView(cow: BucketedTableStore, morSide: MorStore): DataFrame = {
    val home = cow.read()
    if (morSide.isEmpty) home
    else {
      val net = morSide.netChanges()
      val upserts = net.filter(col(morSide.OpCol) === "U")
      val aligned = upserts.select(home.columns.toSeq.map(c =>
        if (upserts.columns.contains(c)) col(c)
        else lit(null).cast(home.schema(c).dataType).as(c)): _*)
      home.join(net.select(cow.keys.map(col): _*), cow.keys, "left_anti")
        .unionByName(aligned)
    }
  }

  /** Normalize a CDC batch into a MoR delta that reproduces the CoW
    * merge EXACTLY: the merge's WHEN-NOT-MATCHED insert applies to
    * every staging row — including deletes — so a D on a key ABSENT
    * from the current resolved state must land as an INSERT of the
    * staged row (the reference's unmatched-delete behavior,
    * handler.py:876-946), while a D on a present key deletes it. The
    * presence probe broadcasts the batch's keys into ONE column-pruned
    * scan of home ∪ side — still O(scan) cheaper than the
    * whole-table rewrite the delta route avoided.
    */
  private[graft] def normalizeDelta(cow: BucketedTableStore, morSide: MorStore,
      staging: DataFrame, opCol: String): DataFrame = {
    val keys = cow.keys
    val present = resolvedView(cow, morSide).select(keys.map(col): _*)
      .join(broadcast(staging.select(keys.map(col): _*)), keys, "left_semi")
      .withColumn("__present", lit(true))
    staging.join(broadcast(present), keys, "left")
      .withColumn(morSide.OpCol,
        when(col(opCol) === "D" && col("__present"), lit("D"))
          .otherwise(lit("U")))
      .drop("__present", opCol)
  }

  def mergeAdaptive(
      cow: BucketedTableStore, morSide: MorStore, staging: DataFrame,
      opCol: String = "__op",
      th: Thresholds = Thresholds()): Strategy = {
    val p = probe(staging.drop(opCol), cow.keys, cow.numBuckets)
    val chosen = choose(p, cow.numBuckets, th)
    chosen match {
      case MorDelta =>
        // a first delta bootstraps the side's EMPTY base (all live data
        // is in the CoW home), so its resolve is exactly the scatter
        morSide.commitDelta(normalizeDelta(cow, morSide, staging, opCol),
          morSide.freshTs())
      case _ =>
        // fold any accumulated scatter home first — per-key apply
        // order must match the batch arrival order
        drain(cow, morSide, th)
        // both CoW flavors route through the store's bucket-pruned
        // rewrite; the broadcast hint follows the decision
        cow.merge(staging, deleteCol = opCol, deleteVals = Seq("D"),
          broadcastStaging = chosen == BroadcastCow)
    }
    chosen
  }

  /** Fold the MoR side-table's accumulated scatter back into the CoW
    * home and reset it — the drain the [[mergeAdaptive]] ordering
    * contract requires before a CoW merge of overlapping keys. ONE
    * bucket-pruned rewrite applies the NET per-key change
    * ([[graft.sources.MorStore.netChanges]] — latest op wins, deletes
    * included), so N scattered MorDelta batches cost one amortized
    * rewrite instead of N; the broadcast hint follows the net batch's
    * size through the same threshold the per-batch routing uses.
    * Returns touched bucket count (0 when the side was already empty).
    *
    * The reset commits an empty BASE generation, so a crash between
    * the merge and the reset replays the net changes — idempotent,
    * because the net batch is last-write-wins against rows it already
    * wrote.
    */
  def drain(cow: BucketedTableStore, morSide: MorStore,
      th: Thresholds = Thresholds()): Int =
    if (morSide.isEmpty) 0
    else {
      val net = morSide.netChanges()
      val rows = net.count()
      val touched = cow.merge(net.drop(morSide.SeqCol),
        deleteCol = morSide.OpCol, deleteVals = Seq("D"),
        broadcastStaging = rows <= th.broadcastMaxRows)
      morSide.commitBase(net.filter(lit(false)).drop(
        morSide.OpCol, morSide.SeqCol), morSide.freshTs())
      touched
    }
}
