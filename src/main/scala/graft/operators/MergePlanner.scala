package graft.operators

import org.apache.spark.sql.DataFrame
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
  * (row count + approximate distinct count of the target bucket id),
  * which the pipeline fuses into its dedup gate
  * ([[CdcDedup.dedupAndProbe]]).
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
    */
  final case class Probe(rows: Long, bucketsTouched: Long) {
    def touchedFrac(numBuckets: Int): Double =
      if (numBuckets <= 0) 1.0 else bucketsTouched.toDouble / numBuckets
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
    * buckets. `keys` and `numBuckets` must match the target store's
    * bucketing or the touch estimate is meaningless.
    */
  def probe(staging: DataFrame, keys: Seq[String], numBuckets: Int): Probe = {
    val r = staging
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(pmod(hash(keys.map(col): _*), lit(numBuckets))).as("b"))
      .head()
    Probe(r.getLong(0), r.getLong(1))
  }

  /** The policy — pure and total, so the spec enumerates it directly. */
  def choose(p: Probe, numBuckets: Int,
      th: Thresholds = Thresholds()): Strategy =
    if (p.rows > th.broadcastMaxRows) ShuffleCow
    else if (p.touchedFrac(numBuckets) <= th.bucketFrac) BroadcastCow
    else MorDelta

  /** The resolved current view of a CoW home with an undrained MoR
    * side: net side ops applied on top (deletes drop, upserts replace;
    * upsert rows are projected to the home schema — scatter batches
    * may carry staging metadata the home's merge intersection would
    * have dropped, and may lack columns a later evolution added). A
    * side the log shows empty ([[MorStore.knownEmpty]]: never written,
    * or drained) is not resolved at all: the view is the home's read.
    */
  def resolvedView(cow: BucketedTableStore, morSide: MorStore): DataFrame = {
    val home = cow.read()
    if (morSide.knownEmpty) home
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

  /** Dispatch one deduplicated CDC batch against a CoW home store with
    * a MoR delta side-table for scattered batches (the Hudi-style
    * pairing: the bucketed table is the read-optimized view; `morSide`
    * accumulates scatter until a drain folds it back). `p` is the
    * batch's probe, taken by the dedup gate's aggregation
    * ([[CdcDedup.dedupAndProbe]]), so routing starts no job of its own.
    * The batch's `Op` column holds the CDC op: `"D"` deletes, anything
    * else upserts. Returns the strategy taken and the touched bucket
    * count (0 for a MoR delta).
    *
    * ORDERING: once any batch lands in `morSide`, a later CoW merge
    * of overlapping keys would apply out of order — so a CoW-routed
    * batch [[drain]]s the side FIRST (one amortized rewrite of the
    * accumulated net changes), then merges. Readers of the pair use
    * [[resolvedView]] between drains.
    */
  def mergeAdaptive(
      cow: BucketedTableStore, morSide: MorStore, batch: DataFrame, p: Probe,
      th: Thresholds = Thresholds()): (Strategy, Int) =
    choose(p, cow.numBuckets, th) match {
      case MorDelta =>
        // normalizeDelta reproduces the CoW merge's semantics exactly,
        // including the WHEN-NOT-MATCHED insert of unmatched DELETE
        // rows; a first delta bootstraps the side's EMPTY base (all
        // live data is in the CoW home)
        morSide.commitDelta(normalizeDelta(cow, morSide, batch, "Op"),
          morSide.freshTs())
        (MorDelta, 0)
      case chosen =>
        // fold any accumulated scatter home first — per-key apply
        // order must match the batch arrival order; both CoW flavors
        // route through the store's bucket-pruned rewrite, the
        // broadcast hint following the decision
        drain(cow, morSide, th)
        (chosen, cow.merge(batch, broadcastStaging = chosen == BroadcastCow))
    }

  /** Fold the MoR side-table's accumulated scatter back into the CoW
    * home and reset it — the drain the [[mergeAdaptive]] ordering
    * contract requires before a CoW merge of overlapping keys. ONE
    * bucket-pruned rewrite applies the NET per-key change
    * ([[graft.sources.MorStore.netChanges]] — latest op wins, deletes
    * included), so N scattered MorDelta batches cost one amortized
    * rewrite instead of N. The broadcast hint follows the same row
    * threshold the per-batch routing uses, applied to the rows the side's
    * log counts from its newest base onward — an upper bound on the net
    * rows, known without a job; a side whose log lacks a count takes the
    * shuffle merge. Returns touched bucket count.
    *
    * The reset commits an empty BASE generation logged with 0 rows, so a
    * crash between the merge and the reset replays the net changes —
    * idempotent, because the net batch is last-write-wins against rows
    * it already wrote. A side the log shows empty
    * ([[MorStore.knownEmpty]]: never written, or already drained) is a
    * no-op that reads no data, starts no Spark job and commits nothing,
    * returning 0.
    */
  def drain(cow: BucketedTableStore, morSide: MorStore,
      th: Thresholds = Thresholds()): Int =
    if (morSide.knownEmpty) 0
    else {
      val net = morSide.netChanges()
      val touched = cow.merge(net.drop(morSide.SeqCol),
        deleteCol = morSide.OpCol, deleteVals = Seq("D"),
        broadcastStaging = morSide.loggedRowsSinceBase.exists(_ <= th.broadcastMaxRows))
      morSide.commitBase(net.filter(lit(false)).drop(
        morSide.OpCol, morSide.SeqCol), morSide.freshTs())
      touched
    }
}
