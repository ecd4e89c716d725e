package graft.operators

import scala.collection.immutable.BitSet

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * The decision costs ONE small aggregation over the staging batch,
  * grouped by the target bucket id (exact row count + exact touched
  * bucket set), which the pipeline fuses into its dedup gate
  * ([[CdcDedup.dedupAndProbe]]). The same set then tells the CoW merge
  * which buckets to rewrite, and the MoR route logs it with its delta
  * so a drain knows its buckets from the log.
  *
  * At 100 TB the probe is what makes adaptivity affordable: it is one
  * map-side-combined pass over the BATCH (never the table), and the
  * strategy it picks changes the write cost by orders of magnitude in
  * both directions.
  */
object MergePlanner {

  sealed trait Strategy
  case object BroadcastCow extends Strategy
  case object ShuffleCow extends Strategy
  case object MorDelta extends Strategy

  /** What one probe pass observed about a staging batch; every field
    * is exact.
    *
    * @param rows    deduplicated row count (the batch's distinct keys)
    * @param buckets the target buckets the batch's keys hash to
    */
  final case class Probe(rows: Long, buckets: BitSet) {
    def bucketsTouched: Long = buckets.size
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
  def resolvedView(cow: BucketedTableStore, morSide: MorStore): DataFrame =
    resolve(cow.read(), cow, morSide)

  /** [[resolvedView]] over `home`, all of the CoW home or a slice of it. */
  private def resolve(home: DataFrame, cow: BucketedTableStore, morSide: MorStore): DataFrame =
    if (morSide.knownEmpty) home
    else {
      val net = morSide.netChanges().localCheckpoint(eager = false)
      val upserts = net.filter(col(morSide.OpCol) === "U")
      val aligned = upserts.select(home.columns.toSeq.map(c =>
        if (upserts.columns.contains(c)) col(c)
        else lit(null).cast(home.schema(c).dataType).as(c)): _*)
      home.join(net.select(cow.keys.map(col): _*), cow.keys, "left_anti")
        .unionByName(aligned)
    }

  /** Normalize a CDC batch into a MoR delta that reproduces the CoW
    * merge EXACTLY: the merge's WHEN-NOT-MATCHED insert applies to
    * every staging row — including deletes — so a D on a key ABSENT
    * from the current resolved state must land as an INSERT of the
    * staged row (the reference's unmatched-delete behavior,
    * handler.py:876-946), while a D on a present key deletes it. The
    * presence probe broadcasts the batch's keys into ONE column-pruned
    * scan of home ∪ side — still O(scan) cheaper than the
    * whole-table rewrite the delta route avoided. Given the batch's
    * `buckets` (its probe's set), the home part of that scan reads only
    * those buckets; the side is resolved in full either way.
    */
  private[graft] def normalizeDelta(cow: BucketedTableStore, morSide: MorStore,
      staging: DataFrame, opCol: String, buckets: Option[BitSet] = None): DataFrame = {
    val keys = cow.keys
    val home = buckets.fold(cow.read())(cow.read)
    val present = resolve(home, cow, morSide).select(keys.map(col): _*)
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
    * The probe's bucket set rides along: the CoW merge rewrites exactly
    * those buckets, and a MoR delta logs them for its drain.
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
        morSide.commitDelta(normalizeDelta(cow, morSide, batch, "Op", Some(p.buckets)),
          morSide.freshTs(), buckets = Some(p.buckets))
        (MorDelta, 0)
      case chosen =>
        // fold any accumulated scatter home first — per-key apply
        // order must match the batch arrival order; both CoW flavors
        // route through the store's bucket-pruned rewrite, the
        // broadcast hint following the decision
        drain(cow, morSide, th)
        (chosen, cow.merge(batch, broadcastStaging = chosen == BroadcastCow,
          buckets = Some(p.buckets)))
    }

  /** Fold the MoR side-table's accumulated scatter back into the CoW
    * home and reset it — the drain the [[mergeAdaptive]] ordering
    * contract requires before a CoW merge of overlapping keys. ONE
    * bucket-pruned rewrite applies the NET per-key change
    * ([[graft.sources.MorStore.netChanges]] — latest op wins, deletes
    * included), so N scattered MorDelta batches cost one amortized
    * rewrite instead of N. Two facts come from the side's log from its
    * newest base onward, with no job: the rows logged (an upper bound on
    * the net rows) pick the broadcast hint by the same row threshold the
    * per-batch routing uses, and the union of the logged bucket sets
    * tells the merge which buckets to rewrite. A side whose log lacks a
    * count takes the shuffle merge; one whose log lacks a set (or names
    * a bucket the home does not have) lets the merge find the buckets in
    * a pass of its own. The net changes are a lazy local checkpoint, as
    * a deduplicated batch is ([[CdcDedup.dedupAndProbe]]): their window
    * runs once for the merge's joins. Returns touched bucket count.
    *
    * The reset commits an empty BASE generation logged with 0 rows,
    * written on the driver ([[graft.sources.MorStore.commitEmptyBase]]),
    * so a crash between the merge and the reset replays the net changes
    * — idempotent, because the net batch is last-write-wins against rows
    * it already wrote. A side the log shows empty
    * ([[MorStore.knownEmpty]]: never written, or already drained) is a
    * no-op that reads no data, starts no Spark job and commits nothing,
    * returning 0.
    */
  def drain(cow: BucketedTableStore, morSide: MorStore,
      th: Thresholds = Thresholds()): Int =
    if (morSide.knownEmpty) 0
    else {
      val net = morSide.netChanges().localCheckpoint(eager = false)
      val touched = cow.merge(net.drop(morSide.SeqCol),
        deleteCol = morSide.OpCol, deleteVals = Seq("D"),
        broadcastStaging = morSide.loggedRowsSinceBase.exists(_ <= th.broadcastMaxRows),
        buckets = morSide.loggedBucketsSinceBase.filter(_.forall(_ < cow.numBuckets)))
      morSide.commitEmptyBase(StructType(net.schema.filterNot(f =>
        f.name == morSide.OpCol || f.name == morSide.SeqCol)), morSide.freshTs())
      touched
    }
}
