package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.TableCatalog

/** Exactly-once MULTI-TABLE sink from Structured Streaming into a
  * [[TableCatalog]] — each micro-batch derives several tables (say
  * the raw append AND a maintained rollup) and commits them as ONE
  * catalog generation, so a downstream reader can join them at any
  * generation and always see a mutually consistent cut of the
  * stream. [[SnapshotSink]] gives one table snapshot isolation; this
  * lifts the same batch-id idempotency to the cross-table commit.
  *
  * Exactly-once: the catalog generation records the micro-batch id
  * as its commit timestamp; [[commitBatch]] is a no-op for an id
  * already committed ([[graft.sources.CommitLog.once]]), so a
  * foreachBatch redelivery after a crash cannot double-apply ANY of
  * the tables (one generation entry covers them all, so there is no
  * state where only some tables took the batch).
  *
  * `derive` maps a micro-batch to each table's NEW full state given
  * its previous state (None at the first batch) — append is
  * `prev ∪ batch`, a maintained rollup is an
  * [[graft.operators.IncrementalView]] merge.
  */
object CatalogSink {

  /** Commit one micro-batch across all derived tables atomically;
    * returns the new generation, or -1 if `batchId` was already
    * committed (redelivery no-op).
    */
  def commitBatch(
      cat: TableCatalog, batch: DataFrame, batchId: Long,
      derive: Map[String, (Option[DataFrame], DataFrame) => DataFrame]): Long =
    commitBatchOn(cat, TableCatalog.Main, batch, batchId, derive)

  /** [[commitBatch]] against a BRANCH ref — the ingestion half of
    * STREAMING write-audit-publish: micro-batches land on the branch
    * (each one still a consistent multi-table cut of the branch's
    * line), main's readers see nothing until an audit passes and
    * [[TableCatalog.publishBranch]] fast-forwards every pending batch
    * in with one pointer swing. The redelivery check stays
    * catalog-GLOBAL (batch ids are logged per generation, whichever
    * ref carried them), so a crash-replay after a publish — when the
    * batch's generation now sits on MAIN's lineage — still no-ops.
    */
  def commitBatchOn(
      cat: TableCatalog, ref: String, batch: DataFrame, batchId: Long,
      derive: Map[String, (Option[DataFrame], DataFrame) => DataFrame]): Long =
    // a generation entry the ref's pointer never caught up to counts
    // as committed: the per-ref heal (TableCatalog.headOf) makes it
    // reader-visible, so the replayed batch no-ops against a durable cut
    cat.log.once(batchId) {
      cat.commitAllOn(ref, derived(cat, cat.headOf(ref), batch, derive),
        commitTsMillis = batchId)
    }

  /** Each derived table's new state from its state at `prevGen`. */
  private def derived(cat: TableCatalog, prevGen: Option[Long], batch: DataFrame,
      derive: Map[String, (Option[DataFrame], DataFrame) => DataFrame]): Map[String, DataFrame] =
    derive.map { case (t, fn) =>
      val prev = prevGen.flatMap { g =>
        cat.tableVersions(g).get(t).map(_ => cat.readAt(g, t))
      }
      t -> fn(prev, batch)
    }

  /** [[commitBatch]] with MoR members: `morDerive` maps the
    * micro-batch to each MoR member's CDC delta (base + __op rows;
    * the member's FIRST commit is its base). The fact table takes an
    * O(batch) delta while the derived snapshot tables rewrite, and
    * both land in ONE catalog generation — w14's atomic cut on w15's
    * write cost. Exactly-once covers the partial-crash window: a
    * member delta committed before a crash is recognized by its ts
    * and reused, never re-appended ([[TableCatalog.commitAllWith]]).
    */
  def commitBatchMixed(
      cat: TableCatalog, batch: DataFrame, batchId: Long,
      derive: Map[String, (Option[DataFrame], DataFrame) => DataFrame],
      morDerive: Map[String, DataFrame => DataFrame]): Long =
    cat.log.once(batchId) {
      cat.commitAllWith(derived(cat, cat.latestGeneration(), batch, derive),
        morDerive.map { case (t, fn) => t -> fn(batch) },
        commitTsMillis = batchId)
    }

  /** Exactly-once APPEND-member sink: each micro-batch commits ONLY
    * its own rows per member ([[TableCatalog.commitAllAppend]] — a
    * batch-sized segment prepended to the member's chain), under the
    * same batch-id ledger as [[commitBatch]]. This is the physical
    * contract the index families need: with the full-state derive
    * shape, "append" meant rewriting the accumulated relation every
    * micro-batch — O(index) writes per batch, the one cost an
    * inverted/LSH index cannot afford at 100 TB. Here maintenance
    * writes are O(batch) and reads stay plain multi-segment scans.
    * `snapshots` rides along for members that genuinely rewrite
    * (small per-doc summaries, folded states) in the SAME atomic
    * generation.
    */
  def commitBatchAppend(cat: TableCatalog, batchId: Long,
      appends: Map[String, DataFrame],
      snapshots: Map[String, DataFrame] = Map.empty): Long =
    cat.log.once(batchId) {
      cat.commitAllAppend(snapshots, appends, commitTsMillis = batchId)
    }

  /** Attach the sink to a stream (foreachBatch driver). */
  def attach(stream: DataFrame, cat: TableCatalog, checkpointDir: String,
      derive: Map[String, (Option[DataFrame], DataFrame) => DataFrame],
      morDerive: Map[String, DataFrame => DataFrame] = Map.empty): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (morDerive.isEmpty) commitBatch(cat, batch, batchId, derive)
        else commitBatchMixed(cat, batch, batchId, derive, morDerive)
        ()
      }
      .start()
}
