package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.SnapshotStore

/** Exactly-once append sink from Structured Streaming into a
  * [[SnapshotStore]] — every micro-batch commits a NEW table
  * generation (previous generation ∪ batch), so downstream readers
  * get snapshot isolation over a live stream: they always see a
  * complete committed prefix of the stream, never a half-written
  * batch, and can time-travel to any earlier cut.
  *
  * Exactly-once: the store's commit log records the micro-batch id as
  * the commit timestamp, and [[appendBatch]] is a NO-OP for an id
  * already committed ([[graft.sources.CommitLog.once]]) — so the
  * foreachBatch redelivery after a crash (Structured Streaming replays
  * the last uncommitted batch from the checkpoint) cannot
  * double-append. The same ledger-idempotency discipline as the CDC
  * pipeline's FileLedger, expressed in MVCC terms.
  */
object SnapshotSink {

  /** Append `batch` as the next generation keyed by `batchId`;
    * returns the committed version, or -1 if the batch was already
    * committed (redelivery no-op).
    */
  def appendBatch(store: SnapshotStore, batch: DataFrame, batchId: Long): Long =
    foldBatch(store, batch, batchId,
      (prev, b) => prev.map(_.unionByName(b)).getOrElse(b))

  /** Generalized exactly-once fold: commit `fold(previous state,
    * batch)` as the next generation (append is the union special
    * case). This is what maintains an ALGEBRAIC summary over a stream
    * — a [[graft.operators.CountMin]] sketch, an
    * [[graft.operators.IncrementalView]] partial — where the state
    * stays summary-sized while the stream is unbounded: each commit
    * reads the previous sketch-sized generation, never the stream's
    * history. Same batch-id idempotency as [[appendBatch]]: a
    * redelivered batch is a no-op, so the fold applies exactly once.
    */
  def foldBatch(store: SnapshotStore, batch: DataFrame, batchId: Long,
      fold: (Option[DataFrame], DataFrame) => DataFrame): Long =
    store.log.once(batchId) {
      store.commit(fold(store.latestVersion().map(store.read), batch),
        commitTsMillis = batchId)
    }

  /** Attach the sink to a stream (foreachBatch driver). */
  def attach(stream: DataFrame, store: SnapshotStore,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(store, batch, batchId); ()
      }
      .start()
}
