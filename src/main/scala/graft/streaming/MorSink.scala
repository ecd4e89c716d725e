package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.MorStore

/** Exactly-once CDC stream → [[MorStore]] — continuous ingestion on
  * the merge-on-read cost model: every micro-batch commits ONLY its
  * delta (O(batch) regardless of table size), so sustained CDC
  * throughput never degrades as the table grows — the property the
  * copy-on-write pipeline trades away for pure-scan reads. Readers
  * resolve base ∪ deltas at any commit point; a periodic
  * [[MorStore.compact]] (scheduled by batch count here) bounds the
  * read-side delta stack.
  *
  * Exactly-once: the store's commit log records the micro-batch id
  * as the commit timestamp; [[appendBatch]] no-ops on an id already
  * committed ([[graft.sources.CommitLog.once]]), so crash-replay
  * redelivery cannot double-apply a delta — the same check as
  * [[SnapshotSink]]/[[CatalogSink]].
  */
object MorSink {

  /** Apply one micro-batch delta (schema = base + `__op`); returns
    * the committed generation or -1 for a redelivered id.
    * `compactEvery` > 0 folds the delta stack after every that-many
    * batches (compactions commit with id-offset ts to stay clear of
    * batch-id space: ids are non-negative, compaction ts are
    * negative).
    */
  def appendBatch(store: MorStore, delta: DataFrame, batchId: Long,
      compactEvery: Int = 0): Long = {
    val g = store.log.once(batchId)(store.commitDelta(delta, commitTsMillis = batchId))
    if (g >= 0 && compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      store.compact(commitTsMillis = -(batchId + 1))
    g
  }

  /** Attach the sink to a CDC stream (foreachBatch driver). */
  def attach(stream: DataFrame, store: MorStore, checkpointDir: String,
      compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(store, batch, batchId, compactEvery); ()
      }
      .start()
}
