package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.TableKeys
import graft.pipeline.CdcPipeline

/** Structured Streaming CDC: the event-driven half of the reference
  * (S3 ObjectCreated → Lambda; reference: stacks/firebolt_cdc_stack.py:80-87)
  * as a file-source stream with `foreachBatch` apply (SURVEY §2.9, §3.1).
  *
  * One stream per target table: the file source only notifies. It lists
  * new parquet files under `{root}/{table}/` (a `binaryFile` source read
  * for `path` alone, so no file content is read), and each micro-batch
  * hands its files, sorted by path (binlog order), one at a time to
  * [[CdcPipeline.processFile]] — the Lambda's one-invocation-per-event
  * unit of work. A batch therefore equals serial application of its
  * files: each is routed ([[graft.routing.CdcPath.parse]] skips LOAD*
  * and off-pattern keys under the stream's root), ledger-checked, staged
  * from its own footer (so a column that first appears after the start
  * evolves the table), deduplicated, merged and ledgered.
  *
  * Failure and exactly-once: at the first file that fails (marked
  * `failed` in the ledger) the batch throws that error, so the query
  * terminates without committing the batch and the files after it are
  * not applied. A restart from the checkpoint re-delivers the whole
  * batch, and the ledger skips the files already applied
  * (handler.py:664-676).
  *
  * `Trigger.AvailableNow` replays everything outstanding then stops —
  * the backfill path (retrigger_lambda_*.py) for free.
  */
object CdcStream {

  /** Files admitted per micro-batch. */
  private val MaxFilesPerTrigger = 100

  final case class Config(
      root: String,
      table: String,
      keys: Seq[String],
      storeRoot: String,
      checkpointRoot: String,
      numBuckets: Int = 64)

  /** Start the per-table CDC stream. Caller owns the returned query
    * (`processAllAvailable()` in tests, `awaitTermination()` in prod).
    */
  def start(spark: SparkSession, cfg: Config,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // routed under the stream's root (scheme and trailing slash dropped),
    // as processFile routes any key under its pathRoot
    val pipeline = new CdcPipeline(spark, cfg.storeRoot,
      TableKeys(Map(cfg.table -> Some(cfg.keys))), cfg.numBuckets,
      pathRoot = new Path(cfg.root).toUri.getPath)
    val store = pipeline.storeFor(cfg.table, cfg.keys)
    require(store.exists, s"target ${store.path} must be initialized (initial load) before streaming")

    spark.readStream.format("binaryFile").schema(BinaryFileFormat.schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .load(s"${cfg.root}/${cfg.table}")
      .select("path")
      .writeStream
      .queryName(s"cdc-${cfg.table}")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/${cfg.table}")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().map(_.getString(0)).sorted.foreach { file =>
          pipeline.processFile(file) match {
            case CdcPipeline.Failed(_, e) => throw e
            case _ =>
          }
        }
      }
      .start()
  }
}
