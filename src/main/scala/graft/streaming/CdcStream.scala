package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.config.TableKeys
import graft.operators.CdcDedup
import graft.pipeline.CdcPipeline
import graft.routing.CdcPath

/** Structured Streaming CDC: the event-driven half of the reference
  * (S3 ObjectCreated → Lambda; reference: stacks/firebolt_cdc_stack.py:80-87)
  * as a file-source stream with `foreachBatch` apply (SURVEY §2.9, §3.1).
  *
  * One stream per target table (schemas are per-table): new parquet files
  * under `{root}/{table}/YYYY/MM/DD/` are discovered by the file source,
  * files [[CdcPath.parse]] skips (LOAD*, off-pattern) are filtered out,
  * and each micro-batch takes the batch pipeline's one apply path
  * ([[CdcPipeline.applyStaged]]): schema evolution, cascade dedup,
  * adaptive MERGE (a scattered batch lands in the table's MoR
  * side-store; a CoW-routed one drains the side first).
  * The streaming checkpoint provides exactly-once file processing
  * (replacing the reference's app-level ledger check, handler.py:664-676);
  * the batch's files are still marked in the ledger for
  * observability/backfill parity.
  *
  * `Trigger.AvailableNow` replays everything outstanding then stops —
  * the backfill path (retrigger_lambda_*.py) for free.
  *
  * Schema evolution note: a file-source stream reads with the schema
  * fixed at start, so the stream evolves the table only within that
  * schema — a nullable source column the table lacks is added (and
  * logged to `_evolution_log`) by the first batch. Columns that appear
  * in files after the start are not read until a restart with a wider
  * schema; the batch pipeline evolves per file like the reference.
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
  def start(spark: SparkSession, cfg: Config, schema: StructType,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val pipeline = new CdcPipeline(spark, cfg.storeRoot,
      TableKeys(Map(cfg.table -> Some(cfg.keys))), cfg.numBuckets)
    val store = pipeline.storeFor(cfg.table, cfg.keys)
    require(store.exists, s"target ${store.path} must be initialized (initial load) before streaming")

    // a file is applied iff CdcPath routes it under the stream's root,
    // as processFile routes a key under its pathRoot: LOAD* full-load
    // files and off-pattern keys (a retry/ subfolder) are skipped
    val root = new Path(cfg.root).toUri.getPath // scheme and trailing slash dropped
    val routed = udf((file: String) => CdcPath.parse(CdcPath.ledgerKey(file), root).isRight)
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"${cfg.root}/${cfg.table}")
      // ingestion_seq = row order within each file (binlog order)
      .withColumn(CdcDedup.IngestionSeqCol, col("_metadata.row_index"))
      .withColumn("__source_file", col("_metadata.file_path"))
      .filter(routed(col("__source_file")))

    src.writeStream
      .queryName(s"cdc-${cfg.table}")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/${cfg.table}")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the batch feeds the emptiness check, the ledger file list and
        // the apply — materialize it once per micro-batch
        val b = batch.persist()
        try {
          if (!b.isEmpty) {
            val files = b.select("__source_file").distinct().collect()
              .map(r => CdcPath.ledgerKey(r.getString(0))).toSeq.sorted
            pipeline.applyStaged(b, cfg.table, cfg.keys, files.mkString(","))
            pipeline.ledger.markBatchProcessed(files)
          }
        } finally b.unpersist()
      }
      .start()
  }
}
