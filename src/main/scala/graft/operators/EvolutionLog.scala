package graft.operators

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.RowLog

/** Durable schema-evolution findings (`_evolution_log`).
  *
  * The reference publishes manual-intervention findings to SNS so an
  * operator running hundreds of tables sees unsafe columns that were
  * skipped (reference: lambda/handler.py:313-336). This rebuild has no
  * message bus, so the notification channel is a small append-only log
  * next to the ledger: one row per finding, queryable by ops tooling
  * (`kind = 'manual_required'` is the SNS-parity subset; added/removed/
  * type-changed columns are logged too for a full audit trail).
  *
  * Same append as the [[FileLedger]] tail: each [[log]] call writes one
  * uniquely named JSON entry from the driver ([[graft.sources.RowLog]]),
  * with no Spark job, and concurrent per-table pipelines never collide.
  * Findings are rare (one per schema change), so the log never folds. A
  * log written as plain parquet files in its root (the earlier format)
  * still reads, beside the entries.
  */
final class EvolutionLog(spark: SparkSession, path: String) {

  import EvolutionLog._

  private val entries = new RowLog(spark, s"$path/_log", Schema)

  def records: DataFrame = {
    val logged = entries.frame(entries.names().flatMap(entries.read))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (RowLog.parquetFiles(fs, path).isEmpty) logged
    else spark.read.schema(Schema).parquet(path).unionByName(logged)
  }

  /** Append one row per finding in `result`; returns rows written.
    * Callers should treat failures as non-fatal (the reference wraps its
    * SNS publish in try/except, handler.py:334-336) — a notification
    * failure must never fail the merge it describes.
    */
  def log(table: String, fileKey: String, result: SchemaEvolution.EvolutionResult): Int = {
    val now = new Timestamp(System.currentTimeMillis())
    def row(kind: String, column: String, detail: String) =
      Row(table, fileKey, kind, column, detail, now)
    val rows =
      result.requiresManual.map { case (c, reason) => row("manual_required", c, reason) } ++
      result.columnsAdded.map(c => row("column_added", c.name, c.dataType.simpleString)) ++
      result.removedColumns.map(c => row("column_removed", c, "in production, missing from staging")) ++
      result.typeChanges.map(tc =>
        row("type_change", tc.name, s"${tc.from.simpleString} -> ${tc.to.simpleString}"))
    if (rows.nonEmpty) entries.append(rows)
    rows.size
  }
}

object EvolutionLog {
  val Schema: StructType = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("file_key", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("column_name", StringType, nullable = false),
    StructField("detail", StringType, nullable = true),
    StructField("logged_at", TimestampType, nullable = false)))
}
