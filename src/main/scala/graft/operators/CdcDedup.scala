package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC staging deduplication — one survivor per primary key.
  *
  * Re-expresses the reference's window-function dedup
  * (reference: lambda/handler.py:345-479) as a Spark `Window`:
  * `ROW_NUMBER() OVER (PARTITION BY keys ORDER BY <cascade>) ... WHERE rn = 1`.
  *
  * Physical shape at scale: one shuffle by PK + per-partition sort
  * (`WindowExec`). The dedup *gate* (skip the shuffle entirely when the
  * batch has no duplicate keys — reference: handler.py:423-439) is kept as
  * an optional cheap pre-aggregation: partial aggregation collapses it
  * map-side, so it is one narrow pass versus a full shuffle+sort.
  */
object CdcDedup {

  /** CDC metadata columns never merged into the target
    * (reference: handler.py:274, 582-586).
    */
  val MetaCols: Set[String] = Set("Op", "load_timestamp", "rn", "ingestion_seq")

  val IngestionSeqCol = "ingestion_seq"

  /** Read one-or-more CDC parquet files, assigning `ingestion_seq` =
    * row position within its source file.
    *
    * The reference assigns `ROW_NUMBER() OVER ()` at staging time, whose
    * semantics are "Parquet file row order = binlog order"
    * (reference: handler.py:486-546, 5-10). A bare `row_number` over a
    * parallel scan is nondeterministic in Spark, so we use the file
    * source's `_metadata.row_index` (exact row position within the file,
    * stable under any parallelism/split). Multi-file batches stay
    * per-file-ordered; pass the file path through `__source_file` for
    * routing and cross-file ordering.
    */
  def readCdcFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths.map(escapeGlob): _*)
      .withColumn(IngestionSeqCol, col("_metadata.row_index"))
      .withColumn("__source_file", col("_metadata.file_path"))

  /** The read path is interpreted as a Hadoop glob — escape the
    * metacharacters so a literal file name like `batch[1].parquet` reads
    * that exact file rather than expanding as a pattern.
    */
  private def escapeGlob(path: String): String =
    path.replaceAll("([\\[\\]{}*?])", "\\\\$1")

  /** The cascading dedup ORDER BY (reference: handler.py:345-404), built
    * schema-dependently — each level participates only when its column
    * exists:
    *   1. `load_timestamp` DESC
    *   2. Op priority DESC — D(3) > U(2) > I(1) > other(0): deletes win ties
    *   3. `COALESCE(updated, 0)` DESC
    *   4. `COALESCE(created, 0)` DESC
    *   5. `__source_file` DESC — multi-file batches only: `ingestion_seq`
    *      restarts per file, so without this a cross-FILE full tie would
    *      be nondeterministic. The reference applies files one at a time
    *      (later file processed later ⇒ wins); DMS file names ascend with
    *      time, so descending path order reproduces that.
    *   6. `ingestion_seq` DESC — file row order, final tie-break
    *
    * The reference's `COALESCE(x, 0)` is valid in Firebolt for both
    * TIMESTAMP and BIGINT-epoch columns; in Spark the null-filler must
    * match the column type, so timestamp-ish columns coalesce with epoch 0
    * and numeric ones with literal 0 (SURVEY §7.4 risk 4).
    */
  def orderSpec(schema: StructType): Seq[Column] = {
    val names = schema.fieldNames.toSet
    def coalesced(name: String): Column = schema(name).dataType match {
      case TimestampType | TimestampNTZType | DateType =>
        coalesce(col(name).cast(TimestampType), timestamp_seconds(lit(0))).desc
      case _ =>
        coalesce(col(name), lit(0)).desc
    }
    Seq.newBuilder[Column]
      .++= (if (names("load_timestamp")) Seq(col("load_timestamp").desc) else Nil)
      .++= (if (names("Op")) Seq(
        when(col("Op") === "D", 3)
          .when(col("Op") === "U", 2)
          .when(col("Op") === "I", 1)
          .otherwise(0).desc) else Nil)
      .++= (if (names("updated")) Seq(coalesced("updated")) else Nil)
      .++= (if (names("created")) Seq(coalesced("created")) else Nil)
      .++= (if (names("__source_file")) Seq(col("__source_file").desc) else Nil)
      .++= (if (names(IngestionSeqCol)) Seq(col(IngestionSeqCol).desc) else Nil)
      .result()
  }

  /** Dedup gate: `COUNT(*) == COUNT(DISTINCT keys)` ⇒ no duplicates
    * (reference: handler.py:423-439). One aggregation pass.
    */
  def needsDedup(df: DataFrame, keys: Seq[String]): Boolean = {
    val row = df.agg(
      count(lit(1)).as("total_rows"),
      count_distinct(struct(keys.map(col): _*)).as("unique_keys")).head()
    row.getLong(0) != row.getLong(1)
  }

  /** Deduplicate a staging DataFrame: one survivor per `keys` tuple by the
    * cascade above; drops the transient `rn`/`ingestion_seq` columns from
    * the output (reference: handler.py:448-467).
    *
    * @param gate when true, first checks `needsDedup` and skips the
    *             window shuffle if the batch is already key-unique.
    */
  def dedup(df: DataFrame, keys: Seq[String], gate: Boolean = true): DataFrame = {
    if (gate && !needsDedup(df, keys)) skipPath(df)
    else windowPath(df, keys)
  }

  /** [[dedup]] fused with [[MergePlanner.probe]]: ONE aggregation pass
    * over the staging batch yields BOTH the gate decision (total vs
    * distinct keys) AND the merge planner's probe (deduped row count +
    * approx distinct target buckets) — the separate probe job is gone
    * from the pipeline (it cost a second full-batch aggregation per
    * file). The fusion is exact, not approximate: dedup keeps one row
    * per key tuple, so the deduped batch has `unique_keys` rows and
    * touches the same bucket set as the raw batch, and HLL++ registers
    * depend only on the SET of hashed values, so duplicates cannot
    * move the bucket estimate.
    *
    * `numBuckets` must match the target store's bucketing (same
    * contract as [[MergePlanner.probe]]).
    */
  def dedupAndProbe(df: DataFrame, keys: Seq[String], numBuckets: Int)
      : (DataFrame, MergePlanner.Probe) = {
    val bucket = pmod(hash(keys.map(col): _*), lit(numBuckets))
    val row = df.agg(
      count(lit(1)).as("total_rows"),
      count_distinct(struct(keys.map(col): _*)).as("unique_keys"),
      approx_count_distinct(bucket).as("buckets_touched")).head()
    val (total, unique) = (row.getLong(0), row.getLong(1))
    val out = if (total == unique) skipPath(df) else windowPath(df, keys)
    (out, MergePlanner.Probe(unique, row.getLong(2), -1L))
  }

  private def transientCols(df: DataFrame): Seq[String] =
    df.columns.filter(c =>
      c == "rn" || c == IngestionSeqCol || c == "__source_file").toSeq

  private def skipPath(df: DataFrame): DataFrame =
    df.drop(transientCols(df): _*)

  private def windowPath(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderSpec(df.schema): _*)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .drop(transientCols(df): _*)
  }
}
