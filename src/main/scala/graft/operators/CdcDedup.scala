package graft.operators

import scala.collection.immutable.BitSet

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
    * per-file-ordered; the file path rides along as `__source_file` for
    * cross-file ordering.
    *
    * The schema is the first file's footer, read on the driver
    * ([[graft.sources.ParquetFooters]]), so staging starts no Spark job.
    */
  def readCdcFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(graft.sources.ParquetFooters.schema(spark, paths))
      .parquet(paths.map(escapeGlob): _*)
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

  /** [[dedup]] fused with the merge planner's probe: ONE aggregation,
    * grouped by the target store's bucket expression
    * ([[graft.sources.BucketedTableStore.bucketExpr]]), yields the gate
    * decision (rows vs distinct keys) AND the probe: the exact deduped
    * row count and the exact set of buckets the batch touches, which the
    * merge takes instead of finding them in a pass of its own. One row
    * per touched bucket reaches the driver (at most the batch's distinct
    * keys, at most `numBuckets`). The fusion is exact: a key's bucket is
    * a function of the key, so the per-bucket distinct-key counts sum to
    * the batch's, and dedup keeps one row per key tuple, so the deduped
    * batch has `unique` rows and the raw batch's bucket set.
    *
    * A batch with duplicates comes back as a lazy local checkpoint of
    * the window: the window's shuffle runs once, when the frame is made,
    * and the first job that reads it keeps its rows for the merge's
    * other joins, which would each rerun the window (column pruning gives
    * each its own exchange). Caching the frame instead costs a job per
    * reading stage. The rows go with the frame; an executor lost before
    * the merge fails the apply, which is then retried.
    *
    * `numBuckets` must match the target store's bucketing.
    */
  def dedupAndProbe(df: DataFrame, keys: Seq[String], numBuckets: Int)
      : (DataFrame, MergePlanner.Probe) = {
    val perBucket = df
      .groupBy(graft.sources.BucketedTableStore.bucketExpr(keys, numBuckets))
      .agg(count(lit(1)), count_distinct(struct(keys.map(col): _*)))
      .collect()
    val total = perBucket.iterator.map(_.getLong(1)).sum
    val unique = perBucket.iterator.map(_.getLong(2)).sum
    val out =
      if (total == unique) skipPath(df)
      else windowPath(df, keys).localCheckpoint(eager = false)
    (out, MergePlanner.Probe(unique, BitSet.fromSpecific(perBucket.iterator.map(_.getInt(0)))))
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
