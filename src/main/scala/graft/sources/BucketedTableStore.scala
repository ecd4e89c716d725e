package graft.sources

import java.util.UUID

import scala.collection.immutable.BitSet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructField, StructType}

import graft.operators.CdcMerge

/** Hash-bucketed CDC target table on plain parquet — the 100 TB merge path.
  *
  * The reference merges each CDC file into a Firebolt table whose engine
  * handles physical layout (reference: lambda/handler.py:563-614). With
  * parquet as the target format, a naive merge would rewrite the whole
  * table per batch — at 100 TB that is absurd. Instead the table is laid
  * out as hash buckets of the primary key:
  *
  *   path/__bucket=0..N-1/part-*.parquet,  __bucket = pmod(hash(keys), N)
  *
  * A merge then:
  *   1. takes the buckets touched by the staged keys (≤ batch size,
  *      usually ≪ N) from its caller — the CDC path's dedup gate
  *      aggregates by bucket anyway ([[graft.operators.CdcDedup
  *      .dedupAndProbe]]), and a drain reads them from the side-store's
  *      log — or, when the caller has none, finds them in one
  *      `distinct` pass over the batch;
  *   2. reads ONLY those bucket directories: the root listing that the
  *      swap recovery already does names the live ones, and the scan is
  *      planned from the store's own listing of just those directories;
  *   3. runs the broadcast [[CdcMerge]] against that slice;
  *   4. writes the slice to a temp dir and atomically swaps the affected
  *      bucket directories (write-temp-then-rename — the moral equivalent
  *      of the reference's backup-rename, FIX_36_TABLES_SCHEMA.sql:18).
  *
  * Every scan — a merge's slice and a full [[read]] alike — is planned
  * from that driver-side listing of the live `__bucket=b` directories:
  * Spark gets the part files already listed, so no store read starts a
  * Spark listing job, whatever the bucket count.
  *
  * Cost per batch ∝ touched buckets, not table size. Rerunning the same
  * batch is a no-op state-wise (merge idempotency), which preserves the
  * reference's retry invariant (CRITICAL_FIX_DUPLICATES_ON_MERGE.md:60-63).
  * A crash mid-swap leaves some buckets new and some old; the ledger marks
  * the file processed only after all swaps, so the retry re-merges — each
  * bucket merge is itself idempotent.
  *
  * Sizing: pick `numBuckets` so a bucket ≈ 100-500 MB at target scale
  * (100 TB / 256 MB ≈ 400k buckets; the bucket column is a directory
  * partition, so very large N costs listing time — at true 100 TB this
  * layout maps onto a partitioned catalog table with the same key scheme).
  */
final class BucketedTableStore(
    spark: SparkSession,
    val path: String,
    val keys: Seq[String],
    val numBuckets: Int) {

  import BucketedTableStore._

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new Path(path))

  /** Initial (full) load — the reference's `LOAD*` path
    * (handler.py:781-783 skips these in CDC; they seed the table).
    * A schema sidecar (`_graft_schema.json`) makes the table readable
    * even when every row has been deleted (no part files to infer from) —
    * the file-based analogue of the reference's schema-metadata snapshot
    * (lambda_schema_evolution_integration.py:32-68).
    */
  def initialize(df: DataFrame): Unit = {
    writeBuckets(df, path)
    writeSchemaSidecar(df.schema)
    writeMetaSidecar()
  }

  private def metaPath = new Path(path, "_graft_meta.json")

  private def writeMetaSidecar(): Unit = {
    val out = fs.create(metaPath, true)
    out.write(s"""{"numBuckets": $numBuckets}""".getBytes("UTF-8"))
    out.close()
  }

  /** Opening a store with a different bucket count than it was written
    * with would prune the wrong partitions and silently produce duplicate
    * keys — validate against the persisted layout before any merge.
    */
  private def validateBucketCount(): Unit =
    readSidecar(metaPath).map(CommitLog.json.readValue(_, classOf[Meta])).foreach { m =>
      require(m.numBuckets == numBuckets,
        s"store at $path was written with numBuckets=${m.numBuckets} " +
          s"but opened with numBuckets=$numBuckets")
    }

  /** A sidecar's text (one open), else None when the store has none. */
  private def readSidecar(p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def renameOrFail(src: Path, dst: Path): Unit =
    require(fs.rename(src, dst), s"rename failed: $src -> $dst")

  /** Run `f` over buckets on the JVM common pool; the first failure
    * aborts the whole operation (unwrapped so callers see the original
    * rename error, not the stream's CompletionException shell).
    */
  private def parallelOverBuckets(buckets: Array[Int])(f: Int => Unit): Unit =
    try java.util.Arrays.stream(buckets).parallel().forEach(b => f(b))
    catch {
      case e: RuntimeException if e.getCause != null => throw e.getCause
    }

  /** Bucket-partitioned write, rows sorted by key within each bucket —
    * parquet column min/max stats then let key-predicate scans skip whole
    * row groups (free point-lookup pruning on top of the bucket pruning).
    */
  private def writeBuckets(df: DataFrame, dest: String): Unit =
    df.withColumn(BucketCol, bucketExpr(keys, numBuckets))
      .repartition(col(BucketCol))
      .sortWithinPartitions((BucketCol +: keys).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol)
      .parquet(dest)

  private def sidecarPath = new Path(path, "_graft_schema.json")

  private def writeSchemaSidecar(s: StructType): Unit = {
    val out = fs.create(sidecarPath, true)
    out.write(s.json.getBytes("UTF-8"))
    out.close()
  }

  private def readSchemaSidecar(): Option[StructType] =
    readSidecar(sidecarPath).map(DataType.fromJson(_).asInstanceOf[StructType])

  private def withBucketCol(s: StructType): StructType = s.add(BucketField)

  /** Full-table read (partition column dropped); survives a fully
    * emptied table via the sidecar schema. One root listing names the
    * live buckets and [[scan]] plans the read from their listing, so no
    * Spark listing job starts; the store is not touched (a bucket left
    * in a swap's trash by a crash stays unread until the next merge
    * restores it). A store written without a sidecar falls back to a
    * file-source read of the root.
    */
  def read(): DataFrame = readSchemaSidecar() match {
    case Some(s) => scan(asNullable(s).asInstanceOf[StructType],
      liveBuckets(fs.listStatus(new Path(path)).map(_.getPath)))
    case None => spark.read.parquet(path).drop(BucketCol)
  }

  /** The rows of `buckets` only: one [[scan]] of the live ones among
    * them, as a merge reads its slice, so a probe for a batch's keys
    * lists and scans the batch's buckets, not the table.
    */
  private[graft] def read(buckets: BitSet): DataFrame =
    scan(schema, liveBuckets(fs.listStatus(new Path(path)).map(_.getPath)).filter(buckets))

  /** One scan of the given live buckets, schema `s` (nullable, without
    * the bucket column), planned from the store's own listing: each
    * `__bucket=b` directory's part files are listed on the driver (hidden
    * `_`/`.` names dropped, as Spark's file index drops them) and handed
    * to Spark's file index already listed. A directory that vanished
    * since its bucket was seen live fails the scan.
    */
  private def scan(s: StructType, buckets: Array[Int]): DataFrame = {
    val root = fs.makeQualified(new Path(path))
    val listed = new Array[Array[FileStatus]](buckets.length)
    parallelOverBuckets(buckets.indices.toArray) { i =>
      listed(i) = fs.listStatus(new Path(root, s"$BucketCol=${buckets(i)}"))
        .filter(f => f.isFile && !hidden(f.getPath.getName))
    }
    val files = listed.flatten
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        if (p == root) Some(files) else None
      override def putLeafFiles(p: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, Some(withBucketCol(s)), cache)
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      StructType(Seq(BucketField)), s, None, new ParquetFileFormat, Map.empty)(spark))
      .drop(BucketCol)
  }

  /** Table schema without the bucket column, exactly as [[read]] reports
    * it: the sidecar's, with every field nullable as a file-source read
    * makes it, so asking lists no bucket. A store written without a
    * sidecar falls back to a full read.
    */
  def schema: StructType = readSchemaSidecar() match {
    case Some(s) => asNullable(s).asInstanceOf[StructType]
    case None => read().schema
  }

  /** Apply schema evolution: append safe new columns (nullable) to the
    * stored schema — the ALTER TABLE ADD COLUMN ... NULL of the reference
    * (handler.py:290-292). Existing parquet files simply lack the column
    * and read as null; merged buckets materialize it with values.
    */
  def evolveSchema(result: graft.operators.SchemaEvolution.EvolutionResult): Unit =
    if (result.columnsAdded.nonEmpty)
      writeSchemaSidecar(graft.operators.SchemaEvolution.evolve(schema, result))

  /** Merge one deduplicated staging batch. `buckets`, when given, must
    * hold every bucket the batch's keys hash to (more is harmless: a
    * bucket no key reaches is rewritten unchanged); without it the merge
    * finds them in a pass of its own. Returns touched bucket count.
    */
  def merge(
      staging: DataFrame,
      deleteCol: String = "Op",
      deleteVals: Seq[String] = Seq("D"),
      broadcastStaging: Boolean = true,
      buckets: Option[BitSet] = None): Int = {
    require(exists, s"target $path not initialized")
    validateBucketCount()
    val live = recoverInterruptedSwaps()

    // 1. buckets touched by this batch (small: ≤ distinct staged keys)
    val affected = buckets.getOrElse(BitSet.fromSpecific(
      staging.select(bucketExpr(keys, numBuckets)).distinct().collect().map(_.getInt(0)))).toArray
    if (affected.isEmpty) return 0

    // 2. scan of only the affected live bucket directories; none live
    // ⇒ an empty slice
    val slice = scan(schema, affected.filter(live))

    // 3. merge on the slice — broadcast for CDC-file-sized batches, a
    // shuffle join when the caller (e.g. MergePlanner's ShuffleCow for
    // backfills) knows the batch is too big to ship to every task. The
    // caller owns any persist of the batch: no persist here that would
    // leak across micro-batches.
    val merged = CdcMerge(slice, staging, keys, deleteCol, deleteVals,
      broadcastStaging = broadcastStaging, persistStaging = false)

    // 4. temp write + per-bucket swap. Renames only, in two phases with a
    // trash dir: a crash mid-swap always leaves every bucket's data in
    // either its live or its trash location (never deleted before the
    // replacement landed); the ledger marks the file processed only after
    // all swaps, so an interrupted merge is retried/recovered.
    val runId = UUID.randomUUID().toString.take(8)
    val tmp = new Path(path, s".merge-tmp-$runId")
    val trash = new Path(path, s".merge-trash-$runId")
    writeBuckets(merged, tmp.toString)

    fs.mkdirs(trash)
    // Each phase runs its per-bucket renames in parallel: a large batch
    // touches 10⁴-10⁵ buckets and each rename is a filesystem metadata
    // round-trip, so a serial loop would dominate the merge on a remote
    // store. The safety argument needs only the BARRIER between phases
    // (no bucket lands before every affected live dir is retired), not
    // ordering within a phase — Hadoop FileSystem instances are
    // thread-safe, and any failed rename still aborts the merge.
    // phase 1: retire affected live buckets into the trash
    parallelOverBuckets(affected) { b =>
      val live = new Path(path, s"$BucketCol=$b")
      if (fs.exists(live)) renameOrFail(live, new Path(trash, s"$BucketCol=$b"))
    }
    // phase 2: land the fresh buckets (a bucket whose rows were all
    // deleted has no fresh dir — correct: it stays absent)
    parallelOverBuckets(affected) { b =>
      val fresh = new Path(tmp, s"$BucketCol=$b")
      if (fs.exists(fresh)) renameOrFail(fresh, new Path(path, s"$BucketCol=$b"))
    }
    fs.delete(tmp, true)
    fs.delete(trash, true)
    affected.length
  }

  /** Crash recovery for an interrupted swap: a crash between phase 1 and
    * phase 2 leaves a bucket's only copy in a `.merge-trash-*` dir (its
    * fresh replacement never landed). Restore any trashed bucket whose
    * live dir is missing, then clear leftover tmp/trash dirs — the
    * interrupted file was never ledgered, so its retry re-merges cleanly
    * on the restored state. Returns the buckets live afterwards, from
    * the same one root listing.
    */
  private def recoverInterruptedSwaps(): Set[Int] = {
    val listed = fs.listStatus(new Path(path)).map(_.getPath)
    val leftovers = listed
      .filter(p => p.getName.startsWith(".merge-trash-") || p.getName.startsWith(".merge-tmp-"))
    val trashed = leftovers.filter(_.getName.startsWith(".merge-trash-")).flatMap { trash =>
      fs.listStatus(trash).map(_.getPath).filter(_.getName.startsWith(s"$BucketCol="))
    }
    trashed.foreach { trashedBucket =>
      val live = new Path(path, trashedBucket.getName)
      if (!fs.exists(live)) renameOrFail(trashedBucket, live)
    }
    leftovers.foreach(fs.delete(_, true))
    // every trashed bucket is live now: restored, or live already
    liveBuckets(listed ++ trashed).toSet
  }
}

object BucketedTableStore {
  val BucketCol = "__bucket"

  private val BucketField = StructField(BucketCol, IntegerType, nullable = true)

  /** The bucket of a row: `pmod(hash(keys), numBuckets)`. */
  def bucketExpr(keys: Seq[String], numBuckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** The buckets named by `__bucket=b` directories among `listed`, ascending. */
  private def liveBuckets(listed: Array[Path]): Array[Int] =
    listed.map(_.getName).filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt).sorted

  /** A name Spark's file index skips, such as `_SUCCESS` or a `.crc` checksum. */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The `_graft_meta.json` sidecar. */
  private final case class Meta(numBuckets: Int)

  /** `t` with every field, element and map value nullable, recursively. */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  def create(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      initial: DataFrame,
      numBuckets: Int = 64): BucketedTableStore = {
    val store = new BucketedTableStore(spark, path, keys, numBuckets)
    store.initialize(initial)
    store
  }
}
