package graft.pipeline

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.TableKeys
import graft.operators.{CdcDedup, EvolutionLog, FileLedger, MergePlanner, SchemaEvolution}
import graft.routing.CdcPath
import graft.sources.{BucketedTableStore, MorStore}

/** Batch CDC pipeline: one file (or micro-batch of files) applied to one
  * target table — the reference's `lambda_handler` re-expressed
  * (reference: lambda/handler.py:736-1000; SURVEY §3.1):
  *
  *   route → key lookup → ledger check → stage (+ingestion_seq) →
  *   schema-evolve → dedup (cascade) → MERGE → ledger mark
  *
  * Differences by design (SURVEY §4): Firebolt staging tables collapse
  * into lazy DataFrames; the MVCC retry loop collapses into deterministic
  * single-writer semantics per table; exactly-once comes from the ledger +
  * idempotent merge instead of engine MVCC.
  *
  * Only the dedup gate and the merge move data. The bookkeeping around
  * them starts no Spark job: the ledger check and mark are driver-side log
  * reads and writes ([[FileLedger]]), `_evolution_log` findings are driver
  * appends ([[EvolutionLog]]), and the staged file's schema comes from its
  * footer. Ledger retention runs when the ledger's tail crosses its size
  * trigger, not on a per-invocation coin flip as in the reference
  * (AUTOMATIC_CLEANUP.md:12-63).
  *
  * MERGE strategy is per-batch ADAPTIVE ([[MergePlanner]]):
  * the typical small concentrated CDC file takes the bucket-pruned
  * broadcast CoW rewrite, but a batch that SCATTERS across most buckets
  * commits as an O(batch) MoR delta to the table's side-store instead of
  * rewriting the table to change a sliver. The side-store drains back
  * into the CoW home (one amortized rewrite of the NET changes,
  * [[MergePlanner.drain]]) before any later CoW-routed batch of the same
  * table — preserving per-key apply order — so CoW buckets never
  * interleave with undrained scatter. Readers use [[readTable]], which
  * resolves home ∪ side.
  *
  * [[graft.streaming.CdcStream]] micro-batches take the same apply
  * ([[applyStaged]]) as files: only staging and the ledger mark differ.
  */
final class CdcPipeline(
    spark: SparkSession,
    storeRoot: String,
    tableKeys: TableKeys,
    numBuckets: Int = 64,
    pathRoot: String = "fair") {

  val ledger = new FileLedger(spark, s"$storeRoot/_ledger")
  val evolutionLog = new EvolutionLog(spark, s"$storeRoot/_evolution_log")

  def storeFor(table: String, keys: Seq[String]): BucketedTableStore =
    new BucketedTableStore(spark, s"$storeRoot/$table", keys, numBuckets)

  /** The table's MoR side-store accumulating scatter-routed batches
    * until a drain folds them home (kept OUTSIDE the CoW store's
    * directory — the bucketed layout owns that namespace).
    */
  def morSideFor(table: String, keys: Seq[String]): MorStore =
    new MorStore(spark, s"$storeRoot/_morside/$table", keys)

  /** The table's complete current state: the CoW home with any
    * undrained side-store scatter resolved on top (net per-key ops —
    * deletes drop, upserts replace). With a side the log shows empty
    * (never written, or drained) this is exactly `storeFor(...).read()`.
    * Building it starts no Spark job for the home: the store plans its
    * scan from its own listing ([[BucketedTableStore.read]]).
    */
  def readTable(table: String): DataFrame = {
    val keys = tableKeys.keysFor(table)
      .getOrElse(throw new IllegalArgumentException(s"no keys for $table"))
    MergePlanner.resolvedView(storeFor(table, keys), morSideFor(table, keys))
  }

  import CdcPipeline._

  /** Process one CDC file end-to-end. `fileKey` is the path (may be a
    * local absolute path or full URI whose suffix matches the reference
    * layout `{root}/{table}/YYYY/MM/DD/name.parquet`). Ledger entries use
    * the canonical scheme-stripped key ([[CdcPath.ledgerKey]]) so the
    * streaming side (URI-form `_metadata.file_path`) and backfill side
    * (listing paths) agree on processed state.
    */
  def processFile(fileKey: String): Outcome = processFile(fileKey, checkLedger = true)

  private[pipeline] def processFile(fileKey: String, checkLedger: Boolean): Outcome = {
    // STEP 0: route (handler.py:765-783)
    CdcPath.parse(fileKey, pathRoot) match {
      case Left(skip) => Skipped(skip.message)
      case Right(cdcFile) =>
        // key lookup (handler.py:786-789); null ⇒ skip
        tableKeys.keysFor(cdcFile.table) match {
          case None => Skipped(CdcPath.NoKeys.message)
          case Some(keys) =>
            // ledger check (handler.py:800-804)
            if (checkLedger && ledger.isProcessed(CdcPath.ledgerKey(fileKey)))
              Skipped(CdcPath.AlreadyProcessed.message)
            else applyFile(fileKey, cdcFile.table, keys)
        }
    }
  }

  /** Apply one routed file. Any non-fatal failure becomes a `failed`
    * ledger row; a fatal JVM error (OOM, interrupt) propagates unrecorded.
    * Nothing is cached: the file is staged as a plain read, which the
    * dedup gate and the merge's joins each scan (a CDC file is small, and
    * caching it would cost a job of its own), so no path has a cache to
    * release.
    */
  private def applyFile(fileKey: String, table: String, keys: Seq[String]): Outcome =
    try {
      // STEP 1: stage with ingestion_seq (handler.py:486-546)
      val staging = CdcDedup.readCdcFiles(spark, Seq(fileKey))
      val (touched, evolution) = applyStaged(staging, table, keys, CdcPath.ledgerKey(fileKey))

      // STEP 7: ledger (handler.py:962-967)
      ledger.markCompleted(CdcPath.ledgerKey(fileKey))
      Applied(table, touched, evolution)
    } catch {
      case NonFatal(e) =>
        ledger.markFailed(CdcPath.ledgerKey(fileKey), e.getMessage)
        Failed(table, e)
    }

  /** Apply an already-staged batch — one file, or a stream micro-batch of
    * files — to `table`: schema-evolve, cascade dedup, adaptive MERGE.
    * `source` names the batch in `_evolution_log`. Returns the touched
    * bucket count and the evolution result; the caller owns any persist
    * of the staging and the ledger mark.
    */
  private[graft] def applyStaged(staging: DataFrame, table: String, keys: Seq[String],
      source: String): (Int, SchemaEvolution.EvolutionResult) = {
    val store = storeFor(table, keys)
    if (!store.exists)
      throw new IllegalStateException(s"target table '$table' not initialized at ${store.path}")

    // STEP 2: schema evolution (handler.py:250-338). Safe new columns
    // are ADDED to the target schema BEFORE the merge — the reference
    // ALTERs production then refreshes its column list so staged values
    // for the new columns flow through the merge intersection
    // (handler.py:846-850). Un-evolved parquet files read the column as
    // null; merged buckets materialize it.
    val evolution = SchemaEvolution.diff(staging.schema, store.schema)
    store.evolveSchema(evolution)
    // durable notification channel (SNS parity, handler.py:313-336):
    // findings — especially requiresManual — land in _evolution_log;
    // a logging failure must never fail the merge it describes
    // (the reference's publish is try/except-warning too)
    if (evolution.hasChanges)
      try evolutionLog.log(table, source, evolution)
      catch { case NonFatal(e) =>
        System.err.println(s"[graft] evolution-log append failed for $table: ${e.getMessage}")
      }

    // STEP 3: dedup via the cascade (handler.py:407-479). The gate
    // aggregation, grouped by bucket, ALSO carries the merge planner's
    // probe: exact rows and the exact touched-bucket set, so adaptive
    // routing and the merge's bucket pruning cost exactly what the
    // reference's dedup gate already paid (handler.py:423-439). A
    // deduplicated batch comes back checkpointed, so its window runs once.
    val (dedup, probe) = CdcDedup.dedupAndProbe(staging, keys, numBuckets)

    // STEP 4+5: column prep + MERGE (handler.py:876-946), routed per
    // batch: concentrated batches take the bucket-pruned CoW rewrite,
    // scattered ones commit to the MoR side-store as an O(batch) delta
    val (_, touched) = MergePlanner.mergeAdaptive(store, morSideFor(table, keys), dedup, probe)
    (touched, evolution)
  }

  /** Backfill driver: apply every unprocessed CDC file under `root`,
    * per-table in path (= binlog) order — replaces the reference's
    * retrigger scripts (retrigger_lambda_for_old_files.py:88-158).
    *
    * The ledger is checked ONCE up front for the whole list;
    * per-file processing then skips the redundant check.
    *
    * Retry semantics match the reference: `failed` files are retried,
    * and MERGE is last-write-wins with no recency guard (the reference's
    * WHEN MATCHED THEN UPDATE is equally unconditional, handler.py:
    * 605-607) — so a file that failed in an earlier run and is retried
    * after newer files re-applies its older values. The reference relies
    * on near-immediate Lambda retries rather than delayed replays for
    * the same reason; schedule backfills accordingly.
    */
  def backfill(files: Seq[String]): Seq[(String, Outcome)] = processFiles(files.sorted)

  /** Micro-batch driver: apply a batch of event-delivered files with ONE
    * ledger check for the whole batch — the per-event ledger SELECT of the
    * reference (handler.py:800-804), amortized. Given order is preserved
    * (backfill passes path-sorted = binlog order). Intra-batch duplicate
    * deliveries (at-least-once event sources re-deliver) skip after the
    * first successful apply, matching the cross-batch ledger semantics.
    */
  def processFiles(files: Seq[String]): Seq[(String, Outcome)] = {
    val done = scala.collection.mutable.Set.empty[String] ++=
      ledger.processedAmong(files.map(CdcPath.ledgerKey))
    files.map { f =>
      val key = CdcPath.ledgerKey(f)
      if (done.contains(key)) f -> (Skipped(CdcPath.AlreadyProcessed.message): Outcome)
      else {
        val out = processFile(f, checkLedger = false)
        if (out.isInstanceOf[Applied]) done += key
        f -> out
      }
    }
  }

  /** Recursive `.parquet` discovery under a root — the filesystem
    * analogue of the retrigger scripts' S3 listing
    * (retrigger_lambda_for_old_files.py:23-67). Routing/LOAD/ledger
    * filtering happens per file inside [[processFile]].
    */
  def discoverFiles(root: String): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    val it = fs.listFiles(rootPath, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      // exclude hidden/in-flight files AND any hidden ancestor segment
      // (a concurrent writer's _temporary tree must never be ingested)
      val segments = f.getPath.toUri.getPath.split('/').filter(_.nonEmpty)
      val hidden = segments.exists(s => s.startsWith(".") || s.startsWith("_"))
      if (f.isFile && f.getPath.getName.endsWith(".parquet") && !hidden)
        out += f.getPath.toString // fully-qualified: readable on any FS
    }
    out.result()
  }

  /** Discover + backfill in one call. */
  def backfillRoot(root: String): Seq[(String, Outcome)] =
    backfill(discoverFiles(root))

  /** Full-load path: initialize a target table from `LOAD*` (or any) data
    * (reference skips LOAD files in CDC and loads them separately;
    * handler.py:781-783, CHANGELOG.md:9-14).
    */
  def initialLoad(table: String, df: DataFrame): BucketedTableStore = {
    val keys = tableKeys.keysFor(table)
      .getOrElse(throw new IllegalArgumentException(s"no keys for $table"))
    BucketedTableStore.create(spark, s"$storeRoot/$table", keys,
      df.drop((CdcDedup.MetaCols + "__source_file").toSeq: _*), numBuckets)
  }
}

object CdcPipeline {
  sealed trait Outcome
  final case class Skipped(reason: String) extends Outcome
  final case class Applied(table: String, touchedBuckets: Int,
      evolution: SchemaEvolution.EvolutionResult) extends Outcome
  final case class Failed(table: String, error: Throwable) extends Outcome
}
