package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{CdcDedup, CdcMerge, MergePlanner, SchemaEvolution}
import graft.pipeline.CdcPipeline
import graft.pipeline.CdcPipeline.{Applied, Failed, Outcome, Skipped}
import graft.routing.CdcPath
import graft.sources.MorStore

/** The traced apply: the public stage functions `CdcPipeline.processFiles`
  * runs, called in the same order (ledger scan, route, stage, evolve,
  * dedup + probe, plan, merge or delta commit, ledger mark), each in a span
  * of its own. Default planner thresholds and the pipeline's bucket count.
  */
final class Replay(spark: SparkSession, p: CdcPipeline, tr: Tracer, numBuckets: Int = 64) {

  /** Counts observed along the way, by metric name. */
  val counts: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Staged (deduplicated) rows of each CoW merge, by delivery index. */
  val mergeStaged: mutable.Map[Int, Long] = mutable.Map.empty

  private var lastSideTs = 0L
  private def freshSideTs(side: MorStore): Long = {
    var t = math.max(System.currentTimeMillis(), lastSideTs + 1L)
    while (side.tsCommitted(t)) t += 1L
    lastSideTs = t
    t
  }

  /** `processFiles(files)`: one ledger scan, then each file in order;
    * `index` gives each file's delivery index for its spans.
    */
  def processFiles(files: Seq[String], index: Seq[Int]): Seq[Outcome] = {
    val keys = files.map(CdcPath.ledgerKey)
    val done = mutable.Set.empty[String] ++=
      tr.span("FileLedger.check", index.head) { p.ledger.processedAmong(keys) }
    files.zip(index).map { case (f, i) =>
      val key = CdcPath.ledgerKey(f)
      if (done.contains(key)) {
        counts("CdcPath.skips.already_processed") += 1
        Skipped(CdcPath.AlreadyProcessed.message): Outcome
      } else {
        val out = processFile(f, i)
        if (out.isInstanceOf[Applied]) done += key
        out
      }
    }
  }

  private def processFile(f: String, i: Int): Outcome =
    tr.span("CdcPath.route", i) { CdcPath.parse(f, "fair") } match {
      case Left(skip) =>
        counts(skip match {
          case CdcPath.LoadFile => "CdcPath.skips.load"
          case _ => "CdcPath.skips.not_cdc"
        }) += 1
        Skipped(skip.message)
      case Right(cf) =>
        Support.Keys.keysFor(cf.table) match {
          case None => Skipped(CdcPath.NoKeys.message)
          case Some(keys) => apply(f, i, cf.table, keys)
        }
    }

  private def apply(f: String, i: Int, table: String, keys: Seq[String]): Outcome = {
    val key = CdcPath.ledgerKey(f)
    try {
      val staging = tr.span("CdcDedup.stage", i) {
        CdcDedup.readCdcFiles(spark, Seq(f)).persist()
      }
      val store = p.storeFor(table, keys)
      require(store.exists, s"target table '$table' not initialized at ${store.path}")
      val evolution = tr.span("SchemaEvolution.evolve", i) {
        val ev = SchemaEvolution.diff(staging.schema, store.schema)
        store.evolveSchema(ev)
        if (ev.hasChanges)
          try p.evolutionLog.log(table, key, ev)
          catch { case e: Throwable =>
            System.err.println(s"evolution-log append failed for $table: ${e.getMessage}") }
        ev
      }
      counts("SchemaEvolution.columns_added") += evolution.columnsAdded.size
      val (dedup, probe) = tr.span("CdcDedup.dedup", i) {
        CdcDedup.dedupAndProbe(staging, keys, numBuckets)
      }
      counts("SchemaEvolution.decimal_gated") +=
        CdcMerge.prepareMergeColumns(store.schema, dedup.schema, keys).removedDecimalCols.size
      val side = p.morSideFor(table, keys)
      val chosen = tr.span("MergePlanner.choose", i) { MergePlanner.choose(probe, numBuckets) }
      val touched = chosen match {
        case MergePlanner.MorDelta =>
          counts("MergePlanner.route.mor_delta") += 1
          val delta = tr.span("MergePlanner.normalize", i) {
            val premapped = dedup.withColumn("__cdc_op",
              when(col("Op").isin("D"), lit("D")).otherwise(lit("U"))).drop("Op")
            MergePlanner.normalizeDelta(store, side, premapped, "__cdc_op")
          }
          tr.span("MorStore.commit", i) {
            if (side.isEmpty) {
              val rowSchema = StructType(delta.schema.filterNot(_.name == side.OpCol))
              side.commitBase(spark.createDataFrame(
                spark.sparkContext.emptyRDD[Row], rowSchema), freshSideTs(side))
            }
            side.commitDelta(delta, freshSideTs(side))
          }
          0
        case strategy =>
          counts(if (strategy == MergePlanner.BroadcastCow) "MergePlanner.route.broadcast_cow"
                 else "MergePlanner.route.shuffle_cow") += 1
          tr.span("MergePlanner.drain", i) { MergePlanner.drain(store, side) }
          tr.span("BucketedTableStore.merge", i) {
            mergeStaged(i) = probe.rows
            store.merge(dedup, "Op", Seq("D"),
              broadcastStaging = strategy == MergePlanner.BroadcastCow)
          }
      }
      counts("BucketedTableStore.buckets_touched") += touched
      tr.span("FileLedger.mark", i) { p.ledger.markCompleted(key) }
      staging.unpersist()
      Applied(table, touched, evolution)
    } catch {
      case e: Throwable =>
        p.ledger.markFailed(key, e.getMessage)
        Failed(table, e)
    }
  }
}
