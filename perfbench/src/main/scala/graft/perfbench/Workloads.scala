package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.CdcPipeline
import graft.pipeline.CdcPipeline.{Applied, Failed, Outcome, Skipped}
import graft.routing.CdcPath
import graft.streaming.CdcOrchestrator

import Support._

/** What one pass of a workload measured. */
final class Pass(val root: String) {
  val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Fixture-relative paths in the order the oracle applies them. */
  val delivered = mutable.ArrayBuffer.empty[String]
  val failed = mutable.ArrayBuffer.empty[String]
  val counts: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Per-file apply wall (s) by delivery index: the trace overhead base. */
  val fileWall = mutable.LinkedHashMap.empty[Int, Double]
  /** Traced `trickle` only: the same files' untraced apply wall. */
  val twinWall = mutable.LinkedHashMap.empty[Int, Double]
  var apply = Seq.empty[Double]
  var fresh = Seq.empty[Double]
  var reads = Seq.empty[Double]
  var readFailures = 0
  var loadWallS = 0.0
  var filesApplied = 0
  var rowsApplied = 0L
  var bytesIn = 0L
  var bytesWritten = 0L
  var spaceStart = 0L
  var spaceEnd = 0L
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** Stream only: per-batch progress and per-file landing times. */
  var batches = Seq.empty[StreamBatch]
  val landedMs = mutable.LinkedHashMap.empty[String, Long]
  val dueMs = mutable.LinkedHashMap.empty[String, Long]
  val committedMs = mutable.LinkedHashMap.empty[String, Long]
}

/** The workloads over one fixture. Each pass starts from a fresh store,
  * ledger and checkpoint set under its own root.
  */
final class Workloads(spark: SparkSession, fx: Fixture, baseDir: String) {

  /** Stream workload: processing-time trigger of the CDC streams. */
  val TriggerMs = 1000L
  /** Stream workload: how long the files may take to commit after the
    * last one landed before the rest count as failed. */
  val DrainTimeoutMs = 60000L
  /** Stream workload: the reader starts a validation pass this often (or
    * as soon as the previous one ends, when that takes longer). */
  val ReadIntervalMs = 8000L

  /** Initial loads of the three tables, plus the ledger's steady-state
    * pre-seed on `trickle`. This is the timed set-up.
    */
  def setup(root: String): CdcPipeline = {
    val p = new CdcPipeline(spark, root, Keys)
    val parts = Tables.map(t => s"load.$t" -> (() =>
      p.initialLoad(t, spark.read.parquet(s"$baseDir/$t.parquet")): Any)) ++
      (if (fx.workload != "trickle") Nil
       else Seq("ledger_preseed" -> (() => p.ledger.markBatchProcessed(
         (0 until LedgerPreseedRows).map(i =>
           f"/history/fair/${Tables(i % 3)}/2026/09/${i % 30 + 1}%02d/$i%08d.parquet")): Any)))
    // independent tables (and the ledger) load concurrently
    inParallel(parts) { case (name, body) => setupPart(name)(body()) }
    p
  }

  /** Wall time of each part of every set-up, in order. */
  val setupParts = mutable.ArrayBuffer.empty[(String, Double)]
  private def setupPart[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupParts.synchronized {
      setupParts += ((name, (System.nanoTime() - t0) / 1e9)) }
  }

  private def fileBytes(e: Event): Long = Files.size(Paths.get(fx.abs(e)))

  private def record(pass: Pass, e: Event, out: Outcome, wallS: Double): Unit = {
    val (status, reason, touched, added) = out match {
      case Applied(_, t, ev) => ("applied", "", t, ev.columnsAdded.size)
      case Skipped(r) => ("skipped", r, 0, 0)
      case Failed(_, err) => ("failed", String.valueOf(err.getMessage).take(300), 0, 0)
    }
    pass.records += Map("i" -> e.index, "path" -> e.path, "kind" -> e.kind,
      "table" -> e.table, "status" -> status, "reason" -> reason, "wall_s" -> wallS,
      "touched_buckets" -> touched, "rows" -> e.rows)
    status match {
      case "applied" =>
        pass.filesApplied += 1
        pass.rowsApplied += e.rows
        pass.bytesIn += fileBytes(e)
        if (touched == 0) pass.counts("applied.mor_delta") += 1
        pass.counts("applied.columns_added") += added
      case "failed" => pass.failed += e.path
      case _ =>
    }
    if (e.kind == "redeliver") {
      pass.counts("redelivered") += 1
      if (reason == CdcPath.AlreadyProcessed.message) pass.counts("redelivery_skipped") += 1
    }
  }

  /** First ledger `processed_at` (epoch ms) of each of `paths`. */
  private def ledgerTimes(p: CdcPipeline, paths: Seq[String]): Map[String, Long] = {
    val keys = paths.map(CdcPath.ledgerKey).distinct
    if (keys.isEmpty) Map.empty
    else p.ledger.records.filter(col("file_key").isin(keys: _*))
      .groupBy("file_key").agg(min("processed_at").as("t")).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).getTime).toMap
  }

  /** Validation passes over the three tables as readers see them. */
  private def validationPass(p: CdcPipeline, tr: Option[Tracer]): Double = {
    val t0 = System.nanoTime()
    def body(): Unit = Tables.foreach(t => validationRead(p.readTable(t), keysOf(t)))
    tr.fold(body())(_.span("CdcPipeline.read", -1)(body()))
    (System.nanoTime() - t0) / 1e9
  }

  private def startLoad(pass: Pass): (Long, Long) = {
    pass.spaceStart = dirBytes(pass.root)
    (localBytesWritten(), System.nanoTime())
  }

  private def endLoad(pass: Pass, w0: Long, t0: Long): Unit = {
    pass.loadWallS = (System.nanoTime() - t0) / 1e9
    pass.bytesWritten = localBytesWritten() - w0
  }

  // ── trickle ───────────────────────────────────────────────────────────

  /** Closed loop, one client: one `processFiles(Seq(f))` per delivery of
    * the fixture's fixed schedule. With `twin`, each delivery is also
    * applied untraced to that second store, right before or after its
    * traced apply (the trace overhead).
    */
  def trickle(p: CdcPipeline, pass: Pass, tr: Option[Tracer],
      twin: Option[CdcPipeline]): Option[Replay] = {
    val replay = tr.map(new Replay(spark, p, _))
    val (w0, t0) = startLoad(pass)
    val started = mutable.ArrayBuffer.empty[(Event, Long)]
    fx.events.foreach { e =>
      val i = e.index
      val f = fx.abs(e)
      def twinApply(): Unit = twin.foreach { q =>
        val s = System.nanoTime()
        val out = q.processFiles(Seq(f)).head._2
        if (!out.isInstanceOf[Skipped]) pass.twinWall(i) = (System.nanoTime() - s) / 1e9
      }
      // the first of the pair pays any cold code path of the file, so the
      // order alternates from delivery to delivery
      val twinFirst = i % 2 == 0
      if (twinFirst) twinApply()
      val (s, ms) = (System.nanoTime(), System.currentTimeMillis())
      val out = replay.fold(p.processFiles(Seq(f)).head._2)(_.processFiles(Seq(f), Seq(i)).head)
      val wall = (System.nanoTime() - s) / 1e9
      if (!twinFirst) twinApply()
      record(pass, e, out, wall)
      pass.delivered += e.path
      if (!out.isInstanceOf[Skipped]) {
        pass.fileWall(i) = wall
        started += ((e, ms))
      }
    }
    endLoad(pass, w0, t0)
    pass.apply = pass.fileWall.values.toSeq
    val marks = ledgerTimes(p, started.map(x => fx.abs(x._1)).toSeq)
    pass.fresh = started.flatMap { case (e, ms) =>
      marks.get(CdcPath.ledgerKey(fx.abs(e))).map(t => (t - ms) / 1000.0) }.toSeq
    pass.reads = Seq(validationPass(p, tr))
    replay
  }

  // ── stream ────────────────────────────────────────────────────────────

  /** Open loop: a writer thread lands the files at their due times while
    * `CdcOrchestrator.startAll` streams consume them and a reader thread
    * runs validation passes.
    */
  def stream(p: CdcPipeline, pass: Pass, tr: Option[Tracer]): Unit = {
    val landing = s"${pass.root}-landing"
    Tables.foreach(t => Files.createDirectories(Paths.get(landing, "fair", t)))
    // a file stream's schema is fixed up front: the DMS columns of the
    // fixture's files ahead of each table's own columns
    val dms = spark.read.parquet(fx.abs(fx.events.head)).schema
      .filter(f => f.name == "Op" || f.name == "load_timestamp")
    val schemas = Tables.map(t => t -> org.apache.spark.sql.types.StructType(
      dms ++ spark.read.parquet(s"$baseDir/$t.parquet").schema)).toMap
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    val running = CdcOrchestrator.startAll(spark, s"$landing/fair", pass.root,
      s"${pass.root}/_checkpoints", Keys, schemas, trigger = Trigger.ProcessingTime(TriggerMs))
    val stop = new AtomicBoolean(false)
    val reads = mutable.ArrayBuffer.empty[Double]
    val reader = new Thread(() => {
      while (!stop.get()) {
        val next = System.currentTimeMillis() + ReadIntervalMs
        try { val s = validationPass(p, tr); reads.synchronized { reads += s } }
        catch { case _: Throwable => reads.synchronized { pass.readFailures += 1 } }
        while (!stop.get() && System.currentTimeMillis() < next) Thread.sleep(50)
      }
    }, "perfbench-reader")
    val (w0, t0) = startLoad(pass)
    val t0ms = System.currentTimeMillis() + 200L
    val writer = new Thread(() => {
      fx.events.foreach { e =>
        val due = t0ms + (e.dueS * 1000).toLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val dest = Paths.get(landing, e.path.stripPrefix("files/"))
        Files.createDirectories(dest.getParent)
        val tmp = dest.resolveSibling("." + dest.getFileName + ".tmp")
        Files.copy(Paths.get(fx.abs(e)), tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
        val key = dest.toFile.getCanonicalPath
        pass.synchronized {
          pass.landedMs(key) = System.currentTimeMillis()
          pass.dueMs(key) = due
        }
      }
    }, "perfbench-writer")
    try {
      reader.start()
      writer.start()
      writer.join()
      val keys = pass.synchronized(pass.landedMs.keys.toSeq)
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      var marks = ledgerTimes(p, keys)
      while (marks.size < keys.size && System.currentTimeMillis() < deadline &&
          running.forall(_.query.isActive)) {
        Thread.sleep(250)
        marks = ledgerTimes(p, keys)
      }
      endLoad(pass, w0, t0)
      pass.committedMs ++= marks
    } finally {
      stop.set(true)
      reader.join()
      running.foreach(_.query.stop())
      running.foreach(_.query.awaitTermination(30000))
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.streams.removeListener(progress)
    }
    val byKey = fx.events.map(e => Paths.get(landing, e.path.stripPrefix("files/")).toFile
      .getCanonicalPath -> e).toMap
    // the oracle applies landed files in path order per table
    fx.events.sortBy(_.path).foreach(e => pass.delivered += e.path)
    byKey.toSeq.sortBy(_._2.index).foreach { case (key, e) =>
      val out: Outcome = pass.committedMs.get(key) match {
        case Some(_) => Applied(e.table, 1, graft.operators.SchemaEvolution.EvolutionResult(
          Nil, Nil, Nil, Nil))
        case None => Failed(e.table, new IllegalStateException("not committed in time"))
      }
      record(pass, e, out, pass.committedMs.get(key).fold(0.0)(c => (c - pass.dueMs(key)) / 1000.0))
    }
    pass.fresh = pass.committedMs.toSeq.map { case (k, c) => (c - pass.dueMs(k)) / 1000.0 }
    pass.batches = progress.batches.toArray(Array.empty[StreamBatch]).toSeq
    pass.apply = pass.batches.map(_.triggerMs / 1000.0)
    pass.reads = reads.toSeq
    val lastCommit = if (pass.committedMs.isEmpty) System.currentTimeMillis() else pass.committedMs.values.max
    pass.loadWallS = (lastCommit - t0ms) / 1000.0
    pass.extra("late_s") = pass.landedMs.toSeq.map { case (k, l) => (l - pass.dueMs(k)) / 1000.0 }
    pass.extra("trigger_ms") = TriggerMs
  }

  // ── checks ────────────────────────────────────────────────────────────

  /** Per table: whether the rows no fixture file touches still equal their
    * base rows, and the whole table's row count and checksum; with
    * `actualDir`, also writes every touched key's row for the oracle.
    */
  def check(p: CdcPipeline, actualDir: Option[String]): Map[String, Map[String, Any]] =
    inParallel(Tables) { t =>
      val keys = keysOf(t)
      val touched = fx.touched(spark, t)
      val base = spark.read.parquet(s"$baseDir/$t.parquet")
      val baseCols = base.columns.toSeq
      val act = p.readTable(t)
      val extraCols = act.columns.filterNot(baseCols.contains).toSeq
      def hashOf(cols: Seq[String]) = pmod(xxhash64(cols.map(col): _*), lit(1000000007L))
      val untouched = col("__touched").isNull
      val r = act.join(broadcast(touched.withColumn("__touched", lit(true))), keys, "left_outer")
        .agg(count(when(untouched, lit(1))), sum(when(untouched, hashOf(baseCols))),
          count(when(untouched && extraCols.map(c => col(c).isNotNull).foldLeft(lit(false))(_ || _),
            lit(1))),
          count(lit(1)), sum(hashOf(act.columns.sorted.toSeq))).head()
      def long(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
      val untouchedOk = checksum(base.join(broadcast(touched), keys, "left_anti"), baseCols) ==
        ((long(0), long(1))) && long(2) == 0L
      actualDir.foreach(d => act.join(broadcast(touched), keys, "left_semi")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/$t"))
      t -> Map[String, Any]("untouched_ok" -> untouchedOk, "rows" -> long(3),
        "checksum" -> long(4), "columns" -> act.columns.toSeq)
    }.toMap

  /** Side-store generations and undrained net rows over the tables. */
  def sideState(p: CdcPipeline): (Long, Long) = Tables.foldLeft((0L, 0L)) { case ((g, u), t) =>
    val side = p.morSideFor(t, keysOf(t))
    if (side.isEmpty) (g, u)
    else (g + side.generations().size, u + side.netChanges().count())
  }

  /** Ledger rows and the parquet part files holding them. */
  def ledgerStats(p: CdcPipeline, root: String): (Long, Long) =
    (p.ledger.records.count(),
      countFiles(s"$root/_ledger", _.getFileName.toString.endsWith(".parquet")))
}
