package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Support._

/** Per-layer metrics of a traced pass. Timings named `*_s` are per-file
  * (per-batch on `stream`) medians with their run total beside them as
  * `*_s.total`; counts are run totals. A layer the workload bypasses
  * reports 0.
  */
object Layers {

  /** The stage spans of the traced apply, in pipeline order. */
  val Stages: Seq[String] = Seq("FileLedger.check", "CdcPath.route", "CdcDedup.stage",
    "SchemaEvolution.evolve", "CdcDedup.dedup", "MergePlanner.choose",
    "MergePlanner.normalize", "MorStore.commit", "MergePlanner.drain",
    "BucketedTableStore.merge", "FileLedger.mark")

  private val timed = Seq("CdcPath.route_s", "FileLedger.check_s", "FileLedger.mark_s",
    "CdcDedup.stage_s", "CdcDedup.dedup_s", "SchemaEvolution.evolve_s",
    "MergePlanner.normalize_s", "MergePlanner.drain_s", "BucketedTableStore.merge_s",
    "MorStore.commit_s", "CdcPipeline.read_s", "CdcPipeline.unattributed_s",
    "CdcStream.batch_s", "CdcStream.trigger_s")

  private val sparkPerFile = Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB", "spark.spill_mb" -> "MB")

  /** Every per-layer metric with its unit, in report order. */
  val Names: Seq[(String, String)] =
    timed.flatMap(n => Seq(n -> "s", s"$n.total" -> "s")) ++
    Seq("CdcPath.skips.load", "CdcPath.skips.not_cdc", "CdcPath.skips.already_processed",
      "FileLedger.rows", "FileLedger.part_files", "CdcDedup.rows_dropped",
      "SchemaEvolution.columns_added", "SchemaEvolution.decimal_gated",
      "MergePlanner.route.broadcast_cow", "MergePlanner.route.mor_delta",
      "MergePlanner.route.shuffle_cow", "MergePlanner.drains",
      "BucketedTableStore.buckets_touched", "BucketedTableStore.rows_rewritten",
      "MorStore.delta_rows", "MorStore.generations", "MorStore.undrained_rows",
      "CdcStream.batches", "CdcStream.files_per_batch", "CdcStream.backlog_files"
    ).map(_ -> "count") ++
    Seq("FileLedger.redelivery_skip_frac", "CdcDedup.window_frac",
      "BucketedTableStore.rewrite_useful_frac", "trace.overhead_frac").map(_ -> "ratio") ++
    Seq("CdcDedup.shuffle_mb", "BucketedTableStore.write_mb").map(_ -> "MB") ++
    Seq("gen.late_s" -> "s") ++
    sparkPerFile.flatMap { case (n, u) => Seq(n -> u, s"$n.total" -> u) } ++
    Stages.flatMap(s => Seq(s"stage.$s.self_s" -> "s", s"stage.$s.jobs" -> "count",
      s"stage.$s.driver_gap_s" -> "s"))

  private val MB = 1024.0 * 1024.0

  private def sparkValues(st: GroupStats, gap: Double): Map[String, Double] = Map(
    "spark.jobs" -> st.jobs.toDouble, "spark.tasks" -> st.tasks.toDouble,
    "spark.exec_run_s" -> st.execRunMs / 1000.0, "spark.exec_cpu_s" -> st.execCpuNs / 1e9,
    "spark.driver_gap_s" -> gap, "spark.shuffle_read_mb" -> st.shuffleRead / MB,
    "spark.shuffle_write_mb" -> st.shuffleWrite / MB, "spark.input_mb" -> st.input / MB,
    "spark.output_mb" -> st.output / MB, "spark.spill_mb" -> st.spill / MB)

  /** The median over files of traced ÷ untraced apply wall − 1, where each
    * file was also applied untraced next to its traced apply (`trickle`);
    * elsewhere the profile listener's own callback time ÷ the traced load.
    */
  private def overhead(tr: Tracer, pass: Pass): Double =
    if (pass.twinWall.nonEmpty) {
      val same = pass.twinWall.keySet.intersect(pass.fileWall.keySet).toSeq
      median(same.map(f => pass.fileWall(f) / pass.twinWall(f))) - 1.0
    } else tr.profile.busyNs.get / 1e9 / pass.loadWallS

  /** Median and total of per-unit samples into `out`. */
  private def put(out: mutable.Map[String, Double], name: String, xs: Iterable[Double]): Unit = {
    if (xs.nonEmpty) out(name) = median(xs.toSeq)
    out(s"$name.total") = xs.sum
  }

  /** Per-layer metrics of a traced `trickle` pass, plus the
    * per-stage breakdown and the stage with the largest self time.
    */
  def ofReplay(spark: SparkSession, fx: Fixture, tr: Tracer, replay: Replay, pass: Pass,
      sideState: (Long, Long), ledgerStats: (Long, Long))
      : (Map[String, Double], Map[String, Any]) = {
    val sc = spark.sparkContext
    val out = mutable.Map.empty[String, Double]
    val spans = tr.spans.toSeq
    val stats = spans.map(s => s -> tr.profile.group(sc, s.group)).toMap
    val gaps = spans.map(s => s -> tr.driverGapSeconds(s, stats(s))).toMap
    val files = pass.fileWall.keySet
    def perFile(stage: String): Seq[Double] = spans.filter(s => s.name == stage && s.file >= 0)
      .groupBy(_.file).values.map(_.map(_.seconds).sum).toSeq
    Seq("CdcPath.route" -> "CdcPath.route_s", "FileLedger.check" -> "FileLedger.check_s",
      "FileLedger.mark" -> "FileLedger.mark_s", "CdcDedup.stage" -> "CdcDedup.stage_s",
      "CdcDedup.dedup" -> "CdcDedup.dedup_s", "SchemaEvolution.evolve" -> "SchemaEvolution.evolve_s",
      "MergePlanner.normalize" -> "MergePlanner.normalize_s",
      "MergePlanner.drain" -> "MergePlanner.drain_s",
      "BucketedTableStore.merge" -> "BucketedTableStore.merge_s",
      "MorStore.commit" -> "MorStore.commit_s").foreach { case (stage, name) =>
      put(out, name, perFile(stage)) }
    put(out, "CdcPipeline.read_s", spans.filter(_.name == "CdcPipeline.read").map(_.seconds))
    // per-file wall the stage spans leave uncovered
    val covered = spans.filter(_.file >= 0).groupBy(_.file).map { case (f, ss) =>
      f -> ss.map(_.seconds).sum }
    put(out, "CdcPipeline.unattributed_s", files.toSeq.map(f =>
      math.max(0.0, pass.fileWall(f) - covered.getOrElse(f, 0.0))))
    // Spark work per file, summed over its stage spans
    val perFileSpark = spans.filter(s => files.contains(s.file)).groupBy(_.file).values.map { ss =>
      val st = new GroupStats
      ss.foreach(s => st.add(stats(s)))
      sparkValues(st, ss.map(gaps).sum)
    }.toSeq
    sparkPerFile.foreach { case (n, _) => put(out, n, perFileSpark.map(_(n))) }
    // counts
    replay.counts.foreach { case (k, v) => out(k) = v }
    def sumOf(stage: String)(f: GroupStats => Long): Long =
      spans.filter(_.name == stage).map(s => f(stats(s))).sum
    out("CdcDedup.shuffle_mb") = sumOf("CdcDedup.dedup")(st => st.shuffleRead + st.shuffleWrite) / MB
    out("MergePlanner.drains") = spans.count(s => s.name == "MergePlanner.drain" && stats(s).jobs > 0)
    val rewritten = sumOf("BucketedTableStore.merge")(_.outputRecords)
    out("BucketedTableStore.rows_rewritten") = rewritten.toDouble
    out("BucketedTableStore.write_mb") = sumOf("BucketedTableStore.merge")(_.output) / MB
    out("BucketedTableStore.rewrite_useful_frac") =
      if (rewritten > 0) replay.mergeStaged.values.sum.toDouble / rewritten else 0.0
    out("MorStore.delta_rows") = sumOf("MorStore.commit")(_.outputRecords).toDouble
    out("MorStore.generations") = sideState._1.toDouble
    out("MorStore.undrained_rows") = sideState._2.toDouble
    out("FileLedger.rows") = ledgerStats._1.toDouble
    out("FileLedger.part_files") = ledgerStats._2.toDouble
    out("FileLedger.redelivery_skip_frac") =
      if (pass.counts("redelivered") > 0) pass.counts("redelivery_skipped") / pass.counts("redelivered")
      else 0.0
    val applied = fx.events.filter(e => files.contains(e.index))
    out("CdcDedup.window_frac") =
      if (applied.isEmpty) 0.0 else applied.count(e => e.uniqueKeys < e.rows).toDouble / applied.size
    out("CdcDedup.rows_dropped") = applied.map(e => e.rows - e.uniqueKeys).sum.toDouble
    out("trace.overhead_frac") = overhead(tr, pass)
    // per-stage breakdown
    val byStage = Stages.map { stage =>
      val ss = spans.filter(_.name == stage)
      val st = new GroupStats
      ss.foreach(s => st.add(stats(s)))
      out(s"stage.$stage.self_s") = ss.map(_.seconds).sum
      out(s"stage.$stage.jobs") = st.jobs.toDouble
      out(s"stage.$stage.driver_gap_s") = ss.map(gaps).sum
      stage -> Map("spans" -> ss.size, "self_s" -> ss.map(_.seconds).sum,
        "self_p50_s" -> median(ss.map(_.seconds)), "jobs" -> st.jobs, "tasks" -> st.tasks,
        "driver_gap_s" -> ss.map(gaps).sum, "exec_run_s" -> st.execRunMs / 1000.0,
        "exec_cpu_s" -> st.execCpuNs / 1e9)
    }
    val (topName, topVals) = byStage.maxBy(_._2("self_s").asInstanceOf[Double])
    val wall = files.toSeq.map(pass.fileWall).sum
    val details = Map[String, Any](
      "stages" -> byStage.toMap,
      "top_stage" -> (Map("stage" -> topName) ++ topVals),
      "file_wall_total_s" -> wall,
      "stage_spans_total_s" -> covered.values.sum,
      "unattributed_total_s" -> out("CdcPipeline.unattributed_s.total"),
      "files_traced" -> files.size)
    (Names.map { case (n, _) => n -> out.getOrElse(n, 0.0) }.toMap, details)
  }

  /** Per-layer metrics of a traced `stream` pass: per micro-batch, from
    * the streams' progress and the jobs of each query's run id; the merge,
    * dedup and ledger layers by the call sites of their jobs.
    */
  def ofStream(spark: SparkSession, tr: Tracer, pass: Pass, ledgerStats: (Long, Long)): (Map[String, Double], Map[String, Any]) = {
    val sc = spark.sparkContext
    val out = mutable.Map.empty[String, Double]
    val batches = pass.batches
    out("CdcStream.batches") = batches.size.toDouble
    put(out, "CdcStream.batch_s", batches.map(_.addBatchMs / 1000.0))
    put(out, "CdcStream.trigger_s", batches.map(_.triggerMs / 1000.0))
    // files per batch: one ledger write (one processed_at) per table batch
    val perBatch = pass.committedMs.toSeq.groupBy { case (k, t) =>
      (Tables.find(x => k.contains(s"/fair/$x/")).getOrElse(""), t) }.values.map(_.size.toDouble)
    if (perBatch.nonEmpty) out("CdcStream.files_per_batch") = median(perBatch.toSeq)
    val backlog = batches.map { b =>
      val start = b.endMs - b.triggerMs
      pass.landedMs.count { case (k, l) =>
        l <= start && pass.committedMs.get(k).forall(_ > start) }.toDouble
    }
    if (backlog.nonEmpty) out("CdcStream.backlog_files") = median(backlog)
    val late = pass.extra.get("late_s").map(_.asInstanceOf[Seq[Double]]).getOrElse(Nil)
    if (late.nonEmpty) out("gen.late_s") = median(late)
    val groups = tr.profile.groupsWithPrefix(sc, "")
    val perBatchSpark = batches.map { b =>
      val st = groups.getOrElse(s"${b.runId}:${b.batchId}", new GroupStats)
      val span = Span("batch", -1, "", 0L, b.triggerMs * 1000000L, b.endMs - b.triggerMs, b.endMs)
      (st, sparkValues(st, tr.driverGapSeconds(span, st)))
    }
    sparkPerFile.foreach { case (n, _) => put(out, n, perBatchSpark.map(_._2(n))) }
    def siteSeconds(pat: String): Seq[Double] = perBatchSpark.map(_._1.callSites
      .filter(_._1.matches(pat)).map(_._2).sum / 1000.0)
    put(out, "BucketedTableStore.merge_s", siteSeconds(".*(BucketedTableStore|CdcMerge)\\.scala.*"))
    put(out, "CdcDedup.dedup_s", siteSeconds(".*CdcDedup\\.scala.*"))
    put(out, "FileLedger.mark_s", siteSeconds(".*(FileLedger|ParquetAppend)\\.scala.*"))
    out("BucketedTableStore.rows_rewritten") = perBatchSpark.map(_._1.outputRecords).sum.toDouble
    out("BucketedTableStore.write_mb") = perBatchSpark.map(_._1.output).sum / MB
    put(out, "CdcPipeline.read_s", tr.spans.filter(_.name == "CdcPipeline.read").map(_.seconds))
    out("FileLedger.rows") = ledgerStats._1.toDouble
    out("FileLedger.part_files") = ledgerStats._2.toDouble
    out("trace.overhead_frac") = overhead(tr, pass)
    val details = Map[String, Any](
      "batches" -> batches.map(b => Map("query" -> b.query, "batch" -> b.batchId, "rows" -> b.rows,
        "trigger_ms" -> b.triggerMs, "add_batch_ms" -> b.addBatchMs)),
      "attribution" -> "merge, dedup and ledger times are the wall of jobs at those call sites")
    (Names.map { case (n, _) => n -> out.getOrElse(n, 0.0) }.toMap, details)
  }
}
