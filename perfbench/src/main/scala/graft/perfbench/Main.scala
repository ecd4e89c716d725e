package graft.perfbench

import java.io.File

import Support._

/** One run of one workload, as `perfbench/run.py` launches it:
  *
  * {{{
  *   Main --workload trickle|stream --seconds N --trace 0|1
  *        --fixture DIR --base DIR --work DIR --cpus K --out FILE
  * }}}
  *
  * Writes the run's measurements to `--out` as JSON, and the rows of every
  * key the fixture touches to `DIR/actual/` for the oracle. With
  * `--trace 1` the pass is traced and the result adds the per-layer profile.
  */
object Main {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall time of each phase of the run, for the report. */
  private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def phase[T](name: String)(body: => T): T = {
    val (v, s) = timed(body)
    phases(name) = phases.getOrElse(name, 0.0) + s
    v
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val work = args("work")
    val cpus = args("cpus").toInt
    val fx = Fixture.load(args("fixture"))
    require(fx.workload == workload, s"fixture is for ${fx.workload}, not $workload")

    val (spark, sessionS) = timed(session(cpus, work))
    try {
      val wl = new Workloads(spark, fx, args("base"))
      val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
      def setupAt(root: String): graft.pipeline.CdcPipeline = {
        deleteTree(root)
        deleteTree(s"$root-landing")
        val (p, s) = timed(wl.setup(root))
        phases("setup") = phases.getOrElse("setup", 0.0) + s
        setups += s
        p
      }

      val pass = new Pass(s"$work/run")
      val p = setupAt(pass.root)
      val tr = if (trace) Some(new Tracer(spark)) else None
      // traced trickle: an untraced twin store takes every delivery next to
      // its traced apply, the reference for the replay's final state and for
      // the trace overhead
      val twin = if (trace && workload == "trickle") Some(setupAt(s"${pass.root}-twin")) else None
      val replay = phase("load")(workload match {
        case "trickle" => wl.trickle(p, pass, tr, twin)
        case "stream" => wl.stream(p, pass, tr); None
      })
      pass.spaceEnd = dirBytes(pass.root)
      val checks = phase("check")(wl.check(p, Some(s"$work/actual")))
      val traced = tr.map { t =>
        val equal = twin.forall { q =>
          val c = wl.check(q, None)
          Tables.forall(x => c(x)("checksum") == checks(x)("checksum") &&
            c(x)("rows") == checks(x)("rows"))
        }
        val ledger = wl.ledgerStats(p, pass.root)
        val (layers, details) = phase("profile")(replay match {
          case Some(r) => Layers.ofReplay(spark, fx, t, r, pass, wl.sideState(p), ledger)
          case None => Layers.ofStream(spark, t, pass, ledger)
        })
        Map("layers" -> layers, "layer_units" -> Layers.Names.toMap, "details" -> details,
          "replay_equal" -> equal)
      }
      val (genS, undrained) = wl.sideState(p)
      val result = Map[String, Any](
        "workload" -> workload, "seconds" -> seconds, "cpus" -> cpus,
        "master" -> s"local[$cpus]", "session_s" -> sessionS, "store_setup_s" -> setups.toSeq,
        "setup_s" -> (sessionS + setups.head), "phases_s" -> phases.toMap,
        "setup_parts_s" -> wl.setupParts.map { case (n, v) => Map(n -> v) }.toSeq,
        "pass" -> passJson(pass, fx),
        "checks" -> checks,
        "side_generations" -> genS, "side_undrained_rows" -> undrained,
        "traced" -> traced)
      Json.mapper.writeValue(new File(args("out")), result)
    } finally spark.stop()
  }

  private def passJson(pass: Pass, fx: Fixture): Map[String, Any] = Map(
    "records" -> pass.records.toSeq,
    "delivered" -> pass.delivered.toSeq,
    "failed" -> pass.failed.toSeq,
    "counts" -> pass.counts.toMap,
    "apply" -> summary(pass.apply),
    "fresh" -> summary(pass.fresh),
    "reads" -> summary(pass.reads),
    "read_failures" -> pass.readFailures,
    "load_wall_s" -> pass.loadWallS,
    "files_applied" -> pass.filesApplied,
    "rows_applied" -> pass.rowsApplied,
    "bytes_in" -> pass.bytesIn,
    "bytes_written" -> pass.bytesWritten,
    "space_start" -> pass.spaceStart,
    "space_end" -> pass.spaceEnd,
    "extra" -> pass.extra.toMap)
}
