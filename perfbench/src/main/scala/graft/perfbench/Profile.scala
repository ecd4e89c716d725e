package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work of one job group: counts, executor time and bytes moved,
  * plus the wall interval of every job (for the driver gap).
  */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var input = 0L
  var output = 0L
  var outputRecords = 0L
  var spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  val callSites = mutable.ArrayBuffer.empty[(String, Long)] // (call site, job ms)

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; execRunMs += o.execRunMs
    execCpuNs += o.execCpuNs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; input += o.input; output += o.output
    outputRecords += o.outputRecords; spill += o.spill
    jobSpans ++= o.jobSpans; callSites ++= o.callSites
  }
}

/** Aggregates every job, stage and task by the job group it ran under.
  * A streaming query runs its batches under its run id as job group, with
  * the batch id as a local property; those jobs key as `runId:batchId`.
  */
final class JobProfile extends SparkListener {
  /** Time spent inside this listener's callbacks: its own cost. */
  val busyNs = new AtomicLong(0)
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long, String)]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  private def groupOf(props: java.util.Properties): String =
    if (props == null) "<none>"
    else {
      val g = Option(props.getProperty("spark.jobGroup.id")).getOrElse("<none>")
      Option(props.getProperty("streaming.sql.batchId")).fold(g)(b => s"$g:$b")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobStart.put(e.jobId, (g, e.time, site))
    stats(g).synchronized { stats(g).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0, site) =>
      val s = stats(g)
      s.synchronized {
        s.jobSpans += ((t0, e.time))
        s.callSites += ((site, e.time - t0))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("<none>")
    val s = stats(g)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.execRunMs += m.executorRunTime
        s.execCpuNs += m.executorCpuTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
        s.outputRecords += m.outputMetrics.recordsWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Stats of one group, after every event posted so far is delivered. */
  def group(sc: SparkContext, g: String): GroupStats = {
    PerfbenchBridge.drainListeners(sc)
    Option(groups.get(g)).getOrElse(new GroupStats)
  }

  def groupsWithPrefix(sc: SparkContext, prefix: String): Map[String, GroupStats] = {
    PerfbenchBridge.drainListeners(sc)
    groups.asScala.filter(_._1.startsWith(prefix)).toMap
  }
}

object JobProfile {
  private var installed: Option[(SparkContext, JobProfile)] = None

  /** The session's profile listener, registered at most once per
    * SparkContext however often this is called.
    */
  def install(sc: SparkContext): JobProfile = synchronized {
    installed match {
      case Some((c, p)) if c eq sc => p
      case _ =>
        val p = new JobProfile
        sc.addSparkListener(p)
        installed = Some((sc, p))
        p
    }
  }
}

/** One timed call into a layer. `file` is the index of the delivery (or
  * micro-batch) it served; its jobs ran under job group `group`.
  */
final case class Span(name: String, file: Int, group: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded in memory around calls into the program's layers; each
  * span runs its Spark jobs under a job group of its own.
  */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val profile: JobProfile = JobProfile.install(spark.sparkContext)

  def span[T](name: String, file: Int)(body: => T): T = {
    val sc = spark.sparkContext
    val g = s"perfbench-${ids.incrementAndGet()}"
    sc.setJobGroup(g, name)
    val (s0, w0) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      val (s1, w1) = (System.nanoTime(), System.currentTimeMillis())
      sc.clearJobGroup()
      spans.synchronized { spans += Span(name, file, g, s0, s1, w0, w1) }
    }
  }

  /** Span wall minus the union of its jobs' wall intervals. */
  def driverGapSeconds(s: Span, st: GroupStats): Double = {
    val clipped = st.jobSpans.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (-1L, -1L)
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.seconds - covered / 1000.0)
  }
}

/** One micro-batch that read input, from a streaming query's progress. */
final case class StreamBatch(query: String, runId: String, batchId: Long, rows: Long,
    triggerMs: Long, addBatchMs: Long, endMs: Long)

/** Per-batch progress of every streaming query. */
final class StreamProgress extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamBatch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala
      batches.add(StreamBatch(p.name, p.runId.toString, p.batchId, p.numInputRows,
        d.get("triggerExecution").map(_.longValue).getOrElse(0L),
        d.get("addBatch").map(_.longValue).getOrElse(0L),
        java.time.Instant.parse(p.timestamp).toEpochMilli +
          d.get("triggerExecution").map(_.longValue).getOrElse(0L)))
    }
  }
}
