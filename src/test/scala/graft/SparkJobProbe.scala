package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.Assertions

/** Counts the Spark jobs a block starts, for specs that pin a job budget. */
trait SparkJobProbe extends Assertions {

  def spark: SparkSession

  /** Descriptions of the Spark jobs `f` starts on this thread. */
  def jobDescriptions(f: => Unit): Seq[String] = jobsOf(f).map(_.description)

  /** The Spark jobs `f` starts on this thread. Listener events arrive in
    * order, so seeing a marker job that runs after `f` proves every job
    * `f` started was delivered.
    */
  def jobsOf(f: => Unit): Seq[SparkJobProbe.Job] = {
    val sc = spark.sparkContext
    val group = s"listing-guard-${UUID.randomUUID()}"
    val marker = s"marker-$group"
    val seen = new ConcurrentLinkedQueue[(String, SparkJobProbe.Job)]()
    // a SQL execution's call site, by execution id: the jobs adaptive
    // execution starts for one query stage carry no call site of their own
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(q => Option(q.getProperty(k))).getOrElse("")
        val execution = prop("spark.sql.execution.id")
        val site = Option(executions.get(execution)).getOrElse(
          if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
        seen.add(prop("spark.jobGroup.id") -> SparkJobProbe.Job(
          prop("spark.job.description"), site, execution.nonEmpty))
      }
    }
    sc.addSparkListener(listener)
    try {
      // no group description: a SQL execution then takes its call site as
      // its description, which names the job
      sc.setJobGroup(group, null)
      try {
        f
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._2.description == marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_._2.description == marker), "listener never saw the marker job")
      seen.asScala.toSeq.collect { case (`group`, j) if j.description != marker => j }
    } finally sc.removeSparkListener(listener)
  }

  /** The jobs among `descriptions` that are Spark's distributed file listing. */
  def listings(descriptions: Seq[String]): Seq[String] =
    descriptions.filter(_.startsWith("Listing leaf files and directories"))

  /** The jobs among `jobs` that infer a parquet schema: Spark's footer
    * reads run as a job whose call site is the `parquet` read, outside
    * any SQL execution (a parquet write's job has the same call site but
    * runs inside its command's execution).
    */
  def schemaInferences(jobs: Seq[SparkJobProbe.Job]): Seq[SparkJobProbe.Job] =
    jobs.filter(j => j.callSite.startsWith("parquet at") && !j.inSqlExecution)
}

object SparkJobProbe {
  /** One started job: its description, its call site (as the UI shows it;
    * for a job inside a SQL execution, the execution's) and whether it ran
    * inside a SQL execution.
    */
  final case class Job(description: String, callSite: String, inSqlExecution: Boolean)
}
