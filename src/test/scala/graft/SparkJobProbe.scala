package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions

/** Counts the Spark jobs a block starts, for specs that pin a job budget. */
trait SparkJobProbe extends Assertions {

  def spark: SparkSession

  /** Descriptions of the Spark jobs `f` starts on this thread. Listener
    * events arrive in order, so seeing a marker job that runs after `f`
    * proves every job `f` started was delivered.
    */
  def jobDescriptions(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"listing-guard-${UUID.randomUUID()}"
    val marker = s"marker-$group"
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(q => Option(q.getProperty(k))).getOrElse("")
        seen.add(prop("spark.jobGroup.id") -> prop("spark.job.description"))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try {
        f
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._2 == marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_._2 == marker), "listener never saw the marker job")
      seen.asScala.toSeq.collect { case (`group`, d) if d != marker => d }
    } finally sc.removeSparkListener(listener)
  }

  /** The jobs among `descriptions` that are Spark's distributed file listing. */
  def listings(descriptions: Seq[String]): Seq[String] =
    descriptions.filter(_.startsWith("Listing leaf files and directories"))
}
