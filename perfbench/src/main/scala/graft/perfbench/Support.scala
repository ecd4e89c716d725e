package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.TableKeys

/** JSON of the result file run.py reads. NaN (an empty sample's median)
  * is written as a bare `NaN`, which Python's json module reads as a float.
  */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
}

/** One delivery of the fixture's manifest (a CDC, LOAD or off-pattern
  * file, or a second delivery of an earlier file).
  */
final case class Event(index: Int, kind: String, table: String, path: String,
    rows: Long, uniqueKeys: Long, dueS: Double)

final case class Fixture(dir: String, workload: String, events: IndexedSeq[Event]) {
  def abs(e: Event): String = new File(dir, e.path).getCanonicalPath
  def touched(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"$dir/touched/$table.parquet")
}

object Fixture {
  def load(dir: String): Fixture = {
    val root = Json.mapper.readTree(new File(dir, "manifest.json"))
    def opt(n: JsonNode, f: String): Option[JsonNode] =
      Option(n.get(f)).filterNot(_.isNull)
    val events = root.get("events").elements().asScala.zipWithIndex.map { case (n, i) =>
      Event(i, n.get("kind").asText, n.get("table").asText, n.get("path").asText,
        n.get("rows").asLong, opt(n, "unique_keys").map(_.asLong).getOrElse(0L),
        opt(n, "due_s").map(_.asDouble).getOrElse(0.0))
    }.toIndexedSeq
    Fixture(dir, root.get("workload").asText, events)
  }
}

object Support {
  val Tables: Seq[String] = Seq("customer", "lineitem", "orders")
  val Keys: TableKeys = TableKeys(Map(
    "orders" -> Some(Seq("o_orderkey")),
    "customer" -> Some(Seq("c_custkey")),
    "lineitem" -> Some(Seq("l_orderkey", "l_linenumber"))))
  def keysOf(table: String): Seq[String] = Keys.keysFor(table).get

  /** BASELINE.md's steady-state ledger size. */
  val LedgerPreseedRows = 300000

  /** `f` over `xs` on concurrent threads (Spark schedules their jobs
    * side by side), in input order; the first failure is rethrown. */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = xs.map(x => Future(f(x)))
    fs.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The highest of the usual percentiles that leaves at least ten samples
    * above it, with its value; the median when the sample is too small.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(q => xs.size * (1 - q / 100.0) >= 10.0).getOrElse(50.0)
    (p, percentile(xs, p))
  }

  /** Summary of a sample: median, tail percentile and count. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val (p, v) = tail(xs)
    Map("p50" -> median(xs), "tail_pct" -> p, "tail" -> v, "n" -> xs.size,
      "total" -> xs.sum)
  }

  def session(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes the JVM has written through Hadoop's local filesystem: every
    * store, side-store, ledger and checkpoint write, but no shuffle files.
    */
  def localBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  def countFiles(dir: String, pred: Path => Boolean): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.count(x => Files.isRegularFile(x) && pred(x)).toLong
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
  }

  /** Order-independent (rows, checksum) of a relation over `cols`. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(cols.map(col): _*), lit(1000000007L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The reference's validation aggregate (DATA_VALIDATION_QUERIES §1-2):
    * row count, distinct keys and a value checksum.
    */
  def validationRead(df: DataFrame, keys: Seq[String]): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), count_distinct(struct(keys.map(col): _*)),
      sum(pmod(xxhash64(df.columns.sorted.toSeq.map(col): _*), lit(1000000007L)))).head()
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
