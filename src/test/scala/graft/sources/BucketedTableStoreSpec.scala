package graft.sources

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SchemaEvolution

/** The apply path's bounded listing: `schema` answers from the sidecar
  * and a merge lists only the buckets it touches, with state equal to a
  * full read; `schema` always equals what [[BucketedTableStore.read]]
  * reports.
  */
class BucketedTableStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("bucketed-store").toString

  import BucketedTableStore.BucketCol

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

  def listings(descriptions: Seq[String]): Seq[String] =
    descriptions.filter(_.startsWith("Listing leaf files and directories"))

  def rows(df: DataFrame): Seq[(Long, String)] =
    df.select(col("k"), col("v")).collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq

  def bucketsOf(keys: Seq[Long], n: Int): Map[Long, Int] = {
    import spark.implicits._
    keys.toDF("k").select(col("k"), pmod(hash(col("k")), lit(n)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  def liveBuckets(store: BucketedTableStore): Set[Int] = {
    val root = new Path(store.path)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
      .map(_.getPath.getName).filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt).toSet
  }

  test("schema, a column-adding evolve and a one-key merge start no listing job on 64 buckets") {
    import spark.implicits._
    val store = BucketedTableStore.create(spark, s"${tmpDir()}/t", Seq("k"),
      (1L to 2000L).map(i => (i, s"v$i")).toDF("k", "v"), numBuckets = 64)
    assert(liveBuckets(store).size == 64, "every bucket must be live for the guard to bite")

    val schemaJobs = jobDescriptions(store.schema)
    assert(listings(schemaJobs).isEmpty, schemaJobs)

    val staged = StructType(store.schema.fields :+ StructField("extra", StringType))
    val evolution = SchemaEvolution.diff(staged, store.schema)
    assert(evolution.columnsAdded.map(_.name) == Seq("extra"))
    val evolveJobs = jobDescriptions(store.evolveSchema(evolution))
    assert(listings(evolveJobs).isEmpty, evolveJobs)
    assert(store.schema.fieldNames.toSeq == Seq("k", "v", "extra"))

    val batch = Seq((7L, "seven", "x", "U")).toDF("k", "v", "extra", "Op")
    val mergeJobs = jobDescriptions(assert(store.merge(batch) == 1))
    assert(listings(mergeJobs).isEmpty, mergeJobs)

    val state = store.read().collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(state.size == 2000)
    assert(state(7L) == ("seven", "x"))
    assert(state(8L) == ("v8", null))
  }

  test("a merge into a bucket with no live directory inserts into an empty slice") {
    import spark.implicits._
    val initial = (1L to 10L).map(i => (i, s"v$i"))
    val store = BucketedTableStore.create(spark, s"${tmpDir()}/t", Seq("k"),
      initial.toDF("k", "v"), numBuckets = 64)
    val live = liveBuckets(store)
    val fresh = bucketsOf(100L to 300L, 64).collectFirst { case (k, b) if !live(b) => k }.get

    assert(store.merge(Seq((fresh, "new", "I")).toDF("k", "v", "Op")) == 1)
    assert(rows(store.read()) == (initial :+ (fresh -> "new")).sortBy(_._1))
    assert(liveBuckets(store) == live + bucketsOf(Seq(fresh), 64)(fresh))
  }

  test("a merge deleting a bucket's last row leaves its directory absent") {
    import spark.implicits._
    val initial = (1L to 10L).map(i => (i, s"v$i"))
    val store = BucketedTableStore.create(spark, s"${tmpDir()}/t", Seq("k"),
      initial.toDF("k", "v"), numBuckets = 64)
    val byBucket = bucketsOf(initial.map(_._1), 64)
    val (lone, b) = byBucket.find { case (_, b) => byBucket.values.count(_ == b) == 1 }.get

    assert(store.merge(Seq((lone, "gone", "D")).toDF("k", "v", "Op")) == 1)
    assert(rows(store.read()) == initial.filterNot(_._1 == lone))
    assert(!liveBuckets(store).contains(b))

    // the absent bucket takes a later insert like any empty one
    assert(store.merge(Seq((lone, "back", "I")).toDF("k", "v", "Op")) == 1)
    assert(rows(store.read()) == initial.map(r => if (r._1 == lone) (lone, "back") else r))
  }

  test("schema equals a full read's schema: non-nullable and nested create, evolve, emptied, no sidecar") {
    val inner = StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("xs", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("m", MapType(StringType, LongType, valueContainsNull = false))))
    val tableSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType),
      StructField("nested", inner, nullable = false)))
    val data = (1L to 20L).map(i => Row(i, s"v$i", Row(i.toInt, Seq(i.toInt), Map(s"m$i" -> i))))
    val df = spark.createDataFrame(data.asJava, tableSchema)
    val store = BucketedTableStore.create(spark, s"${tmpDir()}/t", Seq("k"), df, numBuckets = 8)
    def same(): Unit = assert(store.schema == store.read().schema)

    same()
    assert(store.schema("k").nullable, "a file-source read reports every field nullable")

    val evolution = SchemaEvolution.diff(
      StructType(tableSchema.fields :+ StructField("amount", DecimalType(10, 2))), store.schema)
    store.evolveSchema(evolution)
    same()
    assert(store.schema.fieldNames.last == "amount")

    val deletes = df.withColumn("amount", lit(null).cast(DecimalType(10, 2)))
      .withColumn("Op", lit("D"))
    assert(store.merge(deletes) > 0)
    assert(store.read().count() == 0)
    same()

    val sidecar = new Path(store.path, "_graft_schema.json")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(store.merge(df.withColumn("Op", lit("I"))) > 0)
    assert(fs.delete(sidecar, false))
    same()
  }
}
