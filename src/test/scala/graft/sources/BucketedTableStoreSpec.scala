package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkJobProbe
import graft.config.TableKeys
import graft.operators.SchemaEvolution
import graft.pipeline.CdcPipeline

/** The store plans every scan from its own listing: `schema` answers
  * from the sidecar, a merge lists only the buckets it touches, and no
  * read or merge starts a Spark listing job; a read equals a file-source
  * read of the root, and `schema` always equals what
  * [[BucketedTableStore.read]] reports.
  */
class BucketedTableStoreSpec extends AnyFunSuite with SparkJobProbe {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("bucketed-store").toString

  import BucketedTableStore.BucketCol

  def rows(df: DataFrame): Seq[(Long, String)] =
    df.select(col("k"), col("v")).collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq

  def bucketsOf(keys: Seq[Long], n: Int): Map[Long, Int] = {
    import spark.implicits._
    keys.toDF("k").select(col("k"), pmod(hash(col("k")), lit(n)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  /** One single-file CDC parquet at `file`, as DMS lands it. */
  def writeCdcFile(file: String, df: DataFrame): Unit = {
    val tmp = s"${tmpDir()}/out"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(file)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
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

    var read: Array[Row] = null
    val readJobs = jobDescriptions { read = store.read().collect() }
    assert(listings(readJobs).isEmpty, readJobs)
    val state = read.map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(state.size == 2000)
    assert(state(7L) == ("seven", "x"))
    assert(state(8L) == ("v8", null))

    // a merge whose slice covers more than 32 live buckets (Spark's
    // threshold for a distributed listing)
    val wide = (1L to 300L).map(i => (i, s"w$i", "y", "U")).toDF("k", "v", "extra", "Op")
    var touched = 0
    val wideJobs = jobDescriptions { touched = store.merge(wide) }
    assert(touched > 32, s"the slice must cover more than 32 buckets, got $touched")
    assert(listings(wideJobs).isEmpty, wideJobs)
    assert(rows(store.read()).take(2) == Seq(1L -> "w1", 2L -> "w2"))

    // CdcPipeline.readTable after a MoR-routed file and the drain a
    // later CoW-routed file runs first
    val root = tmpDir()
    val pipe = new CdcPipeline(spark, s"$root/store", TableKeys.parse("""{"t": "k"}"""))
    pipe.initialLoad("t", (1L to 2000L).map(i => (i, s"v$i")).toDF("k", "v"))
    val scatter = s"$root/fair/t/2026/08/12/a.parquet"
    writeCdcFile(scatter, (1L to 200L).map(i => (i, s"m$i", "U")).toDF("k", "v", "Op"))
    val scatterJobs = jobDescriptions(
      assert(pipe.processFile(scatter).isInstanceOf[CdcPipeline.Applied]))
    assert(listings(scatterJobs).isEmpty, scatterJobs)
    val side = pipe.morSideFor("t", Seq("k"))
    assert(!side.knownEmpty, "the scattered file must take the MoR route")
    val cow = s"$root/fair/t/2026/08/13/b.parquet"
    writeCdcFile(cow, Seq((1L, "c1", "U")).toDF("k", "v", "Op"))
    val drainJobs = jobDescriptions(
      assert(pipe.processFile(cow).isInstanceOf[CdcPipeline.Applied]))
    assert(listings(drainJobs).isEmpty, drainJobs)
    assert(side.knownEmpty, "the CoW-routed file must drain the side")
    var table: Map[Long, String] = null
    val tableJobs = jobDescriptions { table = rows(pipe.readTable("t")).toMap }
    assert(listings(tableJobs).isEmpty, tableJobs)
    assert(table.size == 2000 && table(1L) == "c1" && table(2L) == "m2" && table(300L) == "v300")
  }

  test("read equals a file-source read of the root: evolved, emptied, leftovers, nested") {
    import spark.implicits._
    /** `store.read()` against the sidecar-schema read of the root. */
    def sameAsFileSource(store: BucketedTableStore): Unit = {
      val sidecar = new Path(store.path, "_graft_schema.json")
      val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(sidecar)
      val s = try DataType.fromJson(new String(in.readAllBytes(), "UTF-8")).asInstanceOf[StructType]
        finally in.close()
      val expected = spark.read.schema(s.add(BucketCol, IntegerType)).parquet(store.path)
        .drop(BucketCol)
      val actual = store.read()
      assert(actual.schema == expected.schema)
      def sorted(df: DataFrame) = df.collect().toSeq.sortBy(_.getLong(0))
      assert(sorted(actual) == sorted(expected))
    }

    // evolved: files written before the new column lack it (null)
    val evolved = BucketedTableStore.create(spark, s"${tmpDir()}/t", Seq("k"),
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"), numBuckets = 8)
    val staged = StructType(evolved.schema.fields :+ StructField("extra", StringType))
    evolved.evolveSchema(SchemaEvolution.diff(staged, evolved.schema))
    assert(evolved.merge(Seq((3L, "three", "x", "U")).toDF("k", "v", "extra", "Op")) == 1)
    sameAsFileSource(evolved)
    assert(evolved.read().filter(col("extra").isNull).count() > 0)

    // emptied: every row deleted, so no bucket is live
    val emptied = BucketedTableStore.create(spark, s"${tmpDir()}/t", Seq("k"),
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"), numBuckets = 8)
    assert(emptied.merge((1L to 20L).map(i => (i, "", "D")).toDF("k", "v", "Op")) > 0)
    assert(liveBuckets(emptied).isEmpty)
    sameAsFileSource(emptied)
    assert(emptied.read().count() == 0)

    // leftovers: a crashed merge's tmp dir holding a bucket, and _SUCCESS
    // markers at the root and inside a live bucket
    val leftover = BucketedTableStore.create(spark, s"${tmpDir()}/t", Seq("k"),
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"), numBuckets = 8)
    val b = liveBuckets(leftover).head
    (100L to 110L).map(i => (i, s"stray$i")).toDF("k", "v")
      .write.parquet(s"${leftover.path}/.merge-tmp-x/$BucketCol=$b")
    val fs = new Path(leftover.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(leftover.path, "_SUCCESS"), true).close()
    fs.create(new Path(leftover.path, s"$BucketCol=$b/_SUCCESS"), true).close()
    sameAsFileSource(leftover)
    assert(rows(leftover.read()).map(_._1) == (1L to 50L))

    // non-nullable and nested columns
    val inner = StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("xs", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("m", MapType(StringType, LongType, valueContainsNull = false))))
    val nestedSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("nested", inner, nullable = false)))
    val data = (1L to 20L).map(i => Row(i, Row(i.toInt, Seq(i.toInt), Map(s"m$i" -> i))))
    sameAsFileSource(BucketedTableStore.create(spark, s"${tmpDir()}/t", Seq("k"),
      spark.createDataFrame(data.asJava, nestedSchema), numBuckets = 8))
  }

  test("a bucket directory that vanishes after the root listing fails the read") {
    import spark.implicits._
    val local = s"${tmpDir()}/t"
    BucketedTableStore.create(spark, local, Seq("k"),
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"), numBuckets = 8)
    spark.sparkContext.hadoopConfiguration.set("fs.vanish.impl", classOf[VanishingBucketFs].getName)
    val store = new BucketedTableStore(spark, s"vanish://$local", Seq("k"), 8)
    assert(rows(store.read()).size == 50)

    val victim = s"$local/$BucketCol=${liveBuckets(store).head}"
    VanishingBucketFs.victim = Some(victim)
    intercept[java.io.FileNotFoundException](store.read())
    assert(VanishingBucketFs.victim.isEmpty && !new java.io.File(victim).exists)
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

/** A local file system under the `vanish` scheme that deletes the
  * `victim` directory right after listing its parent: the race of a
  * concurrent merge retiring a bucket while a reader plans its scan.
  */
class VanishingBucketFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("vanish:///")

  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val listed = super.listStatus(p)
    VanishingBucketFs.victim.filter(v => listed.exists(_.getPath.toUri.getPath == v)).foreach { v =>
      VanishingBucketFs.victim = None
      delete(new Path(v), true)
    }
    listed
  }
}

object VanishingBucketFs {
  @volatile var victim: Option[String] = None
}
