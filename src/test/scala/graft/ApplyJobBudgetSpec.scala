package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TableKeys
import graft.operators.{CdcDedup, EvolutionLog, FileLedger, SchemaEvolution}
import graft.pipeline.CdcPipeline
import graft.sources.MorStore

/** The per-file apply's bookkeeping starts no Spark job: the ledger
  * check and mark, the evolution-log append and staging the file. Only
  * the dedup gate and the merge move data, within a job budget per
  * route.
  */
class ApplyJobBudgetSpec extends AnyFunSuite with SparkJobProbe {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String = Files.createTempDirectory("graft-budget").toString

  test("ledger: after the seed, checks and marks start no Spark job") {
    val dir = s"${tmpDir()}/ledger"
    // a parquet base (the batch crosses the tail's row bound) plus a tail
    new FileLedger(spark, dir).markBatchProcessed((0 until 120000).map(i => s"old/$i"))
    new FileLedger(spark, dir).markCompleted("tail/0")

    val ledger = new FileLedger(spark, dir)
    assert(ledger.isProcessed("old/7")) // the seed
    val many = (0 until 5000).map(i => s"old/${i * 20}") :+ "tail/0" :+ "new/0"
    val jobs = jobDescriptions {
      assert(ledger.isProcessed("old/119999") && ledger.isProcessed("tail/0"))
      assert(!ledger.isProcessed("new/0"))
      assert(ledger.processedAmong(Seq("old/3")) == Set("old/3"))
      assert(ledger.processedAmong(many) == many.dropRight(1).toSet)
      ledger.markCompleted("new/0")
      ledger.markFailed("new/1", "boom")
      ledger.markBatchProcessed((2 until 7).map(i => s"new/$i"))
      assert(ledger.processedAmong(Seq("new/0", "new/1", "new/2")) == Set("new/0", "new/2"))
    }
    assert(jobs.isEmpty, s"ledger bookkeeping started Spark jobs: $jobs")
  }

  test("evolution log: an append starts no Spark job") {
    import org.apache.spark.sql.types._
    val log = new EvolutionLog(spark, s"${tmpDir()}/_evolution_log")
    val ev = SchemaEvolution.diff(
      StructType(Seq(StructField("id", LongType), StructField("email", StringType))),
      StructType(Seq(StructField("id", LongType))))
    assert(ev.hasChanges)
    val jobs = jobDescriptions { assert(log.log("users", "f1", ev) == 1) }
    assert(jobs.isEmpty, s"evolution-log append started Spark jobs: $jobs")
    assert(log.records.count() == 1)
  }

  test("staging: reading a CDC file starts no Spark job") {
    import spark.implicits._
    val out = s"${tmpDir()}/staged"
    Seq((1L, "a", "I")).toDF("id", "v", "Op").coalesce(1).write.parquet(out)
    val file = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    val jobs = jobDescriptions {
      val staged = CdcDedup.readCdcFiles(spark, Seq(file.getAbsolutePath))
      assert(staged.columns.toSeq ==
        Seq("id", "v", "Op", CdcDedup.IngestionSeqCol, "__source_file"))
    }
    assert(jobs.isEmpty, s"staging started Spark jobs: $jobs")
  }

  test("MoR: a delta commit infers no parquet schema") {
    import spark.implicits._
    val st = new MorStore(spark, s"${tmpDir()}/t", Seq("k"))
    st.commitBase(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), 1L)
    st.commitDelta(Seq((3L, 30L, "U")).toDF("k", "v", "__op"), 2L)
    val jobs = jobsOf {
      st.commitDelta(Seq((1L, 11L, "U"), (2L, 0L, "D")).toDF("k", "v", "__op"), 3L)
    }
    assert(jobs.nonEmpty, "the commit writes and validates its generation")
    assert(schemaInferences(jobs).isEmpty,
      s"delta commit inferred parquet schemas in Spark jobs: ${schemaInferences(jobs)}")
    assert(st.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 11L, 3L -> 30L))
  }

  test("ledger: the check stays flat as marks accumulate (compaction in force)") {
    val dir = s"${tmpDir()}/ledger"
    val ledger = new FileLedger(spark, dir)
    def checkMs(): Double = {
      var samples = Seq.empty[Double]
      val jobs = jobDescriptions {
        samples = (0 until 21).map { i =>
          val t0 = System.nanoTime()
          assert(!ledger.isProcessed(s"absent/$i"))
          (System.nanoTime() - t0) / 1e6
        }
      }
      assert(jobs.isEmpty, s"the check started Spark jobs: $jobs")
      samples.sorted.apply(samples.size / 2)
    }
    var marked = 0
    // the median time of the last up-to-101 marks, folds included
    def markUpTo(n: Int): Double = {
      var samples = Seq.empty[Double]
      while (marked < n) {
        val t0 = System.nanoTime()
        ledger.markCompleted(f"file/$marked%06d")
        if (n - marked <= 101) samples :+= (System.nanoTime() - t0) / 1e6
        marked += 1
      }
      samples.sorted.apply(samples.size / 2)
    }
    val at0 = checkMs()
    val mark1k = markUpTo(1000)
    val at1k = checkMs()
    val mark10k = markUpTo(10000)
    val at10k = checkMs()
    val logDir = new java.io.File(s"$dir/_log")
    val tailEntries = logDir.list().count(_.endsWith(".json"))
    info(f"check median after 0 / 1,000 / 10,000 marks: $at0%.2f / $at1k%.2f / $at10k%.2f ms " +
      s"($tailEntries tail entries left)")
    info(f"mark median before 1,000 / 10,000 marks: $mark1k%.2f / $mark10k%.2f ms")
    assert(tailEntries <= FileLedger.MaxTailEntries, "the tail must fold on its size trigger")
    assert(ledger.isProcessed("file/000000") && ledger.isProcessed("file/009999"))
    // flat: bounded by the tail the trigger allows, not by the marks made
    assert(at10k <= 2 * at1k + 5.0, s"check grew with the marks: $at1k ms -> $at10k ms")
  }

  // ── job budget per route ─────────────────────────────────────────────

  /** Write `df` as the one parquet file `file`, as a DMS delivery lands. */
  private def writeCdcFile(file: String, df: DataFrame): String = {
    val tmp = s"${tmpDir()}/out"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(file)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
    file
  }

  /** A pipeline over a 16-bucket `orders` table of keys 0 until 400, and
    * a function landing CDC files of (id, v, Op, load_timestamp) rows.
    */
  private def ordersFixture(): (CdcPipeline, Seq[(Long, String, String, String)] => String) = {
    import spark.implicits._
    val root = tmpDir()
    val pipe = new CdcPipeline(spark, s"$root/store", TableKeys.parse("""{"orders": "id"}"""),
      numBuckets = 16)
    pipe.initialLoad("orders", (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v"))
    var n = 0
    val land = (rows: Seq[(Long, String, String, String)]) => {
      n += 1
      writeCdcFile(s"$root/fair/orders/2026/08/12/f$n.parquet",
        rows.toDF("id", "v", "Op", "lts")
          .withColumn("load_timestamp", col("lts").cast("timestamp")).drop("lts"))
    }
    (pipe, land)
  }

  /** The jobs of one `processFile`, which must apply; fails listing each
    * job's call site when more than `budget` start, or when the merge
    * runs its own bucket pass.
    */
  private def applyWithin(pipe: CdcPipeline, file: String, budget: Int,
      what: String): Seq[SparkJobProbe.Job] = {
    var out: CdcPipeline.Outcome = null
    val jobs = jobsOf { out = pipe.processFile(file) }
    assert(out.isInstanceOf[CdcPipeline.Applied], out)
    val sites = jobs.map(_.callSite).mkString("\n  ", "\n  ", "")
    info(s"$what: ${jobs.size} jobs$sites")
    assert(!jobs.exists(_.callSite.startsWith("collect at BucketedTableStore")),
      s"$what: the merge ran its own bucket pass:$sites")
    assert(jobs.size <= budget, s"$what: ${jobs.size} jobs, budget $budget:$sites")
    jobs
  }

  private val Lts = "2026-08-12 00:00:00"

  // The jobs each route starts. The dedup gate: two shuffles and their
  // result (3). A CoW merge's write: the staging broadcast, the staged
  // keys' broadcast, the matched keys' broadcast, the bucket shuffle and
  // the write itself (5), plus the dedup window's shuffle, once, when
  // the window ran (1). The MoR route: the delta write with its presence
  // probe's two broadcasts (3) and the validation's aggregation (2). A
  // drain: the net-change window's shuffle and a CoW write (6); its
  // reset base is written on the driver.
  private val CowUniqueJobs = 8
  private val CowDupJobs = 9
  private val MorJobs = 8
  private val DrainCowJobs = 14

  test("apply budget: a key-unique CoW file") {
    val (pipe, land) = ordersFixture()
    pipe.processFile(land(Seq((1L, "warm", "U", Lts)))) // cold code paths
    applyWithin(pipe, land(Seq((2L, "a", "U", Lts), (3L, "gone", "D", Lts), (900L, "new", "I", Lts))),
      budget = CowUniqueJobs, "key-unique CoW file")
    val state = pipe.readTable("orders")
    assert(state.filter(col("id") === 2L).head().getString(1) == "a")
    assert(state.filter(col("id").isin(3L)).isEmpty)
    assert(state.count() == 400)
  }

  test("apply budget: a CoW file with duplicate keys") {
    val (pipe, land) = ordersFixture()
    pipe.processFile(land(Seq((1L, "warm", "U", Lts))))
    applyWithin(pipe, land(Seq((2L, "old", "U", "2026-08-11 00:00:00"), (2L, "new", "U", Lts),
      (5L, "x", "U", Lts), (5L, "gone", "D", Lts))), budget = CowDupJobs, "CoW file with duplicates")
    val state = pipe.readTable("orders")
    assert(state.filter(col("id") === 2L).head().getString(1) == "new")
    assert(state.filter(col("id") === 5L).isEmpty, "a tied D wins over U")
  }

  test("apply budget: a MoR-routed file, then a drain and a CoW merge") {
    val (pipe, land) = ordersFixture()
    pipe.processFile(land(Seq((1L, "warm", "U", Lts))))
    // 40 scattered keys touch more than half of the 16 buckets
    val scatter = (100L until 140L).map(k => (k, s"s$k", if (k % 10 == 0) "D" else "U", Lts))
    applyWithin(pipe, land(scatter), budget = MorJobs, "MoR-routed file")
    val side = pipe.morSideFor("orders", Seq("id"))
    assert(side.generations().map(_._2) == Seq("base", "delta"), "the file took the MoR route")
    applyWithin(pipe, land(Seq((2L, "after", "U", Lts))), budget = DrainCowJobs,
      "drain followed by a CoW merge")
    assert(side.knownEmpty, "the CoW file drained the side first")
    val state = pipe.readTable("orders")
    assert(state.filter(col("id") === 2L).head().getString(1) == "after")
    assert(state.filter(col("id") === 101L).head().getString(1) == "s101")
    assert(state.filter(col("id") === 110L).isEmpty)
    assert(state.count() == 400 - 4)
  }
}
