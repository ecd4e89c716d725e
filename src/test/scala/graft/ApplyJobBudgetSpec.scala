package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CdcDedup, EvolutionLog, FileLedger, SchemaEvolution}
import graft.sources.MorStore

/** The per-file apply's bookkeeping starts no Spark job: the ledger
  * check and mark, the evolution-log append and staging the file. Only
  * the dedup gate and the merge move data.
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
}
