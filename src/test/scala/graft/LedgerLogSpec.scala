package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FileLedger

/** The ledger as a driver-side log: a tail of JSON entries folded into a
  * parquet base on a size trigger. Leftovers of crashed writes, handles
  * sharing one ledger, a crash inside a fold and a ledger in the earlier
  * parquet-only format.
  */
class LedgerLogSpec extends AnyFunSuite with SparkJobProbe {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ledgerDir(): String = Files.createTempDirectory("graft-ledger").toString + "/_ledger"

  private def rowsOf(l: FileLedger): Seq[(String, String)] =
    l.records.select("file_key", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq.sorted

  private def tailFiles(dir: String): Seq[File] =
    Option(new File(s"$dir/_log").listFiles()).toSeq.flatten.filter(_.getName.endsWith(".json"))

  test("a mark is one tail entry; a .tmp leftover of a crashed write is ignored") {
    val dir = ledgerDir()
    val l = new FileLedger(spark, dir)
    l.markCompleted("a")
    l.markFailed("b", "boom")
    assert(tailFiles(dir).size == 2)
    // a write that crashed before its rename: a torn entry under a tmp name
    Files.write(new File(s"$dir/_log/.0000000000001-dead.json.tmp").toPath,
      """{"rows":[["ghost","completed",nu""".getBytes("UTF-8"))
    val fresh = new FileLedger(spark, dir)
    assert(fresh.isProcessed("a") && !fresh.isProcessed("b") && !fresh.isProcessed("ghost"))
    assert(rowsOf(fresh) == Seq("a" -> "completed", "b" -> "failed"))
  }

  test("two handles on one ledger see each other's marks") {
    val dir = ledgerDir()
    val (a, b) = (new FileLedger(spark, dir), new FileLedger(spark, dir))
    assert(!a.isProcessed("x") && !b.isProcessed("y")) // both seeded
    a.markCompleted("x")
    b.markBatchProcessed(Seq("y", "z"))
    val jobs = jobDescriptions {
      assert(b.isProcessed("x"))
      assert(a.processedAmong(Seq("x", "y", "z", "w")) == Set("x", "y", "z"))
    }
    assert(jobs.isEmpty, s"the refresh started Spark jobs: $jobs")
    assert(rowsOf(a) == rowsOf(b) && rowsOf(a).map(_._1) == Seq("x", "y", "z"))
    // a fold by one handle: the other re-seeds from the new base
    assert(a.cleanup() == 0L)
    b.markCompleted("v")
    assert(b.processedAmong(Seq("x", "y", "v")) == Set("x", "y", "v"))
    assert(a.processedAmong(Seq("x", "v", "w")) == Set("x", "v"))
    assert(rowsOf(a).map(_._1) == Seq("v", "x", "y", "z"))
  }

  test("a handle that finds another's fold still answers every key it had seen") {
    val dir = ledgerDir()
    val (a, b) = (new FileLedger(spark, dir), new FileLedger(spark, dir))
    a.markCompleted("x")
    assert(b.isProcessed("x")) // b seeded, and holds x
    a.markCompleted("u")
    assert(a.cleanup() == 0L)
    // "u" is new to b: the refresh finds a's fold and b seeds from its base
    assert(b.processedAmong(Seq("x", "u", "new")) == Set("x", "u"))
    assert(b.isProcessed("x") && !b.isProcessed("new"))
  }

  test("handles marking in turn keep the shared tail within its entry bound") {
    val dir = ledgerDir()
    val (a, b) = (new FileLedger(spark, dir), new FileLedger(spark, dir))
    val n = FileLedger.MaxTailEntries + 10
    var peak = 0
    (0 until n).foreach { i =>
      (if (i % 2 == 0) a else b).markCompleted(s"f$i")
      peak = math.max(peak, tailFiles(dir).size)
    }
    assert(peak <= FileLedger.MaxTailEntries, s"the shared tail reached $peak entries")
    assert(tailFiles(dir).size < FileLedger.MaxTailEntries, "a mark past the bound folds")
    assert(a.processedAmong((0 until n).map(i => s"f$i")).size == n)
    assert(b.records.count() == n)
  }

  test("the append that crosses the entry bound folds the tail and applies retention") {
    val dir = ledgerDir()
    writeParquet(dir, Seq(Row("ancient", "completed", null, daysAgo(40))))
    val l = new FileLedger(spark, dir)
    assert(l.isProcessed("ancient"))
    (0 until FileLedger.MaxTailEntries).foreach(i => l.markCompleted(s"f$i"))
    assert(tailFiles(dir).size == FileLedger.MaxTailEntries)
    assert(l.records.count() == FileLedger.MaxTailEntries + 1)
    l.markCompleted("last") // the fold: tail and this append into parquet
    assert(tailFiles(dir).isEmpty)
    assert(l.records.count() == FileLedger.MaxTailEntries + 1) // "ancient" dropped
    assert(!l.isProcessed("ancient") && l.isProcessed("f0") && l.isProcessed("last"))
    assert(!new FileLedger(spark, dir).isProcessed("ancient"))
  }

  test("an append larger than the row bound lands in parquet, and the check needs no job") {
    val dir = ledgerDir()
    val l = new FileLedger(spark, dir)
    l.markBatchProcessed((0L to FileLedger.MaxTailRows).map(i => s"k$i"))
    assert(tailFiles(dir).isEmpty)
    val jobs = jobDescriptions {
      assert(l.isProcessed("k0") && l.isProcessed(s"k${FileLedger.MaxTailRows}"))
      assert(!l.isProcessed("other"))
    }
    assert(jobs.isEmpty, s"a handle whose own fold built the base should not re-seed: $jobs")
    assert(l.records.count() == FileLedger.MaxTailRows + 1)
  }

  test("a crash after a fold's base lands but before its entries go keeps each row once") {
    val dir = ledgerDir()
    val l = new FileLedger(spark, dir)
    Seq("a", "b", "c").foreach(l.markCompleted)
    l.markFailed("d", "boom")
    val saved = Files.createTempDirectory("graft-ledger-saved")
    tailFiles(dir).foreach(f => Files.copy(f.toPath, saved.resolve(f.getName)))
    // a fold that wrote its base but never published it: an orphan
    writeParquet(s"$dir/_base/99-orphan", Seq(Row("orphan", "completed", null, daysAgo(0))))
    assert(l.cleanup() == 0L)
    assert(tailFiles(dir).isEmpty)
    assert(!new File(s"$dir/_base/99-orphan").exists(), "the fold sweeps unpublished bases")
    // the crash: the folded entries were never deleted
    saved.toFile.listFiles().foreach(f =>
      Files.copy(f.toPath, new File(s"$dir/_log/${f.getName}").toPath, StandardCopyOption.REPLACE_EXISTING))
    val expected = Seq("a" -> "completed", "b" -> "completed", "c" -> "completed", "d" -> "failed")
    val after = new FileLedger(spark, dir)
    assert(rowsOf(after) == expected)
    assert(after.processedAmong(Seq("a", "d", "orphan")) == Set("a"))
    after.markCompleted("e")
    assert(after.resetFailed(olderThanMinutes = 0) == 1L) // the next fold finishes the delete
    assert(tailFiles(dir).isEmpty)
    assert(rowsOf(new FileLedger(spark, dir)) ==
      expected.init ++ Seq("d" -> "pending", "e" -> "completed"))
  }

  test("a ledger in the earlier parquet-only format answers as before, then folds") {
    val dir = ledgerDir()
    writeParquet(dir, Seq(
      Row("done", "completed", null, daysAgo(1)),
      Row("batch", "batch_processed", null, daysAgo(1)),
      Row("bad", "failed", "boom", daysAgo(1))))
    // the earlier format's committer-free append: a part file moved in
    writeParquet(s"$dir.append", Seq(Row("late", "completed", null, daysAgo(0))))
    val part = new File(s"$dir.append").listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(s"$dir/part-append-0001.parquet").toPath)

    val l = new FileLedger(spark, dir)
    assert(l.isProcessed("done") && l.isProcessed("batch") && l.isProcessed("late"))
    assert(!l.isProcessed("bad"))
    assert(rowsOf(l) == Seq("bad" -> "failed", "batch" -> "batch_processed",
      "done" -> "completed", "late" -> "completed"))
    l.markCompleted("new")
    assert(l.resetFailed(olderThanMinutes = 60) == 1L)
    assert(l.resetFailed(olderThanMinutes = 60) == 0L)
    assert(!new File(dir).listFiles().exists(_.getName.endsWith(".parquet")),
      "the fold moves the earlier format's files into its base")
    val fresh = new FileLedger(spark, dir)
    assert(rowsOf(fresh) == Seq("bad" -> "pending", "batch" -> "batch_processed",
      "done" -> "completed", "late" -> "completed", "new" -> "completed"))
    assert(fresh.processedAmong(Seq("done", "bad", "new")) == Set("done", "new"))
    assert(fresh.records.filter(col("file_key") === "bad").head().getString(2) == "boom")
  }

  private def daysAgo(d: Int) = new Timestamp(System.currentTimeMillis() - d * 86400000L)

  /** Ledger rows as parquet files in `dir` — at a ledger root, the
    * earlier format.
    */
  private def writeParquet(dir: String, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), FileLedger.Schema)
      .write.parquet(dir)
}
