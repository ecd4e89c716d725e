package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TableKeys
import graft.operators.{FileLedger, SchemaEvolution}
import graft.pipeline.CdcPipeline
import graft.routing.CdcPath
import graft.sources.BucketedTableStore
import graft.streaming.CdcStream

/** End-to-end: bucketed store merges, ledger idempotency, file pipeline,
  * schema evolution, streaming apply (SURVEY §5 rebuild test plan).
  */
class PipelineSpec extends AnyFunSuite with SparkJobProbe {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("graft-test").toString

  import scala.jdk.CollectionConverters._

  def snapshot(df: DataFrame): Seq[(Long, String, Double)] =
    df.collect().map(r => (
      r.getAs[Long]("id"), r.getAs[String]("v"), r.getAs[Double]("amount")))
      .sortBy(_._1).toSeq

  /** Write one real single-file parquet at `file` (the reference layout has
    * S3 *files*, not directories) with rows in given order.
    */
  def writeCdcFile(file: String, rows: Seq[(Long, String, Double, String, String, Long)]): Unit = {
    import spark.implicits._
    val tmp = tmpDir() + "/out"
    rows.map { case (id, v, a, op, lts, _) => (id, v, a, op, java.sql.Timestamp.valueOf(lts)) }
      .toDF("id", "v", "amount", "Op", "load_timestamp")
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(file)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
  }

  test("bucketed store: init, merge, only affected buckets rewritten") {
    import spark.implicits._
    val root = tmpDir()
    val initial = (1L to 100L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "amount")
    val store = BucketedTableStore.create(spark, s"$root/t", Seq("id"), initial, numBuckets = 16)

    val before = spark.read.parquet(s"$root/t").groupBy("__bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

    val staging = Seq(
      (1L, "v1-upd", 10.0, "U"),
      (2L, "gone", 0.0, "D"),
      (101L, "new", 101.0, "I")).toDF("id", "v", "amount", "Op")
    val touched = store.merge(staging)
    assert(touched <= 3 && touched >= 1)

    val after = snapshot(store.read())
    assert(after.length == 100) // 100 - 1 delete + 1 insert
    assert(after.find(_._1 == 1L).get._2 == "v1-upd")
    assert(!after.exists(_._1 == 2L))
    assert(after.find(_._1 == 101L).get._2 == "new")

    // untouched buckets preserved byte-for-byte (same row counts)
    val afterCounts = spark.read.parquet(s"$root/t").groupBy("__bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val touchedBuckets = Seq(1L, 2L, 101L)
      .map(k => math.floorMod(k.hashCode(), 16)) // not spark hash; just sanity on size
    assert(before.keys.toSet.subsetOf(afterCounts.keys.toSet ++ Set.empty))
  }

  test("bucketed store: reopening with a different bucket count is refused") {
    import spark.implicits._
    val root = tmpDir()
    BucketedTableStore.create(spark, s"$root/t", Seq("id"),
      Seq((1L, "a")).toDF("id", "v"), numBuckets = 16)
    val wrong = new BucketedTableStore(spark, s"$root/t", Seq("id"), numBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      wrong.merge(Seq((1L, "a2", "U")).toDF("id", "v", "Op"))
    }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("bucketed store: interrupted swap recovered from trash before next merge") {
    import spark.implicits._
    val root = tmpDir()
    val store = BucketedTableStore.create(spark, s"$root/t", Seq("id"),
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"), numBuckets = 4)
    // simulate a crash between swap phases: one live bucket sits only in trash
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val bucketDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/t"))
      .map(_.getPath).filter(_.getName.startsWith("__bucket="))
    val victim = bucketDirs.head
    val trash = new org.apache.hadoop.fs.Path(s"$root/t/.merge-trash-dead")
    fs.mkdirs(trash)
    assert(fs.rename(victim, new org.apache.hadoop.fs.Path(trash, victim.getName)))
    assert(store.read().count() < 50) // bucket really missing

    // next merge must first restore the trashed bucket, then apply
    store.merge(Seq((1L, "v1-new", "U")).toDF("id", "v", "Op"))
    val state = store.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state.size == 50 && state(1L) == "v1-new")
    assert(!fs.exists(trash))
  }

  test("ledger: resetFailed counts only newly flipped rows") {
    val ledger = new FileLedger(spark, tmpDir() + "/ledger")
    ledger.markFailed("f1", "boom")
    ledger.markFailed("f2", "boom")
    Thread.sleep(5)
    assert(ledger.resetFailed(olderThanMinutes = 0) == 2L)
    assert(ledger.resetFailed(olderThanMinutes = 0) == 0L) // already pending
  }

  test("pipeline: route → stage → dedup → merge → ledger, then idempotent rerun") {
    import spark.implicits._
    val root = tmpDir()
    val storeRoot = s"$root/store"
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, storeRoot, keys, numBuckets = 8)

    pipe.initialLoad("users",
      Seq((1L, "alice", 1.0), (2L, "bob", 2.0), (3L, "carol", 3.0)).toDF("id", "v", "amount"))

    val fileDir = s"$root/fair/users/2026/08/12/batch1.parquet"
    writeCdcFile(fileDir, Seq(
      (1L, "alice-old", 1.1, "U", "2026-08-01 00:00:00", 0L),
      (1L, "alice-new", 1.2, "U", "2026-08-02 00:00:00", 0L), // newer wins
      (2L, "bob", 2.0, "D", "2026-08-02 00:00:00", 0L),       // delete
      (4L, "dave", 4.0, "I", "2026-08-02 00:00:00", 0L)))     // insert

    val out1 = pipe.processFile(fileDir)
    assert(out1.isInstanceOf[CdcPipeline.Applied], out1)

    val state = snapshot(pipe.storeFor("users", Seq("id")).read())
    assert(state == Seq((1L, "alice-new", 1.2), (3L, "carol", 3.0), (4L, "dave", 4.0)))

    // same file again: ledger skips (exactly-once; DEPLOY_FILE_DEDUPLICATION.md:160-176)
    val out2 = pipe.processFile(fileDir)
    assert(out2 == CdcPipeline.Skipped("Already processed"))

    // LOAD file and unrouteable path skipped
    assert(pipe.processFile(s"$root/fair/users/2026/08/12/LOAD001.parquet")
      == CdcPipeline.Skipped("LOAD file"))
    assert(pipe.processFile("/nope/random.parquet") == CdcPipeline.Skipped("Not a CDC file"))
  }

  test("adaptive merge: scatter routes to the MoR side, a CoW batch drains it first") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 8)
    val initial = (1L to 200L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "amount")
    pipe.initialLoad("users", initial)
    val side = pipe.morSideFor("users", Seq("id"))
    val home = pipe.storeFor("users", Seq("id"))

    // batch 1 SCATTERS: 100 keys uniform over all 8 buckets (+ one
    // unmatched delete) → MorDelta route, home untouched
    writeCdcFile(s"$root/fair/users/2026/08/12/b1.parquet",
      (2L to 200L by 2).map(i =>
        (i, "upd", i * 2.0, "U", "2026-08-12 00:00:00", 0L)) :+
        ((999L, "ghost", 0.0, "D", "2026-08-12 00:00:00", 0L)))
    assert(pipe.processFile(s"$root/fair/users/2026/08/12/b1.parquet")
      .isInstanceOf[CdcPipeline.Applied])
    assert(!side.isEmpty, "scattered batch must land as a MoR side delta")
    assert(home.read().count() == 200L, "home must not be rewritten for scatter")
    // readTable resolves home ∪ side with FULL merge parity: updates
    // applied AND the unmatched delete inserted (the CoW merge's
    // WHEN-NOT-MATCHED insert applies to delete rows too)
    val viewed = snapshot(pipe.readTable("users"))
    assert(viewed.contains((999L, "ghost", 0.0)),
      "unmatched delete must surface as an inserted row")
    assert(viewed.contains((2L, "upd", 4.0)) && viewed.contains((3L, "v3", 3.0)))

    // batch 2 is CONCENTRATED: 2 keys → BroadcastCow route, which must
    // drain the side first so per-key order holds (the delete of 999
    // only works if the side's ghost insert was folded home already)
    writeCdcFile(s"$root/fair/users/2026/08/13/b2.parquet", Seq(
      (1L, "one", -1.0, "U", "2026-08-13 00:00:00", 0L),
      (999L, "ghost", 0.0, "D", "2026-08-13 00:00:00", 0L)))
    assert(pipe.processFile(s"$root/fair/users/2026/08/13/b2.parquet")
      .isInstanceOf[CdcPipeline.Applied])
    assert(side.isEmpty || side.netChanges().isEmpty,
      "a CoW-routed batch must drain the side")
    val expected = (1L to 200L).map(i =>
      if (i == 1L) (1L, "one", -1.0)
      else if (i % 2 == 0) (i, "upd", i * 2.0)
      else (i, s"v$i", i * 1.0)).sortBy(_._1)
    assert(snapshot(home.read()) == expected,
      "home alone must be complete after the drain")
    assert(snapshot(pipe.readTable("users")) == expected)
  }

  test("adaptive merge: a drained side costs nothing — later CoW files and reads skip it") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id", "accounts": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 8)
    val initial = (1L to 200L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "amount")
    pipe.initialLoad("users", initial)
    pipe.initialLoad("accounts", initial)
    val side = pipe.morSideFor("users", Seq("id"))
    def apply(table: String, day: Int, rows: Seq[(Long, String, Double, String, String, Long)]) = {
      val f = s"$root/fair/$table/2026/08/$day/f.parquet"
      writeCdcFile(f, rows)
      assert(pipe.processFile(f).isInstanceOf[CdcPipeline.Applied])
    }

    // a scattered file lands in the side, a concentrated one drains it
    apply("users", 12, (2L to 200L by 2).map(i => (i, "upd", i * 2.0, "U", "2026-08-12 00:00:00", 0L)))
    assert(!side.knownEmpty, "scattered batch must land as a MoR side delta")
    apply("users", 13, Seq((1L, "one", -1.0, "U", "2026-08-13 00:00:00", 0L)))
    assert(side.knownEmpty, "a CoW-routed batch must drain the side")
    val drainedLog = side.log.ids()

    // three more CoW files find the drained side empty: no re-drain,
    // so no new reset base in the side's log
    (14 to 16).foreach(d =>
      apply("users", d, Seq((3L, s"d$d", d.toDouble, "U", s"2026-08-$d 00:00:00", 0L))))
    assert(side.log.ids() == drainedLog, "a drained side must not be drained again")

    // a read of the drained table costs what a read of a never-scattered one does
    var users: Seq[(Long, String, Double)] = null
    val drainedRead = jobDescriptions { users = snapshot(pipe.readTable("users")) }
    val plainRead = jobDescriptions(snapshot(pipe.readTable("accounts")))
    assert(drainedRead.size == plainRead.size, (drainedRead, plainRead))
    assert(users.contains((3L, "d16", 16.0)) && users.contains((2L, "upd", 4.0)) &&
      users.contains((1L, "one", -1.0)) && users.size == 200)
  }

  test("pipeline: empty CDC file applies as a no-op and is ledgered") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4)
    pipe.initialLoad("users", Seq((1L, "alice", 1.0)).toDF("id", "v", "amount"))
    val fileDir = s"$root/fair/users/2026/08/12/empty.parquet"
    writeCdcFile(fileDir, Seq.empty)
    val out = pipe.processFile(fileDir)
    assert(out.isInstanceOf[CdcPipeline.Applied])
    assert(out.asInstanceOf[CdcPipeline.Applied].touchedBuckets == 0)
    assert(snapshot(pipe.storeFor("users", Seq("id")).read()) == Seq((1L, "alice", 1.0)))
    assert(pipe.ledger.isProcessed(fileDir))
  }

  test("pipeline: a mark crossing the ledger's size trigger folds it with retention") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    // a ledger row past the 30-day retention, in the ledger's parquet base
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("ancient",
      "completed", null, new java.sql.Timestamp(System.currentTimeMillis() - 40L * 86400000L))), 1),
      FileLedger.Schema).write.parquet(s"$root/store/_ledger")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4)
    pipe.initialLoad("users", Seq((1L, "alice", 1.0)).toDF("id", "v", "amount"))
    // a full tail: the next mark crosses the trigger
    (0 until FileLedger.MaxTailEntries).foreach(i => pipe.ledger.markCompleted(s"history/$i"))
    assert(pipe.ledger.isProcessed("ancient"))
    val fileDir = s"$root/fair/users/2026/08/12/b.parquet"
    writeCdcFile(fileDir, Seq((2L, "bob", 2.0, "I", "2026-08-02 00:00:00", 0L)))
    assert(pipe.processFile(fileDir).isInstanceOf[CdcPipeline.Applied])
    // the fold ran: the tail is empty and retention dropped the old row
    assert(new java.io.File(s"$root/store/_ledger/_log").list().count(_.endsWith(".json")) == 0)
    assert(pipe.ledger.records.count() == FileLedger.MaxTailEntries + 1)
    assert(pipe.ledger.isProcessed(fileDir) && !pipe.ledger.isProcessed("ancient"))
  }

  test("backfill: discovers files recursively, applies in path order, skips LOAD/processed") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4)
    pipe.initialLoad("users", Seq((1L, "v0", 0.0)).toDF("id", "v", "amount"))

    // two days of files + one LOAD file that must be skipped; path order
    // is chronological, so day-2 overwrites day-1
    writeCdcFile(s"$root/fair/users/2026/01/01/b1.parquet",
      Seq((1L, "day1", 1.0, "U", "2026-01-01 00:00:00", 0L)))
    writeCdcFile(s"$root/fair/users/2026/01/02/b2.parquet",
      Seq((1L, "day2", 2.0, "U", "2026-01-02 00:00:00", 0L)))
    writeCdcFile(s"$root/fair/users/2026/01/02/LOAD9.parquet",
      Seq((9L, "ghost", 9.0, "I", "2026-01-02 00:00:00", 0L)))

    val out1 = pipe.backfillRoot(s"$root/fair")
    assert(out1.map(_._2).count(_.isInstanceOf[CdcPipeline.Applied]) == 2)
    assert(out1.collect { case (f, CdcPipeline.Skipped(r)) if f.contains("LOAD") => r }
      == Seq("LOAD file"))
    assert(snapshot(pipe.storeFor("users", Seq("id")).read()) == Seq((1L, "day2", 2.0)))

    // second backfill: everything already processed (or LOAD-skipped)
    val out2 = pipe.backfillRoot(s"$root/fair")
    assert(!out2.exists(_._2.isInstanceOf[CdcPipeline.Applied]))
  }

  test("processFiles: duplicate delivery within one micro-batch applies once") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4)
    pipe.initialLoad("users", Seq((1L, "alice", 1.0)).toDF("id", "v", "amount"))
    val f = s"$root/fair/users/2026/08/12/dup.parquet"
    writeCdcFile(f, Seq((2L, "bob", 2.0, "I", "2026-08-02 00:00:00", 0L)))

    val out = pipe.processFiles(Seq(f, f)) // at-least-once delivery
    assert(out.map(_._2).count(_.isInstanceOf[CdcPipeline.Applied]) == 1)
    assert(out.map(_._2).count(_ == CdcPipeline.Skipped("Already processed")) == 1)
    // next batch: the cross-batch ledger skip
    assert(pipe.processFiles(Seq(f)).head._2 == CdcPipeline.Skipped("Already processed"))
  }

  test("ledger-key parity: a stream-processed file is skipped by backfill") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    // pipeline rooted at the same layout the stream reads ("in/<table>/...")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4, pathRoot = "in")
    pipe.initialLoad("users", Seq((1L, "alice", 1.0)).toDF("id", "v", "amount"))

    writeCdcFile(s"$root/in/users/2026/08/12/b1.parquet", Seq(
      (2L, "bob", 2.0, "I", "2026-08-02 00:00:00", 0L)))
    val schema = spark.read.parquet(s"$root/in/users/2026/08/12/b1.parquet").schema
    val cfg = CdcStream.Config(
      root = s"$root/in", table = "users", keys = Seq("id"),
      storeRoot = s"$root/store", checkpointRoot = s"$root/ckpt", numBuckets = 4)
    val q = CdcStream.start(spark, cfg, schema)
    q.awaitTermination(60000)
    assert(snapshot(pipe.storeFor("users", Seq("id")).read())
      == Seq((1L, "alice", 1.0), (2L, "bob", 2.0)))

    // backfill over the same root: the stream's ledger entry (canonical
    // key from the URI-form _metadata path) must match the listing path
    val out = pipe.backfillRoot(s"$root/in")
    assert(out.nonEmpty)
    assert(out.forall(_._2 == CdcPipeline.Skipped("Already processed")), out.toString)
    assert(snapshot(pipe.storeFor("users", Seq("id")).read())
      == Seq((1L, "alice", 1.0), (2L, "bob", 2.0))) // no double-apply
  }

  test("pipeline: null-PK table skipped") {
    val keys = TableKeys.parse("""{"log_table": null}""")
    val pipe = new CdcPipeline(spark, tmpDir(), keys)
    assert(pipe.processFile("fair/log_table/2026/01/01/f.parquet")
      == CdcPipeline.Skipped("No primary keys configured"))
  }

  test("pipeline: safe new column evolves the store and its values merge in") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4)
    pipe.initialLoad("users",
      Seq((1L, "alice", 1.0), (2L, "bob", 2.0)).toDF("id", "v", "amount"))

    // CDC file carrying a brand-new column `email` (safe type)
    val tmp = tmpDir() + "/out"
    Seq((1L, "alice", 1.5, "a@x.io", "U"), (3L, "carol", 3.0, "c@x.io", "I"))
      .toDF("id", "v", "amount", "email", "Op")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(s"$root/fair/users/2026/08/12/evo.parquet")
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)

    val out = pipe.processFile(dest.toString)
    val applied = out.asInstanceOf[CdcPipeline.Applied]
    assert(applied.evolution.columnsAdded.map(_.name) == Seq("email"))

    val store = pipe.storeFor("users", Seq("id"))
    assert(store.schema.fieldNames.contains("email"))
    val state = store.read().collect()
      .map(r => (r.getAs[Long]("id"), Option(r.getAs[String]("email")))).sortBy(_._1)
    // merged rows carry the new column; untouched rows read it as null
    assert(state.toSeq == Seq((1L, Some("a@x.io")), (2L, None), (3L, Some("c@x.io"))))
  }

  test("pipeline: unsafe column lands in _evolution_log and does not block the safe merge") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4)
    pipe.initialLoad("users",
      Seq((1L, "alice", 1.0), (2L, "bob", 2.0)).toDF("id", "v", "amount"))

    // CDC file carrying a safe new column AND an unsafe (array) column
    val tmp = tmpDir() + "/out"
    Seq((1L, "alice", 1.5, "a@x.io", Seq(1, 2), "U"))
      .toDF("id", "v", "amount", "email", "tags", "Op")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(s"$root/fair/users/2026/08/12/mixed.parquet")
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)

    val applied = pipe.processFile(dest.toString).asInstanceOf[CdcPipeline.Applied]
    // merge proceeded: safe column evolved, unsafe column flagged not added
    assert(applied.evolution.columnsAdded.map(_.name) == Seq("email"))
    assert(applied.evolution.requiresManual.map(_._1) == Seq("tags"))
    val store = pipe.storeFor("users", Seq("id"))
    assert(store.schema.fieldNames.contains("email"))
    assert(!store.schema.fieldNames.contains("tags"))

    // the finding is durable — SNS-notify parity (handler.py:313-336)
    val logged = pipe.evolutionLog.records
      .select("table", "kind", "column_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(logged.contains(("users", "manual_required", "tags")))
    assert(logged.contains(("users", "column_added", "email")))
  }

  test("schema evolution: safe add, manual flag, removed, type change") {
    import org.apache.spark.sql.types._
    val prod = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("old_col", StringType)))
    val staging = StructType(Seq(
      StructField("id", LongType), StructField("v", IntegerType),
      StructField("new_safe", TimestampType),
      StructField("new_complex", ArrayType(StringType)),
      StructField("Op", StringType), StructField("load_timestamp", TimestampType)))
    val r = SchemaEvolution.diff(staging, prod)
    assert(r.columnsAdded == Seq(SchemaEvolution.NewColumn("new_safe", TimestampType)))
    assert(r.requiresManual.map(_._1) == Seq("new_complex"))
    assert(r.removedColumns == Seq("old_col"))
    assert(r.typeChanges.map(_.name) == Seq("v"))
    val evolved = SchemaEvolution.evolve(prod, r)
    assert(evolved.fieldNames.toSeq == Seq("id", "v", "old_col", "new_safe"))
  }

  test("schema evolution from source type strings routes through TypeMapper") {
    import org.apache.spark.sql.types._
    val prod = StructType(Seq(StructField("id", LongType)))
    val r = SchemaEvolution.diffSourceTypes(
      Seq("id" -> "BIGINT", "note" -> "VARCHAR(100)", "geo" -> "GEOMETRY"), prod)
    assert(r.columnsAdded == Seq(SchemaEvolution.NewColumn("note", StringType)))
    assert(r.requiresManual.map(_._1) == Seq("geo"))
  }

  test("schema registry: snapshot, change detection, new-table onboarding") {
    import org.apache.spark.sql.types._
    val reg = new graft.operators.SchemaRegistry(spark, tmpDir() + "/schema_metadata")
    val v1 = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    assert(reg.detectChanges("users", v1).isNewTable)
    assert(reg.onboard("users", v1).contains(Seq("id")))
    assert(reg.load("users").contains(v1))

    val v2 = StructType(Seq(
      StructField("id", LongType), StructField("v", IntegerType),
      StructField("added", TimestampType)))
    val ch = reg.detectChanges("users", v2)
    assert(!ch.isNewTable)
    assert(ch.newColumns == Seq("added"))
    assert(ch.removedColumns.isEmpty)
    assert(ch.typeChanges.map(_._1) == Seq("v"))
    reg.save("users", v2)
    assert(!reg.detectChanges("users", v2).hasChanges)
    // no-PK table: onboarding yields None (⇒ CDC skip)
    assert(reg.onboard("weird", StructType(Seq(StructField("x", LongType)))).isEmpty)
  }

  test("ledger: mark/check/bulk/cleanup") {
    val dir = tmpDir()
    val ledger = new FileLedger(spark, s"$dir/ledger")
    assert(!ledger.isProcessed("a"))
    ledger.markCompleted("a")
    ledger.markFailed("b", "boom " * 200)
    ledger.markBatchProcessed(Seq("c", "d"))
    assert(ledger.isProcessed("a"))
    assert(!ledger.isProcessed("b")) // failed ⇒ retryable
    assert(ledger.processedAmong(Seq("a", "b", "c", "d", "e")) == Set("a", "c", "d"))
    // error message truncated at 500 (handler.py:694)
    val err = ledger.records.filter(col("status") === "failed").head().getAs[String]("error_message")
    assert(err.length == 500)
    assert(ledger.cleanup(retentionDays = 30) == 0L) // all fresh
  }

  test("streaming: file-source micro-batch merge with checkpointed exactly-once") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4)
    pipe.initialLoad("users", Seq((1L, "alice", 1.0)).toDF("id", "v", "amount"))

    writeCdcFile(s"$root/in/users/2026/08/12/b1.parquet", Seq(
      (1L, "alice-v2", 1.5, "U", "2026-08-02 00:00:00", 0L),
      (2L, "bob", 2.0, "I", "2026-08-02 00:00:00", 0L)))
    // a LOAD file that must be ignored by the stream
    writeCdcFile(s"$root/in/users/2026/08/12/LOAD1.parquet", Seq(
      (9L, "ghost", 9.0, "I", "2026-08-02 00:00:00", 0L)))

    val schema = spark.read.parquet(s"$root/in/users/2026/08/12/b1.parquet").schema
    val cfg = CdcStream.Config(
      root = s"$root/in", table = "users", keys = Seq("id"),
      storeRoot = s"$root/store", checkpointRoot = s"$root/ckpt", numBuckets = 4)

    val q1 = CdcStream.start(spark, cfg, schema, Trigger.AvailableNow())
    q1.awaitTermination(60000)

    val store = pipe.storeFor("users", Seq("id"))
    assert(snapshot(store.read()) == Seq((1L, "alice-v2", 1.5), (2L, "bob", 2.0)))

    // second batch arrives; restart stream from checkpoint — first file
    // must NOT be reapplied (exactly-once)
    writeCdcFile(s"$root/in/users/2026/08/13/b2.parquet", Seq(
      (2L, "bob", 2.0, "D", "2026-08-03 00:00:00", 0L)))
    val q2 = CdcStream.start(spark, cfg, schema, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(snapshot(store.read()) == Seq((1L, "alice-v2", 1.5)))
  }

  test("streaming: a stream routes files as processFile does (LOAD and off-pattern skipped)") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4, pathRoot = "in")
    pipe.initialLoad("users", Seq((1L, "alice", 1.0)).toDF("id", "v", "amount"))
    val day = s"$root/in/users/2026/08/12"
    writeCdcFile(s"$day/b1.parquet", Seq((2L, "bob", 2.0, "I", "2026-08-02 00:00:00", 0L)))
    writeCdcFile(s"$day/LOAD1.parquet", Seq((8L, "load", 8.0, "I", "2026-08-02 00:00:00", 0L)))
    // an off-pattern key: one folder below the day
    writeCdcFile(s"$day/retry/r1.parquet", Seq(
      (1L, "retry", 1.5, "U", "2026-08-02 00:00:00", 0L),
      (9L, "retry", 9.0, "I", "2026-08-02 00:00:00", 0L)))

    val schema = spark.read.parquet(s"$day/b1.parquet").schema
    val cfg = CdcStream.Config(
      root = s"$root/in", table = "users", keys = Seq("id"),
      storeRoot = s"$root/store", checkpointRoot = s"$root/ckpt", numBuckets = 4)
    assert(CdcStream.start(spark, cfg, schema).awaitTermination(60000))
    val store = pipe.storeFor("users", Seq("id"))
    assert(snapshot(store.read()) == Seq((1L, "alice", 1.0), (2L, "bob", 2.0)))
    assert(pipe.ledger.isProcessed(s"$day/b1.parquet"))
    assert(!pipe.ledger.isProcessed(s"$day/LOAD1.parquet"))
    assert(!pipe.ledger.isProcessed(s"$day/retry/r1.parquet"))

    // the file path skips the same two files, for the same reasons
    assert(pipe.processFile(s"$day/LOAD1.parquet") == CdcPipeline.Skipped(CdcPath.LoadFile.message))
    assert(pipe.processFile(s"$day/retry/r1.parquet") == CdcPipeline.Skipped(CdcPath.NotCdcFile.message))
    assert(snapshot(store.read()) == Seq((1L, "alice", 1.0), (2L, "bob", 2.0)))
  }

  test("streaming: a stream batch applies after a MoR-routed file and survives its drain") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 8)
    pipe.initialLoad("users", (1L to 200L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "amount"))
    val side = pipe.morSideFor("users", Seq("id"))

    // a pipeline file scattered over all 8 buckets lands in the MoR side
    writeCdcFile(s"$root/fair/users/2026/08/12/b1.parquet",
      (2L to 200L by 2).map(i => (i, "pipe", i * 2.0, "U", "2026-08-12 00:00:00", 0L)))
    assert(pipe.processFile(s"$root/fair/users/2026/08/12/b1.parquet")
      .isInstanceOf[CdcPipeline.Applied])
    assert(!side.knownEmpty, "scattered file must land as a MoR side delta")

    // a stream batch then updates key 2
    writeCdcFile(s"$root/in/users/2026/08/13/s1.parquet", Seq(
      (2L, "stream", 3.0, "U", "2026-08-13 00:00:00", 0L)))
    val schema = spark.read.parquet(s"$root/in/users/2026/08/13/s1.parquet").schema
    val cfg = CdcStream.Config(
      root = s"$root/in", table = "users", keys = Seq("id"),
      storeRoot = s"$root/store", checkpointRoot = s"$root/ckpt", numBuckets = 8)
    CdcStream.start(spark, cfg, schema).awaitTermination(60000)
    def row(id: Long) = snapshot(pipe.readTable("users")).find(_._1 == id)
    assert(row(2L).contains((2L, "stream", 3.0)), "the stream's update must be visible")
    assert(row(4L).contains((4L, "pipe", 8.0)))
    assert(pipe.ledger.isProcessed(s"$root/in/users/2026/08/13/s1.parquet"))

    // a later CoW-routed file drains whatever the side still holds: the
    // stream's value must stay
    writeCdcFile(s"$root/fair/users/2026/08/14/b2.parquet", Seq(
      (1L, "one", -1.0, "U", "2026-08-14 00:00:00", 0L)))
    assert(pipe.processFile(s"$root/fair/users/2026/08/14/b2.parquet")
      .isInstanceOf[CdcPipeline.Applied])
    assert(side.knownEmpty, "a CoW-routed file must drain the side")
    assert(row(2L).contains((2L, "stream", 3.0)), "the drain overwrote the stream's update")
    assert(row(1L).contains((1L, "one", -1.0)) && row(4L).contains((4L, "pipe", 8.0)))
  }

  test("streaming: a nullable source column the table lacks evolves the table") {
    import spark.implicits._
    val root = tmpDir()
    val keys = TableKeys.parse("""{"users": "id"}""")
    val pipe = new CdcPipeline(spark, s"$root/store", keys, numBuckets = 4)
    pipe.initialLoad("users", Seq((1L, "alice", 1.0), (2L, "bob", 2.0)).toDF("id", "v", "amount"))

    val tmp = tmpDir() + "/out"
    Seq((1L, "alice", 1.5, "a@x.io", "U"), (3L, "carol", 3.0, "c@x.io", "I"))
      .toDF("id", "v", "amount", "email", "Op")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(s"$root/in/users/2026/08/12/evo.parquet")
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)

    val schema = spark.read.parquet(dest.toString).schema
    assert(schema("email").nullable)
    val cfg = CdcStream.Config(
      root = s"$root/in", table = "users", keys = Seq("id"),
      storeRoot = s"$root/store", checkpointRoot = s"$root/ckpt", numBuckets = 4)
    CdcStream.start(spark, cfg, schema).awaitTermination(60000)

    val store = pipe.storeFor("users", Seq("id"))
    assert(store.schema.fieldNames.contains("email"))
    val state = pipe.readTable("users").collect()
      .map(r => (r.getAs[Long]("id"), Option(r.getAs[String]("email")))).sortBy(_._1)
    assert(state.toSeq == Seq((1L, Some("a@x.io")), (2L, None), (3L, Some("c@x.io"))))
    val logged = pipe.evolutionLog.records
      .select("table", "file_key", "kind", "column_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(logged == Set(("users", CdcPath.ledgerKey(dest.toString), "column_added", "email")),
      logged.toString)
  }
}
