package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-table atomic commit: all-or-nothing visibility, cross-table
  * consistency of every generation, carry-forward of unchanged
  * tables, time travel, and crash healing (a staged-but-unpublished
  * commit is invisible and safely overwritten).
  */
class TableCatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-catalog-spec").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/cat"
  }

  private def nums(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(_.toLong).toDF("v")
  }

  test("commitAll is atomic: both tables move together, generations are consistent cuts") {
    val cat = new TableCatalog(spark, freshRoot())
    val g0 = cat.commitAll(Map("a" -> nums(0, 10), "b" -> nums(0, 100)), 1000L)
    val g1 = cat.commitAll(Map("a" -> nums(0, 20), "b" -> nums(0, 200)), 2000L)
    assert(g0 == 0 && g1 == 1)
    assert(cat.readAt(0, "a").count() == 10 && cat.readAt(0, "b").count() == 100)
    assert(cat.readAt(1, "a").count() == 20 && cat.readAt(1, "b").count() == 200)
    assert(cat.read("a").count() == 20)
    assert(cat.generationAsOf(1500L) == 0)
  }

  test("stage: a failed member write surfaces only once every sibling write has settled") {
    import org.apache.spark.sql.functions.{col, udf}
    TableCatalogSpec.siblingDone.set(false)
    val slow = udf { (v: Long) => Thread.sleep(1500); TableCatalogSpec.siblingDone.set(true); v }
    val boom = udf { (v: Long) =>
      if (v >= 0) throw new IllegalStateException("injected member failure"); v }
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    val e = intercept[Exception] {
      cat.stage(Map(
        "slow" -> nums(0, 1).select(slow(col("v")).as("v")),
        "bad" -> nums(0, 1).select(boom(col("v")).as("v"))))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected member failure")), e)
    assert(TableCatalogSpec.siblingDone.get(), "the error surfaced while a sibling write was running")
    val slowStages = new java.io.File(s"$root/tables/slow").listFiles()
    assert(slowStages.exists(d => new java.io.File(d, "_SUCCESS").exists()),
      "the sibling's write had not committed when the error surfaced")
  }

  test("a staged but unpublished commit is invisible to every read path") {
    val cat = new TableCatalog(spark, freshRoot())
    cat.commitAll(Map("a" -> nums(0, 10), "b" -> nums(0, 100)), 1000L)
    // crash between stage and publish: data directories exist (under
    // writer-unique stage-<nonce> names), no generation references them
    val staged = cat.stage(Map("a" -> nums(0, 999), "b" -> nums(0, 999)))
    assert(staged.values.forall(_.startsWith("stage-")))
    assert(cat.latestGeneration().contains(0L))
    assert(cat.read("a").count() == 10 && cat.read("b").count() == 100)
    // the next real commit is untouched by the orphans
    val g = cat.commitAll(Map("a" -> nums(0, 30), "b" -> nums(0, 300)), 2000L)
    assert(g == 1)
    assert(cat.read("a").count() == 30 && cat.read("b").count() == 300)
  }

  test("unchanged tables carry forward; partial commits stay consistent") {
    val cat = new TableCatalog(spark, freshRoot())
    cat.commitAll(Map("a" -> nums(0, 10), "b" -> nums(0, 100)), 1000L)
    val g1 = cat.commitAll(Map("a" -> nums(0, 50)), 2000L) // b untouched
    assert(g1 == 1)
    assert(cat.readAt(1, "a").count() == 50)
    assert(cat.readAt(1, "b").count() == 100) // carried forward
    assert(cat.tableVersions(1) == Map("a" -> 1L, "b" -> 0L))
  }

  test("values, not just counts, are generation-correct") {
    val cat = new TableCatalog(spark, freshRoot())
    cat.commitAll(Map("t" -> nums(0, 5)), 1000L)
    cat.commitAll(Map("t" -> nums(100, 105)), 2000L)
    assert(cat.readAt(0, "t").agg(sum("v")).head().getLong(0) == 10L)
    assert(cat.readAt(1, "t").agg(sum("v")).head().getLong(0) == 510L)
  }

  test("vacuum keeps the window readable and reclaims everything else") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    cat.morStore("m", Seq("v"))
    import spark.implicits._
    (0 until 4).foreach { i =>
      cat.commitAllWith(
        Map("snap" -> nums(i * 10, i * 10 + 5)),
        Map("m" -> Seq((i.toLong, "U")).map { case (v, op) => (v, op) }
          .toDF("v", "__op")),
        commitTsMillis = 1000L * (i + 1))
    }
    // compact the member so its vacuum has a base inside the window
    cat.morStore("m", Seq("v")).compact(-99L)
    cat.commitAllWith(Map("snap" -> nums(100, 110)), Map.empty, 5000L)
    val dropped = cat.vacuum(keepLast = 2)
    assert(dropped == Seq(0L, 1L, 2L))
    assert(cat.loggedGenerations() == Seq(3L, 4L))
    // both kept cuts fully readable, snapshot AND member
    assert(cat.readAt(3, "snap").count() == 5)
    assert(cat.readAt(4, "snap").count() == 10)
    assert(cat.readAt(3, "m").count() == 4)
    assert(cat.readAt(4, "m").count() == 4)
    // dropped cuts are really gone: generation file AND data dirs
    intercept[Exception] { cat.readAt(1, "snap").count() }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val vDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "tables/snap"))
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted
    assert(vDirs.toSeq == Seq("v=3", "v=4")) // v=0..2 reclaimed
    // further commits continue cleanly after a vacuum
    cat.commitAll(Map("snap" -> nums(0, 3)), 6000L)
    assert(cat.read("snap").count() == 3)
  }

  test("cloneTable is zero-copy, immutable under source writes, divergent under own writes") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    cat.commitAll(Map("src" -> nums(0, 10)), 1000L)
    val g1 = cat.cloneTable("src", "dst", 2000L)
    // zero-copy: the clone commit wrote NO data directory for dst
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "tables/dst")))
    assert(cat.readAt(g1, "dst").count() == 10)
    // a later SOURCE commit does not disturb the clone
    cat.commitAll(Map("src" -> nums(0, 50)), 3000L)
    assert(cat.read("src").count() == 50 && cat.read("dst").count() == 10)
    // a write to the clone diverges it under its OWN directory
    val g3 = cat.commitAll(Map("dst" -> nums(0, 7)), 4000L)
    assert(cat.read("dst").count() == 7)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "tables/dst")))
    assert(cat.readAt(g1, "dst").count() == 10) // time travel intact
    assert(cat.tableLocations(g3).get("dst").isEmpty) // indirection reset
    // clone-of-clone resolves to the PHYSICAL source (one hop)
    val g4 = cat.cloneTable("dst", "dst2", 5000L)
    cat.cloneTable("src", "srcclone", 6000L)
    val g5 = cat.cloneTable("srcclone", "srcclone2", 7000L)
    assert(cat.tableLocations(g5)("srcclone2") == "src")
    assert(cat.readAt(g4, "dst2").count() == 7)
    assert(cat.read("srcclone2").count() == 50)
    // guards: existing target, missing source
    intercept[IllegalArgumentException] { cat.cloneTable("src", "dst", 8000L) }
    intercept[IllegalArgumentException] { cat.cloneTable("nope", "x", 8000L) }
  }

  test("vacuum pins source versions that only a kept CLONE still references") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    cat.commitAll(Map("src" -> nums(0, 10)), 1000L) // src v=0
    cat.cloneTable("src", "dst", 2000L)             // dst -> src v=0
    cat.commitAll(Map("src" -> nums(0, 99)), 3000L) // src v=1
    cat.vacuum(keepLast = 1)
    // without location-aware vacuum, src/v=0 (min OWN kept ref is 1)
    // would be reclaimed and the kept clone would dangle
    assert(cat.read("dst").count() == 10)
    assert(cat.read("src").count() == 99)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "tables/src/v=0")))
  }

  test("rename is one metadata generation; drop vanishes forward, time-travels back") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    val g0 = cat.commitAll(Map("a" -> nums(0, 10), "b" -> nums(0, 5)), 1000L)
    val g1 = cat.renameTable("a", "a2", 2000L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // metadata-only: no new data directory, old name gone forward
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "tables/a2")))
    assert(cat.read("a2").count() == 10)
    assert(cat.tableVersions(g1).get("a").isEmpty)
    assert(cat.readAt(g0, "a").count() == 10) // time travel to the old name
    intercept[IllegalArgumentException] { cat.readAt(g1, "a") }
    // a write to the renamed table diverges under its own directory
    cat.commitAll(Map("a2" -> nums(0, 3)), 3000L)
    assert(cat.read("a2").count() == 3)
    assert(cat.readAt(g1, "a2").count() == 10)
    // drop: gone at the next cut, readable at earlier cuts
    val g3 = cat.dropTable("b", 4000L)
    intercept[IllegalArgumentException] { cat.readAt(g3, "b") }
    assert(cat.readAt(g1, "b").count() == 5)
    intercept[IllegalArgumentException] { cat.dropTable("b", 5000L) } // already gone
  }

  test("vacuum reclaims a dropped table's directory once nothing kept references it") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    cat.commitAll(Map("keep" -> nums(0, 5), "doomed" -> nums(0, 9)), 1000L)
    cat.dropTable("doomed", 2000L)
    cat.commitAll(Map("keep" -> nums(0, 6)), 3000L)
    cat.vacuum(keepLast = 2) // kept cuts no longer reference 'doomed'
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "tables/doomed")))
    assert(cat.read("keep").count() == 6)
    // but a rename keeps its source's PHYSICAL dir alive via the loc entry
    val root2 = freshRoot()
    val cat2 = new TableCatalog(spark, root2)
    cat2.commitAll(Map("old" -> nums(0, 7)), 1000L)
    cat2.renameTable("old", "new", 2000L)
    cat2.vacuum(keepLast = 1)
    assert(cat2.read("new").count() == 7) // physical dir tables/old survived
    assert(fs.exists(new org.apache.hadoop.fs.Path(root2, "tables/old")))
  }

  test("a MoR member drops like any table; vacuum reclaims its whole store") {
    import spark.implicits._
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    cat.morStore("m", Seq("v"))
    cat.commitAllWith(Map("snap" -> nums(0, 5)),
      Map("m" -> Seq((1L, "U"), (2L, "U")).toDF("v", "__op")), 1000L)
    val gDrop = cat.dropTable("m", 2000L)
    intercept[IllegalArgumentException] { cat.readAt(gDrop, "m") }
    assert(cat.readAt(gDrop - 1, "m").count() == 2) // time travel intact
    cat.commitAll(Map("snap" -> nums(0, 8)), 3000L)
    cat.vacuum(keepLast = 2) // no kept cut references the member
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "tables/m")))
    assert(cat.read("snap").count() == 8)
  }

  test("recommitting a dropped or renamed-away name never reuses version directories") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    val g0 = cat.commitAll(Map("t" -> nums(0, 10)), 1000L) // t/v=0
    cat.dropTable("t", 2000L)
    cat.commitAll(Map("t" -> nums(0, 99)), 3000L) // must NOT clobber v=0
    assert(cat.readAt(g0, "t").count() == 10, "old generation corrupted")
    assert(cat.read("t").count() == 99)
    // the rename flavor: live clone reads THROUGH the old physical dir
    val root2 = freshRoot()
    val cat2 = new TableCatalog(spark, root2)
    cat2.commitAll(Map("a" -> nums(0, 7)), 1000L) // a/v=0
    cat2.renameTable("a", "b", 2000L)             // b -> (a, v=0)
    cat2.commitAll(Map("a" -> nums(0, 50)), 3000L) // 'a' reborn — fresh version
    assert(cat2.read("b").count() == 7,
      "rename target corrupted by the reborn source's write")
    assert(cat2.read("a").count() == 50)
  }

  test("vacuum under a clone pin reclaims the unreferenced intermediate versions") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    cat.commitAll(Map("src" -> nums(0, 10)), 1000L)   // v=0
    cat.cloneTable("src", "dst", 2000L)               // pins src/v=0
    (1 to 4).foreach(i =>
      cat.commitAll(Map("src" -> nums(0, 10 + i)), 2000L + i * 1000L)) // v=1..4
    cat.vacuum(keepLast = 2) // kept cuts reference src v=0 (via dst), v=3, v=4
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def vdirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "tables/src"))
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
    // v=1, v=2 are referenced by NO kept generation — a per-location
    // minimum (0) would leak them forever
    assert(vdirs == Seq("v=0", "v=3", "v=4"), vdirs.toString)
    assert(cat.read("dst").count() == 10 && cat.read("src").count() == 14)
  }

  test("commitAllIf: a stale writer conflicts without publishing; retry lands") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    cat.commitAll(Map("t" -> nums(0, 10)), 1000L)
    // two logical writers read the same snapshot
    val snapA = cat.latestGeneration()
    val snapB = cat.latestGeneration()
    assert(cat.commitAllIf(Map("t" -> nums(0, 20)), 2000L, snapA) == 1L)
    // B derived from the now-stale snapshot: must NOT clobber A
    val e = intercept[TableCatalog.CommitConflictException] {
      cat.commitAllIf(Map("u" -> nums(0, 5)), 3000L, snapB)
    }
    assert(e.expected == snapB && e.actual.contains(1L))
    assert(cat.latestGeneration().contains(1L), "conflicted commit published!")
    assert(cat.read("t").count() == 20)
    // retry from the fresh snapshot lands; no stage orphans left behind
    assert(cat.commitAllIf(Map("u" -> nums(0, 5)), 3000L,
      cat.latestGeneration()) == 2L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val stDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "tables/u"))
      .map(_.getPath.getName).filter(_.startsWith("stage-"))
    assert(stDirs.isEmpty, stDirs.mkString(","))
  }

  test("transact: concurrent read-modify-writers never lose an update") {
    import spark.implicits._
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    cat.commitAll(Map("log" -> Seq(0L).toDF("n")), 0L)
    // 4 threads each append their id to the log via read-modify-write;
    // a lost update would drop a row. transact retries losers.
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        cat.transact(i * 1000L, maxAttempts = 10) { snap =>
          val cur = cat.readAt(snap.get, "log")
          Map("log" -> cur.unionByName(Seq(i.toLong).toDF("n")))
        }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val rows = cat.read("log").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(0L, 1L, 2L, 3L, 4L), rows.toString)
    assert(cat.latestGeneration().contains(4L)) // one generation per writer
  }

  test("table names that would corrupt the JSON generation file are rejected") {
    val cat = new TableCatalog(spark, freshRoot())
    for (bad <- Seq("""a"b""", "a,b", "a:b", "a}b", "a b", "")) {
      val e = intercept[IllegalArgumentException] {
        cat.commitAll(Map(bad -> nums(0, 3)), 1000L)
      }
      assert(e.getMessage.contains("table name"), s"for '$bad'")
    }
    assert(cat.latestGeneration().isEmpty) // nothing committed
    cat.commitAll(Map("ok_Name-1.x" -> nums(0, 3)), 1000L) // safe charset passes
    assert(cat.read("ok_Name-1.x").count() == 3)
  }

  test("AS OF TIMESTAMP resolves per-ref lineage; vacuumOlderThan keeps the anchor") {
    val cat = new TableCatalog(spark, freshRoot())
    cat.commitAll(Map("t" -> nums(0, 10)), 1000L)  // g0
    cat.commitAll(Map("t" -> nums(0, 20)), 2000L)  // g1
    cat.commitAll(Map("t" -> nums(0, 30)), 3000L)  // g2
    // between-commit instants resolve DOWN to the newest earlier cut
    assert(cat.readAsOf(1500L, "t").count() == 10)
    assert(cat.readAsOf(2000L, "t").count() == 20) // exact ts inclusive
    assert(cat.readAsOf(99999L, "t").count() == 30)
    intercept[IllegalArgumentException] { cat.readAsOf(999L, "t") }
    // branch lineage: AS OF on the branch sees ITS commit, main doesn't
    cat.createBranch("b")
    cat.commitAllOn("b", Map("t" -> nums(0, 5)), 5000L)
    assert(cat.readAsOf(6000L, "t", "b").count() == 5)
    assert(cat.readAsOf(6000L, "t").count() == 30)
    assert(cat.readAsOf(2500L, "t", "b").count() == 20) // pre-fork: shared
    // age-based retention: anchor (newest gen <= cutoff ts) is KEPT so
    // every AS OF at or after the cutoff still answers
    val dropped = cat.vacuumOlderThan(2500L)
    assert(dropped == Seq(0L), dropped.toString)
    assert(cat.readAsOf(2500L, "t").count() == 20)
    assert(cat.readAsOf(99999L, "t").count() == 30)
    intercept[Exception] { cat.readAt(0L, "t").count() }
    // a cutoff older than all history reclaims nothing
    val cat2 = new TableCatalog(spark, freshRoot())
    cat2.commitAll(Map("t" -> nums(0, 3)), 5000L)
    assert(cat2.vacuumOlderThan(100L).isEmpty)
    assert(cat2.read("t").count() == 3)
  }

  test("a snapshot cannot shadow an existing MoR member across generations (ADVICE r9)") {
    import spark.implicits._
    val cat = new TableCatalog(spark, freshRoot())
    cat.morStore("m", Seq("v"))
    cat.commitAllWith(Map("snap" -> nums(0, 5)),
      Map("m" -> Seq((1L, "U"), (2L, "U")).toDF("v", "__op")), 1000L)
    // commitAllWith guards the SAME-call collision; this is the
    // cross-generation one: a later plain commitAll under the member's
    // name would land in `tables` while the member stays in `mor`, and
    // readAt would silently prefer the snapshot
    val e = intercept[IllegalArgumentException] {
      cat.commitAll(Map("m" -> nums(0, 9)), 2000L)
    }
    assert(e.getMessage.contains("BOTH snapshot and MoR member"))
    assert(cat.read("m").count() == 2, "member must stay intact and visible")
    assert(cat.latestGeneration().contains(0L), "rejected commit must not publish")
    // the reverse direction: a MoR delta under an existing SNAPSHOT name
    cat.morStore("snap", Seq("v"))
    val e2 = intercept[IllegalArgumentException] {
      cat.commitAllWith(Map.empty,
        Map("snap" -> Seq((7L, "U")).toDF("v", "__op")), 3000L)
    }
    assert(e2.getMessage.contains("BOTH snapshot and MoR member"))
    // dropping the old entry in the same commit converts the kind
    val g = cat.publish(cat.stage(Map("m" -> nums(0, 9))), 4000L,
      dropped = Set("m"))
    assert(cat.readAt(g, "m").count() == 9)
  }

  test("append members: segment chains, AS OF, snapshot reset, O(batch) staging") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    // three O(batch) commits: each stages ONLY its own rows
    val g0 = cat.commitAllAppend(Map.empty, Map("log" -> nums(0, 10)), 1000L)
    val g1 = cat.commitAllAppend(Map.empty, Map("log" -> nums(10, 15)), 2000L)
    val g2 = cat.commitAllAppend(
      Map("summary" -> nums(0, 1)), Map("log" -> nums(15, 18)), 3000L)
    assert(Seq(g0, g1, g2) == Seq(0L, 1L, 2L))
    // head = union of the chain; AS OF = each generation's own chain
    assert(cat.read("log").count() == 18)
    assert(cat.readAt(0, "log").count() == 10)
    assert(cat.readAt(1, "log").count() == 15)
    assert(cat.appendVersions(2)("log") == Seq(2L, 1L, 0L))
    // the snapshot half rode the SAME atomic generation
    assert(cat.readAt(2, "summary").count() == 1)
    // physical O(batch): three segment dirs, each holding one batch
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def segs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "tables/log"))
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
    assert(segs == Seq("v=0", "v=1", "v=2"))
    assert(spark.read.parquet(s"$root/tables/log/v=2").count() == 3,
      "a segment must hold only its own batch, not the accumulated state")
    // a SNAPSHOT commit under the name folds the chain to one directory
    val g3 = cat.commitAll(Map("log" -> cat.read("log").filter(col("v") < 5)), 4000L)
    assert(cat.read("log").count() == 5)
    assert(cat.appendVersions(g3).get("log").isEmpty,
      "a snapshot commit must reset the member's kind")
    // ...and a later append CHAINS ON the folded snapshot
    cat.commitAllAppend(Map.empty, Map("log" -> nums(100, 102)), 5000L)
    assert(cat.read("log").count() == 7)
    assert(cat.readAt(g3, "log").count() == 5) // fold still time-travels
    // pre-fold generations still read their full chains
    assert(cat.readAt(2, "log").count() == 18)
  }

  test("append members: restore copies chains zero-copy; vacuum pins chained segments") {
    val root = freshRoot()
    val cat = new TableCatalog(spark, root)
    cat.commitAllAppend(Map.empty, Map("log" -> nums(0, 10)), 1000L)
    val target = cat.commitAllAppend(Map.empty, Map("log" -> nums(10, 15)), 2000L)
    cat.commitAll(Map("log" -> nums(0, 2)), 3000L) // a "mistake" fold
    val gr = cat.restore(target, 4000L)
    assert(cat.read("log").count() == 15, "restore lost part of the chain")
    assert(cat.appendVersions(gr)("log") == Seq(1L, 0L))
    // vacuum keeping only the restore generation must pin BOTH chained
    // segments (they are referenced transitively by the kept chain)
    cat.vacuum(keepLast = 1)
    assert(cat.read("log").count() == 15, "vacuum reclaimed a chained segment")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val segs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "tables/log"))
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
    assert(segs == Seq("v=0", "v=1"), s"expected the fold reclaimed, got $segs")
  }

  test("restore re-points snapshots zero-copy, rolls MoR pointers back, keeps history") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cat = new TableCatalog(spark, freshRoot())
    cat.morStore("m", Seq("v"))
    // good state: snapshot + one MoR delta
    cat.commitAllWith(Map("snap" -> nums(0, 10)),
      Map("m" -> Seq((1L, "U"), (2L, "U")).toDF("v", "__op")), 1000L)
    val good = cat.latestGeneration().get
    val goodV = cat.versionOf(good, "snap")
    // the incident: snap corrupted, m takes a delete delta, extra table lands
    cat.commitAllWith(Map("snap" -> nums(0, 2), "extra" -> nums(0, 3)),
      Map("m" -> Seq((1L, "D"), (5L, "U")).toDF("v", "__op")), 2000L)
    assert(cat.read("m").collect().map(_.getLong(0)).toSet == Set(2L, 5L))
    val gr = cat.restore(good, 3000L)
    // snapshot: same rows through the SAME version directory (zero-copy)
    assert(cat.read("snap").count() == 10)
    assert(cat.versionOf(gr, "snap") == goodV)
    // MoR member: the delta pointer rolled back — delete/upsert undone
    assert(cat.read("m").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // the post-good table is gone from the head, but history keeps it all
    intercept[IllegalArgumentException] { cat.read("extra") }
    assert(cat.readAt(gr - 1, "snap").count() == 2)
    assert(cat.readAt(gr - 1, "extra").count() == 3)
    // a restore is a normal commit: later writes diverge freely
    cat.commitAll(Map("snap" -> nums(0, 4)), 4000L)
    assert(cat.read("snap").count() == 4)
    assert(cat.readAt(gr, "snap").count() == 10)
  }
}

object TableCatalogSpec {
  /** Set by the slow sibling write of the staging-failure spec. */
  val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
}
