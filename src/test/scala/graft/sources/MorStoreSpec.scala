package graft.sources

import java.nio.file.Files

import scala.collection.immutable.BitSet
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read semantics: delta application order, delete /
  * resurrect, compaction equivalence, and O(batch) commit (the table
  * is never rewritten by a delta).
  */
class MorStoreSpec extends AnyFunSuite with graft.SparkJobProbe {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-mor").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/t"
  }

  private def rows(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("k", "v")
  }

  private def delta(entries: (Long, Long, String)*) = {
    import spark.implicits._
    entries.toDF("k", "v", "__op")
  }

  private def asMap(st: MorStore): Map[Long, Long] =
    st.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("upsert replaces, insert adds, delete removes; latest delta wins per key") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L, 3L -> 30L), 1000L)
    st.commitDelta(delta((2L, 21L, "U"), (4L, 40L, "U")), 2000L) // update + insert
    st.commitDelta(delta((1L, 0L, "D"), (2L, 22L, "U")), 3000L)  // delete + re-update
    assert(asMap(st) == Map(2L -> 22L, 3L -> 30L, 4L -> 40L))
  }

  test("commitDeltaAll equals sequential commitDelta: resolve, generations, replay cache") {
    val seqSt = new MorStore(spark, freshRoot(), Seq("k"))
    val allSt = new MorStore(spark, freshRoot(), Seq("k"))
    Seq(seqSt, allSt).foreach(_.commitBase(rows(1L -> 10L, 2L -> 20L, 3L -> 30L), 1000L))
    val chain = Seq(
      delta((2L, 21L, "U"), (4L, 40L, "U")) -> 2000L,
      delta((1L, 0L, "D"), (2L, 22L, "U")) -> 3000L)
    chain.foreach { case (d, ts) => seqSt.commitDelta(d, ts) }
    assert(allSt.commitDeltaAll(chain) == Seq(1L, 2L))
    assert(asMap(allSt) == asMap(seqSt))
    assert(allSt.generations() == seqSt.generations())
    assert(allSt.tsCommitted(3000L))
  }

  test("commitDeltaAll: a mid-chain contract violation publishes the prefix only") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L), 1000L)
    // second delta has a same-key tie with no __seq — rejected at ITS
    // publish slot; the first delta (already validated+logged) stays
    intercept[IllegalArgumentException] {
      st.commitDeltaAll(Seq(
        delta((1L, 11L, "U")) -> 2000L,
        delta((1L, 12L, "U"), (1L, 13L, "U")) -> 3000L))
    }
    assert(asMap(st) == Map(1L -> 11L))
    assert(st.generations().map(_._2) == Seq("base", "delta"))
  }

  test("knownEmpty: only a base logged with 0 rows; an entry without a row count is not") {
    val root = freshRoot()
    val st = new MorStore(spark, root, Seq("k"))
    assert(st.knownEmpty, "no commit yet")
    st.commitBase(rows(1L -> 1L, 2L -> 2L), 1L)
    assert(!st.knownEmpty)
    assert(st.log.read(0).rows.map(_ + 1L).contains(3L), "a base logs its row count as a Long")
    st.commitDelta(delta((1L, 0L, "D"), (2L, 0L, "D")), 2L)
    assert(st.log.read(1).rows.contains(2L))
    assert(!st.knownEmpty, "a delta head is never known empty, even one that deletes everything")
    st.commitBase(st.read().limit(0), 3L)
    assert(st.knownEmpty, "a 0-row base head resolves empty")
    // an entry written before row counts were logged resolves as before
    val head = new org.apache.hadoop.fs.Path(root, "_log/2.json")
    val out = head.getFileSystem(spark.sparkContext.hadoopConfiguration).create(head, true)
    try out.write("""{"generation":2,"ts":3,"kind":"base"}""".getBytes("UTF-8")) finally out.close()
    assert(st.log.read(2).rows.isEmpty)
    assert(!st.knownEmpty)
    assert(st.read().count() == 0)
  }

  test("a U after a D resurrects the key") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L), 1000L)
    st.commitDelta(delta((1L, 0L, "D")), 2000L)
    assert(asMap(st) == Map.empty[Long, Long])
    st.commitDelta(delta((1L, 11L, "U")), 3000L)
    assert(asMap(st) == Map(1L -> 11L))
  }

  test("compaction preserves state exactly and resets the delta stack") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows((1L to 100L).map(i => i -> i * 10): _*), 1000L)
    st.commitDelta(delta((1L to 100L by 3).map(i => (i, i, "U")): _*), 2000L)
    st.commitDelta(delta((1L to 100L by 7).map(i => (i, 0L, "D")): _*), 3000L)
    val before = asMap(st)
    st.compact(4000L)
    assert(asMap(st) == before)
    // post-compaction reads are pure scans of the new base
    assert(st.generations().last._2 == "base")
    // further deltas apply on top of the compacted base
    st.commitDelta(delta((2L, 999L, "U")), 5000L)
    assert(asMap(st) == before + (2L -> 999L))
  }

  test("model check: random delta sequences match an in-memory map fold") {
    val rnd = new scala.util.Random(42)
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    val model = scala.collection.mutable.Map.empty[Long, Long]
    val base = (1L to 50L).map(i => i -> i * 100)
    base.foreach { case (k, v) => model(k) = v }
    st.commitBase(rows(base: _*), 0L)
    for (batch <- 1 to 6) {
      val entries = (0 until 10).map { _ =>
        val k = rnd.nextInt(70).toLong // touches existing, deleted, and new keys
        if (rnd.nextBoolean()) (k, rnd.nextInt(1000).toLong, "U")
        else (k, 0L, "D")
      }
      // within one batch, LAST entry per key wins in the model; the
      // store sees the batch post-deduped (one row per key), matching
      // the CDC cascade's contract upstream
      val lastPerKey = entries.groupBy(_._1).map(_._2.last).toSeq
      lastPerKey.foreach {
        case (k, v, "U") => model(k) = v
        case (k, _, _) => model.remove(k)
      }
      st.commitDelta(delta(lastPerKey: _*), batch * 1000L)
      if (batch == 3) st.compact(3500L) // mid-sequence compaction
      assert(asMap(st) == model.toMap, s"diverged at batch $batch")
    }
  }

  test("__seq orders same-key events within one batch deterministically") {
    import spark.implicits._
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L), 1000L)
    // one CDC batch: k=1 updated THEN deleted; k=2 deleted THEN re-upserted
    val d = Seq((1L, 11L, "U", 0L), (1L, 0L, "D", 1L),
      (2L, 0L, "D", 0L), (2L, 22L, "U", 1L)).toDF("k", "v", "__op", "__seq")
    st.commitDelta(d, 2000L)
    assert(asMap(st) == Map(2L -> 22L)) // k=1 gone, k=2 resurrected
    // resolve ≡ compact still holds with intra-batch ordering
    st.compact(3000L)
    assert(asMap(st) == Map(2L -> 22L))
  }

  test("same-key rows without __seq are rejected, leaving nothing visible") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L), 1000L)
    val e = intercept[IllegalArgumentException] {
      st.commitDelta(delta((1L, 11L, "U"), (1L, 0L, "D")), 2000L)
    }
    assert(e.getMessage.contains("__seq"))
    assert(st.generations().map(_._1) == Seq(0L)) // rejected commit invisible
    assert(asMap(st) == Map(1L -> 10L))
  }

  test("an unrecognized __op verb fails the commit instead of acting as a delete") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L), 1000L)
    val e = intercept[IllegalArgumentException] {
      st.commitDelta(delta((1L, 11L, "X")), 2000L)
    }
    assert(e.getMessage.contains("'X'"))
    assert(asMap(st) == Map(1L -> 10L)) // key 1 NOT silently suppressed
  }

  test("a store rooted under a path containing g=N still resolves correctly") {
    // the resolve recovers generation numbers from file paths; a user
    // root like .../g=7/... must not shadow the store's own g= dirs
    val d = Files.createTempDirectory("graft-mor-gpath").toFile
    d.deleteOnExit()
    val st = new MorStore(spark, d.getAbsolutePath + "/g=7/t", Seq("k"))
    st.commitBase(rows(1L -> 10L), 1000L)
    st.commitDelta(delta((1L, 11L, "U"), (2L, 20L, "U")), 2000L)
    st.commitDelta(delta((1L, 0L, "D")), 3000L)
    assert(asMap(st) == Map(2L -> 20L))
  }

  test("type promotion: drifted delta rejected with hint; promote widens; narrowing refuses") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(Seq((1L, 10), (2L, 20)).toDF("k", "v"), 1000L) // v: INT
    // a long-typed delta must be rejected AT THE COMMIT, with guidance
    val e = intercept[IllegalArgumentException] {
      st.commitDelta(Seq((3L, 30L, "U")).toDF("k", "v", "__op"), 2000L)
    }
    assert(e.getMessage.contains("promote"), e.getMessage)
    assert(st.generations().map(_._2) == Seq("base")) // nothing leaked
    // narrowing refuses (silent truncation is the failure mode)
    val e2 = intercept[IllegalArgumentException] {
      st.promote("v", ShortType, 2600L)
    }
    assert(e2.getMessage.contains("not"), e2.getMessage)
    st.promote("v", LongType, 3000L)
    assert(st.read().schema("v").dataType == LongType)
    // wide delta now commits, with a value beyond int range
    st.commitDelta(Seq((3L, 1L << 40, "U")).toDF("k", "v", "__op"), 4000L)
    assert(asMap(st) == Map(1L -> 10L, 2L -> 20L, 3L -> (1L << 40)))
    // classification table
    import graft.operators.SchemaEvolution.isWidening
    assert(isWidening(IntegerType, LongType))
    assert(isWidening(FloatType, DoubleType))
    assert(isWidening(IntegerType, DoubleType))
    assert(!isWidening(LongType, DoubleType))       // 19 digits > 15-digit mantissa
    assert(isWidening(IntegerType, DecimalType(12, 2)))
    assert(!isWidening(IntegerType, DecimalType(9, 2))) // 7 int digits < 10
    assert(isWidening(DecimalType(10, 2), DecimalType(14, 2)))
    assert(!isWidening(DecimalType(10, 2), DecimalType(14, 4))) // scale change
    assert(!isWidening(LongType, IntegerType))
    assert(!isWidening(StringType, LongType))
  }

  test("lenient commit: poison rows divert to the DLQ, clean rows land, batch id sticks") {
    import spark.implicits._
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L, 3L -> 30L), -1L)
    val d = Seq(
      (1L, 11L, "U"),  // clean update
      (2L, 0L, "X"),   // bad op — must NOT act as a delete
      (3L, 31L, "U"),  // conflicted pair without __seq: BOTH poison
      (3L, 32L, "U"),
      (4L, 40L, "U")   // clean insert
    ).toDF("k", "v", "__op")
    val (g, nDlq) = st.commitDeltaLenient(d, 0L)
    assert(g >= 0 && nDlq == 3)
    // k=2 survives (bad op quarantined), k=3 stays at its PREVIOUS value
    assert(asMap(st) == Map(1L -> 11L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
    val reasons = st.readDlq().groupBy("__reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reasons == Map("bad_op" -> 1L, "dup_key" -> 2L))
    // the batch id is logged even though rows were diverted:
    // a redelivery of batch 0 must no-op
    assert(st.tsCommitted(0L))
  }

  test("a NULL __op is a bad op in BOTH validators, never a silent delete/drop") {
    import spark.implicits._
    // strict path: !isin on a null op is NULL, so an unguarded validator
    // would pass the row — and a committed null-op row that wins the
    // per-key window is excluded by the resolve's __op === "U" filter,
    // silently deleting the key (ADVICE r9)
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L), 0L)
    val nullOp = Seq((1L, 11L, Option("U")), (2L, 21L, Option.empty[String]))
      .toDF("k", "v", "__op")
    val e = intercept[IllegalArgumentException] { st.commitDelta(nullOp, 1L) }
    assert(e.getMessage.contains("unrecognized") && e.getMessage.contains("<null>"))
    assert(asMap(st) == Map(1L -> 10L, 2L -> 20L)) // nothing committed
    // lenient path: the null-op row must land in the DLQ as bad_op, not
    // fall through both the poison and clean filters (silently dropped)
    val (g, nDlq) = st.commitDeltaLenient(nullOp, 2L)
    assert(g >= 0 && nDlq == 1)
    assert(asMap(st) == Map(1L -> 11L, 2L -> 20L)) // k=2 keeps its previous value
    val dlq = st.readDlq().select("k", "__reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dlq == Map(2L -> "bad_op"))
  }

  test("schema evolution: opt-in only, NULL backfill, strict again after compaction") {
    import spark.implicits._
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L), 0L)
    val widened = Seq((3L, 30L, 7L, "U")).toDF("k", "v", "extra", "__op")
    // stray column WITHOUT the flag: rejected, names the column
    val e = intercept[IllegalArgumentException] { st.commitDelta(widened, 1L) }
    assert(e.getMessage.contains("extra"))
    // with the flag: accepted; old rows surface NULL
    st.commitDelta(widened, 1L, allowEvolution = true)
    val got = st.read().orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.get(r.fieldIndex("extra")))))
    assert(got.toSeq == Seq(1L -> None, 2L -> None, 3L -> Some(7L)))
    // compaction folds the widened schema into the base; a delta with
    // the OLD schema is now missing a column -> rejected
    st.compact(2L)
    val eOld = intercept[IllegalArgumentException] {
      st.commitDelta(delta((4L, 40L, "U")), 3L)
    }
    assert(eOld.getMessage.contains("missing: extra"))
  }

  test("vacuumBefore drops only generations unreachable from kept reads") {
    val root = freshRoot()
    val st = new MorStore(spark, root, Seq("k"))
    st.commitBase(rows(1L -> 10L), 1000L)               // g0
    st.commitDelta(delta((2L, 20L, "U")), 2000L)        // g1
    st.compact(3000L)                                   // g2 (base)
    st.commitDelta(delta((3L, 30L, "U")), 4000L)        // g3
    val dropped = st.vacuumBefore(3L)
    assert(dropped == Seq(0L, 1L)) // below the newest base <= 3
    assert(st.generations().map(_._1) == Seq(2L, 3L))
    assert(asMap(st) == Map(1L -> 10L, 2L -> 20L, 3L -> 30L)) // read intact
    assert(asMap(new MorStore(spark, root, Seq("k"))) // fresh handle too
      == Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // readAt across the kept window still works; numbering continues
    assert(st.readAt(2L).count() == 2)
    assert(st.commitDelta(delta((4L, 40L, "U")), 5000L) == 4L)
  }

  test("vacuumBefore refuses when no base would survive") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L), 1000L)
    st.commitDelta(delta((2L, 20L, "U")), 2000L)
    // upTo below the only base: nothing can be dropped safely... the
    // base at g0 IS <= 1, so this drops nothing; an empty store throws
    assert(st.vacuumBefore(1L) == Seq.empty)
    val empty = new MorStore(spark, freshRoot(), Seq("k"))
    intercept[IllegalStateException] { empty.vacuumBefore(0L) }
  }

  test("a delta commit writes only the delta, never the base") {
    val root = freshRoot()
    val st = new MorStore(spark, root, Seq("k"))
    st.commitBase(rows((1L to 1000L).map(i => i -> i): _*), 1000L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val baseDir = new org.apache.hadoop.fs.Path(root, "g=0")
    val mtimeBefore = fs.listStatus(baseDir).map(_.getModificationTime).max
    st.commitDelta(delta((1L, 2L, "U")), 2000L)
    // base generation files untouched by the delta commit
    assert(fs.listStatus(baseDir).map(_.getModificationTime).max == mtimeBefore)
    assert(st.generations().map(_._2) == Seq("base", "delta"))
  }

  // ── change data feed ──────────────────────────────────────────────

  private def applied(st: MorStore, state: Option[org.apache.spark.sql.DataFrame],
      from: Long, to: Long): Map[Long, Long] =
    MorStore.applyChanges(state, st.changesBetween(from, to), Seq("k"))
      .collect().map(r => r.getLong(r.fieldIndex("k")) ->
        r.getLong(r.fieldIndex("v"))).toMap

  private def stateMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(r.fieldIndex("k")) ->
      r.getLong(r.fieldIndex("v"))).toMap

  test("changefeed from -1 bootstraps a consumer to the store's exact state") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L, 3L -> 30L), 1000L)
    st.commitDelta(delta((2L, 21L, "U"), (4L, 40L, "U")), 2000L)
    st.commitDelta(delta((1L, 0L, "D"), (2L, 22L, "U")), 3000L)
    val head = st.generations().last._1
    assert(applied(st, None, -1L, head) == asMap(st))
  }

  test("incremental resume: consumer at g applies (g, head] and matches the resolve") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L), 1000L)
    st.commitDelta(delta((3L, 30L, "U")), 2000L)
    val mid = st.generations().last._1
    val consumerState = st.readAt(mid).localCheckpoint()
    st.commitDelta(delta((1L, 0L, "D"), (4L, 40L, "U")), 3000L)
    st.commitDelta(delta((4L, 41L, "U")), 4000L)
    val head = st.generations().last._1
    assert(applied(st, Some(consumerState), mid, head) == asMap(st))
    assert(asMap(st) == Map(2L -> 20L, 3L -> 30L, 4L -> 41L))
  }

  test("a compaction emits NO changes; the feed skips it silently") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L), 1000L)
    st.commitDelta(delta((1L, 11L, "U")), 2000L)
    val before = st.generations().last._1
    st.compact(3000L)
    val head = st.generations().last._1
    assert(st.changesBetween(before, head).count() == 0)
    // and a window SPANNING the compaction carries only the real deltas
    st.commitDelta(delta((2L, 0L, "D")), 4000L)
    val head2 = st.generations().last._1
    val span = st.changesBetween(0L, head2)
    assert(span.count() == 2) // the U and the D, not the folded base
    assert(applied(st, Some(st.readAt(0L)), 0L, head2) == asMap(st))
  }

  test("bootstrap after vacuum: oldest visible base becomes the initial snapshot") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L), 1000L)
    st.commitDelta(delta((1L, 11L, "U")), 2000L)
    st.compact(3000L)
    st.commitDelta(delta((3L, 30L, "U")), 4000L)
    st.vacuumBefore(st.generations().collect { case (g, "base") => g }.last)
    val head = st.generations().last._1
    assert(applied(st, None, -1L, head) == Map(1L -> 11L, 2L -> 20L, 3L -> 30L))
    // resuming from a vacuumed-away generation refuses instead of
    // silently skipping the missed history
    intercept[IllegalArgumentException] { st.changesBetween(0L, head) }
  }

  test("signed changefeed maintains a grouped view exactly (random model)") {
    import graft.operators.IncrementalView
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    for (trial <- 1 to 3) {
      val st = new MorStore(spark, freshRoot(), Seq("k"))
      def grp(v: Long) = s"g${v % 3}"
      val base = (1L to 25L).map(k => (k, rnd.nextInt(30).toLong))
      st.commitBase(base.map { case (k, v) => (k, v, grp(v)) }
        .toDF("k", "v", "g"), 0L)
      val snapGen = st.generations().last._1
      val state = st.readAt(snapGen).localCheckpoint()
      // view at snapshot: +1 fold of the state itself
      val view0 = IncrementalView.mergeSigned(None,
        state.withColumn("__sign", lit(1L)), "__sign", Seq("g"),
        "n", Seq("sum_v" -> col("v")))
      // two random delta batches: group-moving updates + deletes + inserts
      (1 to 2).foreach { b =>
        val ups = (1L to 25L).filter(_ => rnd.nextBoolean()).map { k =>
          val v = rnd.nextInt(30).toLong; (k, v, grp(v), "U")
        }
        val dels = (1L to 25L).filter(_ => rnd.nextInt(4) == 0)
          .filterNot(k => ups.exists(_._1 == k))
          .map(k => (k, 0L, "gx", "D"))
        val ins = Seq((100L + b, b.toLong, grp(b.toLong), "U"))
        st.commitDelta((ups ++ dels ++ ins)
          .toDF("k", "v", "g", "__op"), b.toLong)
      }
      val head = st.generations().last._1
      val signed = MorStore.signedChanges(state,
        st.changesBetween(snapGen, head), Seq("k"))
      val view1 = IncrementalView.mergeSigned(Some(view0), signed, "__sign",
        Seq("g"), "n", Seq("sum_v" -> col("v")))
      val direct = st.read().groupBy(col("g"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("v")).as("sum_v"))
      assert(view1.exceptAll(direct).isEmpty && direct.exceptAll(view1).isEmpty,
        s"trial $trial: maintained view diverged from recompute")
    }
  }

  test("same-key ties inside one delta resolve by __seq in the feed too") {
    import spark.implicits._
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L), 1000L)
    st.commitDelta(Seq((1L, 11L, "U", 0L), (1L, 0L, "D", 1L))
      .toDF("k", "v", "__op", "__seq"), 2000L)
    val head = st.generations().last._1
    assert(applied(st, Some(st.readAt(0L)), 0L, head) == Map.empty[Long, Long])
    assert(asMap(st) == Map.empty[Long, Long])
  }

  test("netChanges: latest op per key incl. deletes; a reset base cuts history") {
    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitBase(rows(1L -> 10L, 2L -> 20L, 3L -> 30L), 0L)
    st.commitDelta(delta((2L, 21L, "U"), (3L, 0L, "D"), (4L, 40L, "U")), 1L)
    st.commitDelta(delta((4L, 0L, "D"), (5L, 50L, "U")), 2L)
    def net(s: MorStore): Map[Long, (Long, String)] =
      s.netChanges().collect()
        .map(r => r.getAs[Long]("k") ->
          (r.getAs[Long]("v"), r.getAs[String](s.OpCol))).toMap
    // base rows as U, overridden by later deltas; final D survives as D
    // (the drain/replication signal read() cannot express)
    assert(net(st) == Map(
      1L -> (10L, "U"), 2L -> (21L, "U"), 3L -> (0L, "D"),
      4L -> (0L, "D"), 5L -> (50L, "U")))
    // a reset base (the drain's truncate) is the new snapshot floor:
    // pre-base deltas must NOT resurrect (changesBetween(-1,…) would)
    st.commitBase(rows(), 3L)
    assert(st.netChanges().isEmpty,
      "net after a reset base must be empty")
    st.commitDelta(delta((6L, 60L, "U")), 4L)
    assert(net(st) == Map(6L -> (60L, "U")))
  }

  test("bucket sets: an entry's bitset round-trips through the log and unions from the base") {
    val rnd = new scala.util.Random(7)
    val half = BitSet((0 until 400000).filter(_ => rnd.nextBoolean()): _*)
    Seq(BitSet.empty, BitSet(0), BitSet(63, 64), BitSet(5, 399999), half).foreach { b =>
      assert(MorStore.decodeBuckets(MorStore.encodeBuckets(b)) == b)
    }
    // one bit per bucket: 50,000 bytes at 400k buckets, in base64
    assert(MorStore.encodeBuckets(half).length <= (400000 / 8 + 2) / 3 * 4)

    val st = new MorStore(spark, freshRoot(), Seq("k"))
    st.commitDelta(delta((1L, 10L, "U")), 1L, buckets = Some(BitSet(3, 7)))
    assert(st.generations().map(_._2) == Seq("base", "delta"))
    assert(st.loggedBucketsSinceBase.contains(BitSet(3, 7)))
    st.commitDelta(delta((2L, 20L, "D")), 2L, buckets = Some(half))
    assert(st.loggedBucketsSinceBase.contains(half | BitSet(3, 7)))
    assert(st.log.read(2L).buckets.map(MorStore.decodeBuckets).contains(half))
    st.commitDelta(delta((3L, 30L, "U")), 3L)
    assert(st.loggedBucketsSinceBase.isEmpty, "a delta logged without a set has unknown buckets")
    st.commitEmptyBase(st.read().schema, 4L)
    assert(st.knownEmpty && st.loggedBucketsSinceBase.contains(BitSet.empty))
    st.commitDelta(delta((4L, 40L, "U")), 5L, buckets = Some(BitSet(1)))
    assert(st.loggedBucketsSinceBase.contains(BitSet(1)), "the sets before the newest base are drained")
    st.commitBase(rows(9L -> 90L), 6L)
    assert(st.loggedBucketsSinceBase.isEmpty, "a base with rows has unknown buckets")
  }

  test("empty base: the driver writes the footer an empty Spark write leaves, with no job") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("s", StringType),
      StructField("d", DecimalType(10, 2)), StructField("big", DecimalType(30, 4)),
      StructField("ts", TimestampType), StructField("day", DateType),
      StructField("xs", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", BinaryType))))))
    val conf = spark.sparkContext.hadoopConfiguration
    def footer(dir: String) = {
      val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(f.length == 1, dir)
      ParquetFileReader.readFooter(HadoopInputFile.fromPath(new Path(f.head.getPath), conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    }
    val sparkDir = freshRoot()
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema).write.parquet(sparkDir)
    val stRoot = freshRoot()
    val st = new MorStore(spark, stRoot, Seq("k"))
    val jobs = jobDescriptions { assert(st.commitEmptyBase(schema, 1L) == 0L) }
    assert(jobs.isEmpty, s"the empty base started Spark jobs: $jobs")
    val ours = footer(s"$stRoot/g=0")
    val theirs = footer(sparkDir)
    assert(ours.getFileMetaData.getSchema == theirs.getFileMetaData.getSchema)
    assert(ours.getFileMetaData.getKeyValueMetaData.asScala ==
      theirs.getFileMetaData.getKeyValueMetaData.asScala)
    assert(ours.getBlocks.isEmpty && theirs.getBlocks.isEmpty)
    assert(ParquetFooters.schema(spark, Seq(s"$stRoot/g=0")) ==
      ParquetFooters.schema(spark, Seq(sparkDir)))
    assert(st.knownEmpty && st.read().isEmpty)
    assert(st.read().schema == spark.read.parquet(sparkDir).schema)
    // a first delta validates against the empty base's schema
    st.commitDelta(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "a", null, null, null, null, null, null, null, "U"))),
      schema.add(StructField(st.OpCol, StringType))), 2L)
    assert(st.read().count() == 1)
  }
}
