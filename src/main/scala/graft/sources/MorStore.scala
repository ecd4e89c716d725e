package graft.sources

import scala.collection.immutable.BitSet

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Merge-on-read table — the write-cheap half of the CoW/MoR
  * trade-off the engine's CDC merge
  * ([[graft.operators.CdcMerge]], copy-on-write: reads stay pure
  * scans, every merge rewrites affected data) leaves open. Here a
  * merge COMMITS ONLY ITS DELTA — O(batch) write regardless of table
  * size — and the read path resolves base ∪ deltas on the fly:
  *
  *   latest  = newest delta row per key (ordered by delta generation)
  *   result  = (base ▷ touched-keys) ∪ latest upserts
  *
  * The resolve's window runs over the DELTAS ONLY (small between
  * compactions) and the anti join's key set is delta-sized (AQE
  * broadcasts it), so read overhead tracks the accumulated delta
  * volume — which [[compact]] folds back into a new base generation
  * (one relational job), resetting read cost. That is exactly the
  * Iceberg/Delta MoR lifecycle: cheap commits, periodic compaction.
  *
  * Delta schema = base schema + `__op` ∈ {U, D}: U upserts the full
  * row (insert-or-replace — a U on a previously deleted key
  * resurrects it), D deletes the key. A delta may also carry `__seq`
  * (intra-batch order) when one CDC batch holds SEVERAL events for a
  * key — the resolve breaks generation ties on it, so a U then D in
  * one batch deterministically deletes. Without `__seq`, keys must be
  * unique within a delta; [[commitDelta]] VALIDATES whichever
  * contract applies (and that every `__op` is a recognized verb)
  * against the just-written files and refuses the commit otherwise —
  * an unrecognized op or an unordered same-key tie would silently
  * resolve as a delete / a coin flip (ADVICE r8). Each generation
  * `g=N` is published by its [[CommitLog]] entry `_log/N.json`
  * (generation, ts, kind); the protocol and the visibility rule are
  * the log's, so a generation is either fully visible or absent and a
  * crash mid-commit leaves the previous cut intact.
  */
class MorStore(spark: SparkSession, root: String, keyCols: Seq[String]) {

  val OpCol = "__op"
  val SeqCol = "__seq"

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def genDir(v: Long) = new Path(root, s"g=$v")

  /** Generation `g`'s files, schema from a driver footer read (no job). */
  private def readGen(g: Long): DataFrame = ParquetFooters.read(spark, Seq(genDir(g).toString))

  private[graft] val log = new CommitLog[MorStore.Entry](spark, root, "_log")

  // ── commit ──────────────────────────────────────────────────────────

  /** Commit a full base generation (initial load or compaction
    * output). Returns the generation.
    */
  def commitBase(df: DataFrame, commitTsMillis: Long): Long = {
    val g = log.nextId()
    log.append(MorStore.Entry(g, commitTsMillis, "base", Some(write(g, df))))
    g
  }

  /** Commit an empty base generation of `schema` — a side-store's
    * bootstrap or reset — as one footer-only parquet file written on the
    * driver: what an empty Spark write leaves, with no Spark job. Logged
    * with 0 rows, so the store is [[knownEmpty]] after it. Returns the
    * generation.
    */
  private[graft] def commitEmptyBase(schema: StructType, commitTsMillis: Long): Long = {
    val g = log.nextId()
    fs.delete(genDir(g), true) // orphan from a crashed commit
    GraftFooterBridge.writeEmpty(spark, spark.sparkContext.hadoopConfiguration,
      new Path(genDir(g), "part-00000.parquet"), schema)
    log.append(MorStore.Entry(g, commitTsMillis, "base", Some(0L)))
    g
  }

  /** Write generation `g`; returns its row count, which rides the write
    * itself (an Observation metric, no second job).
    */
  private def write(g: Long, df: DataFrame): Long = {
    fs.delete(genDir(g), true) // orphan from a crashed commit
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(genDir(g).toString)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Commit a CDC delta (schema = base + `__op`, optional `__seq`).
    * O(|delta|) write — the table is never rewritten. The delta
    * contract is validated against the WRITTEN files (one cheap
    * re-scan of the fresh parquet — the input plan is not recomputed)
    * before the generation becomes visible; violations abort with the
    * generation directory still invisible (no log entry). A store
    * with no generation yet first commits an EMPTY base of the delta's
    * row schema under the same ts ([[commitEmptyBase]]), so a first
    * delta needs no special casing in the caller. `buckets`, when given,
    * is logged on the delta's entry: the CoW home buckets its keys hash
    * to, which a drain reads back ([[loggedBucketsSinceBase]]).
    */
  def commitDelta(delta: DataFrame, commitTsMillis: Long,
      allowEvolution: Boolean = false, buckets: Option[BitSet] = None): Long =
    commitChain(Seq((delta, commitTsMillis, buckets)), allowEvolution).head

  /** Fail unless every __op ∈ {U, D}, (key ++ __seq-if-present) is
    * unique (one aggregation job over the just-written generation),
    * and the delta's row columns match the base schema exactly — an
    * extra column (e.g. a partition column a DLQ read infers) would
    * otherwise surface later as an unrelated union-arity error in the
    * resolve, far from the commit that caused it. Every schema here is
    * read from footers on the driver, so the aggregation is the one job.
    */
  private def validateDeltaFiles(dest: Path, allowEvolution: Boolean): Unit = {
    val written = ParquetFooters.read(spark, Seq(dest.toString))
    generations().filter(_._2 == "base").map(_._1).lastOption.foreach { bg =>
      val baseSchema = ParquetFooters.schema(spark, Seq(genDir(bg).toString))
      val baseCols = baseSchema.fieldNames.toSet
      val rowCols = written.columns
        .filterNot(c => c == OpCol || c == SeqCol).toSet
      // evolution admits EXTRA columns (they become table columns, old
      // rows surface NULL — the v21 schema-on-read contract on the MoR
      // stack); a delta MISSING base columns is always malformed
      val ok = if (allowEvolution) baseCols.subsetOf(rowCols)
               else rowCols == baseCols
      if (!ok) {
        fs.delete(dest, true)
        throw new IllegalArgumentException(
          s"delta rejected: row columns differ from the base schema " +
            s"(extra: ${(rowCols -- baseCols).toSeq.sorted.mkString(",")}; " +
            s"missing: ${(baseCols -- rowCols).toSeq.sorted.mkString(",")})")
      }
      // a TYPE-drifted column (upstream ALTER int→bigint) would not
      // fail here but deep in the resolve's multi-path scan, far from
      // its cause — and vanilla parquet scans cannot read int32 files
      // as int64 anyway. Reject at the commit with the fix spelled
      // out: widening drift → promote() first; anything else → manual.
      // The EFFECTIVE schema is base ++ columns added by earlier
      // deltas (evolution), each one footer read on the driver (no
      // Spark job) — checking only the base would let delta-vs-delta
      // drift on an evolved column through to the resolve, the exact
      // far-from-cause failure this guard exists to prevent.
      val effective = scala.collection.mutable.Map[String, org.apache.spark
        .sql.types.DataType](baseSchema.fields.toIndexedSeq.map(f => f.name -> f.dataType): _*)
      generations().collect { case (g, "delta") if g > bg => g }.foreach { dg =>
        ParquetFooters.schema(spark, Seq(genDir(dg).toString)).fields
          .filterNot(f => f.name == OpCol || f.name == SeqCol)
          .foreach(f => effective.getOrElseUpdate(f.name, f.dataType))
      }
      written.schema.fields
        .filter(f => effective.contains(f.name) &&
          f.name != OpCol && f.name != SeqCol).foreach { f =>
          val bt = effective(f.name)
          if (bt != f.dataType) {
            fs.delete(dest, true)
            val hint =
              if (graft.operators.SchemaEvolution.isWidening(bt, f.dataType))
                s"widening drift — run promote(${f.name}, ${f.dataType.simpleString}) first"
              else "not a widening — route to the manual evolution channel"
            throw new IllegalArgumentException(
              s"delta rejected: column '${f.name}' is ${f.dataType.simpleString} " +
                s"but the table holds ${bt.simpleString} ($hint)")
          }
        }
    }
    // NULL-safe op check: `isin` on a null __op yields NULL, so a bare
    // !isin never flags it — and a committed null-op row that wins the
    // per-key window would then be EXCLUDED by the resolve's
    // `__op === "U"` filter, silently deleting the key (the exact
    // failure this validator's message claims to prevent). coalesce
    // pins null to "bad", and the reported value substitutes a marker
    // (max(null) would erase the flag it just raised).
    val tieCols = keyCols ++ (if (written.columns.contains(SeqCol)) Seq(SeqCol) else Nil)
    val badOp = !coalesce(col(OpCol).isin("U", "D"), lit(false))
    val viol = written
      .groupBy(tieCols.map(col): _*)
      .agg(count(lit(1)).as("__c"),
        max(when(badOp, coalesce(col(OpCol), lit("<null>")))).as("__badOp"))
      .filter(col("__c") > 1 || col("__badOp").isNotNull)
      .limit(1).collect()
    if (viol.nonEmpty) {
      fs.delete(dest, true)
      val r = viol.head
      throw new IllegalArgumentException(
        if (r.getAs[Any]("__badOp") != null)
          s"delta rejected: unrecognized $OpCol '${r.getAs[String]("__badOp")}' " +
            "(must be U or D) — an unknown verb would silently act as a delete"
        else
          s"delta rejected: ${r.getLong(r.fieldIndex("__c"))} rows share key " +
            s"(${tieCols.mkString(", ")}) — add $SeqCol to order same-key " +
            "events within one batch, or the winner is nondeterministic")
    }
  }

  /** Commit a CHAIN of CDC deltas in one call: the generation
    * directories are staged as concurrent Spark writes (guide §2.6 —
    * a staged `g=N` is invisible until its log entry publishes it),
    * then validated AND published strictly in input order. Validation
    * order is what keeps this externally indistinguishable from N
    * sequential [[commitDelta]]s: when delta i validates, deltas 0..i-1
    * are already logged, so the effective-schema walk and the
    * base-schema guard see exactly the store state a sequential
    * caller's would. Same crash contract (unlogged staged dirs are
    * orphans the next commit's delete clears). Callers must pass
    * deltas that do not read this store.
    */
  def commitDeltaAll(deltas: Seq[(DataFrame, Long)],
      allowEvolution: Boolean = false): Seq[Long] =
    commitChain(deltas.map { case (d, ts) => (d, ts, None) }, allowEvolution)

  private def commitChain(deltas: Seq[(DataFrame, Long, Option[BitSet])],
      allowEvolution: Boolean): Seq[Long] = {
    deltas.foreach { case (d, _, _) =>
      require(d.columns.contains(OpCol), s"delta must carry $OpCol in {U, D}") }
    if (deltas.nonEmpty && isEmpty) {
      val (d, ts, _) = deltas.head
      commitEmptyBase(StructType(d.schema.filterNot(f => f.name == OpCol || f.name == SeqCol)), ts)
    }
    val base = log.nextId()
    val rows = graft.operators.Overlap.inParallel(
      deltas.zipWithIndex.map { case ((df, _, _), i) => () => write(base + i, df) })
    deltas.zipWithIndex.map { case ((_, ts, buckets), i) =>
      val g = base + i
      validateDeltaFiles(genDir(g), allowEvolution)
      log.append(MorStore.Entry(g, ts, "delta", Some(rows(i)), buckets.map(MorStore.encodeBuckets)))
      g
    }
  }

  /** [[commitDelta]] with DEAD-LETTER routing instead of rejection —
    * the operational posture for a continuously-running pipeline: one
    * poison row must not stall the stream. Rows violating the delta
    * contract divert to the store's DLQ (`_dlq/ts=<ts>`, parquet,
    * with a `__reason` column) and the clean remainder commits
    * normally. Reasons, in precedence order:
    *  - `bad_op`: __op outside {U, D} (would silently delete);
    *  - `dup_key`: among the good-op rows, several share a key with
    *    no `__seq` to order them — ALL copies are poison (which one
    *    the producer meant is unknowable), so the key stays at its
    *    previous state rather than flipping a coin.
    * An all-poison batch still commits an EMPTY delta so the batch id
    * lands in the log and the exactly-once replay check holds.
    * Returns (generation, dlqRowCount).
    */
  def commitDeltaLenient(delta: DataFrame, commitTsMillis: Long): (Long, Long) = {
    require(delta.columns.contains(OpCol),
      s"delta must carry $OpCol")
    val tieCols = keyCols ++
      (if (delta.columns.contains(SeqCol)) Seq(SeqCol) else Nil)
    val w = Window.partitionBy(tieCols.map(col): _*)
    // NULL-safe: a null __op must land in the DLQ as bad_op, not fall
    // through BOTH filters (a bare !isin is NULL for null input, so the
    // row would be neither poison nor clean — silently dropped)
    val marked = delta
      .withColumn("__bad_op", !coalesce(col(OpCol).isin("U", "D"), lit(false)))
      .withColumn("__k_dups",
        count(when(!col("__bad_op"), 1)).over(w))
    val poison = marked.filter(col("__bad_op") || col("__k_dups") > 1)
      .withColumn("__reason",
        when(col("__bad_op"), "bad_op").otherwise("dup_key"))
      .drop("__bad_op", "__k_dups")
    val dlqDest = new Path(root, s"_dlq/ts=$commitTsMillis")
    poison.write.mode("overwrite").parquet(dlqDest.toString)
    val dlqCount = spark.read.parquet(dlqDest.toString).count()
    val clean = marked.filter(!col("__bad_op") && col("__k_dups") <= 1)
      .drop("__bad_op", "__k_dups")
    (commitDelta(clean, commitTsMillis), dlqCount)
  }

  /** The accumulated dead-letter rows (all lenient commits). The
    * `ts=<batch>` directory layout surfaces as an inferred `ts`
    * partition column — metadata identifying the quarantining batch;
    * DROP it (and `__reason`) before re-committing repaired rows, or
    * the commit-time schema guard rejects the delta.
    */
  def readDlq(): DataFrame = {
    val d = new Path(root, "_dlq")
    require(fs.exists(d), s"no DLQ at $root (no lenient commit diverted rows)")
    spark.read.option("mergeSchema", "true").parquet(d.toString)
  }

  /** Physically REMOVE DLQ rows matching `pred` — the quarantine area
    * holds raw quarantined data, so a right-to-be-forgotten sweep
    * must reach it too (deleting a user from the live table while
    * their rows sit readable in `_dlq` is not deletion). Each batch
    * partition is rewritten without the matching rows via a
    * temp-and-swap (a crash mid-purge leaves either the old or the
    * new complete partition, never a torn one). Returns the number of
    * rows removed.
    */
  def purgeDlq(pred: org.apache.spark.sql.Column): Long = {
    val d = new Path(root, "_dlq")
    require(fs.exists(d), s"no DLQ at $root")
    var removed = 0L
    fs.listStatus(d).filter(_.getPath.getName.startsWith("ts=")).foreach { st =>
      val part = st.getPath
      val cur = spark.read.parquet(part.toString)
      val hits = cur.filter(pred).count()
      if (hits > 0) {
        removed += hits
        val keep = cur.filter(!pred)
        val tmp = new Path(d, s".${part.getName}.purging")
        fs.delete(tmp, true)
        keep.write.mode("overwrite").parquet(tmp.toString)
        fs.delete(part, true)
        require(fs.rename(tmp, part), s"DLQ purge swap failed for $part")
      }
    }
    removed
  }

  /** (generation, kind) pairs of every logged generation, ascending. */
  private[graft] def generations(): Seq[(Long, String)] =
    log.entries().map(e => e.generation -> e.kind)

  /** O(1) amortized: was any generation committed with this ts? */
  def tsCommitted(ts: Long): Boolean = log.tsCommitted(ts)

  /** The commit ts of the next side-store commit (CDC pipeline and
    * merge planner alike): wall-clock ms, strictly above every ts handed
    * out in this JVM and not yet logged here, so each commit carries its
    * own ts. MoR commits do not check their ts; this keeps
    * [[tsCommitted]] an unambiguous per-commit lookup.
    */
  private[graft] def freshTs(): Long = {
    var t = math.max(System.currentTimeMillis(), MorStore.lastTs.get() + 1L)
    while (tsCommitted(t)) t += 1L
    MorStore.lastTs.set(t)
    t
  }

  /** True before the first commit. */
  def isEmpty: Boolean = log.head().isEmpty

  /** True when the log alone shows the store resolves to no row: no
    * commit yet, or the head is a base logged with 0 rows (a drain's
    * reset). Reads one log entry, no data file, and starts no Spark job;
    * an entry written without a row count is never known empty.
    */
  def knownEmpty: Boolean = log.head().forall { n =>
    val e = log.read(n)
    e.kind == "base" && e.rows.contains(0L)
  }

  /** Rows logged from the newest base onward: an upper bound on the rows
    * of [[netChanges]], from the log alone (no data file, no Spark job).
    * None before the first commit, or when an entry carries no count.
    */
  private[graft] def loggedRowsSinceBase: Option[Long] = {
    val fromBase = entriesSinceBase
    if (fromBase.isEmpty || fromBase.exists(_.rows.isEmpty)) None
    else Some(fromBase.flatMap(_.rows).sum)
  }

  /** The union of the bucket sets logged from the newest base onward:
    * every CoW home bucket [[netChanges]] touches, from the log alone. A
    * base logged with 0 rows adds none. None before the first commit, or
    * when an entry carries no set (a delta committed without one, or a
    * base with rows).
    */
  private[graft] def loggedBucketsSinceBase: Option[BitSet] = {
    val fromBase = entriesSinceBase
    val sets = fromBase.filterNot(e => e.kind == "base" && e.rows.contains(0L))
      .map(_.buckets.map(MorStore.decodeBuckets))
    if (fromBase.isEmpty || sets.exists(_.isEmpty)) None
    else Some(sets.flatten.foldLeft(BitSet.empty)(_ | _))
  }

  private def entriesSinceBase: Seq[MorStore.Entry] = {
    val es = log.entries()
    es.drop(es.lastIndexWhere(_.kind == "base").max(0))
  }

  // ── read (the MoR resolve) ──────────────────────────────────────────

  /** Current table state: newest base, with every later delta
    * applied in commit order.
    */
  def read(): DataFrame = {
    val gens = generations()
    require(gens.nonEmpty, s"empty MoR table at $root")
    readGens(gens)
  }

  /** Table state AS OF generation `upTo` — the resolve over only the
    * generations ≤ `upTo`. This is what lets a [[TableCatalog]] pin a
    * MoR member to a cross-table cut: the catalog records the MoR
    * generation, not a data copy, and later delta commits do not
    * disturb older catalog generations.
    */
  def readAt(upTo: Long): DataFrame = {
    val gens = generations().filter(_._1 <= upTo)
    require(gens.nonEmpty, s"no MoR generation <= $upTo at $root")
    readGens(gens)
  }

  private def readGens(gens: Seq[(Long, String)]): DataFrame = {
    val baseGen = gens.filter(_._2 == "base").map(_._1).lastOption
      .getOrElse(throw new IllegalStateException(s"no base generation at $root"))
    val base = readGen(baseGen)
    val deltaGens = gens.collect { case (g, "delta") if g > baseGen => g }
    if (deltaGens.isEmpty) base
    else {
      // ONE multi-path scan for the whole delta stack, generation
      // recovered from the file path — a per-generation scan union
      // costs d FileScans and a d-deep plan, which measured 17.9×
      // the base scan at depth 100 (10M tier) before this; one scan
      // keeps resolve cost proportional to delta VOLUME, not count
      // anchored to the file's PARENT directory ($-anchored), not the
      // first g= anywhere in the path — a store rooted under a user
      // path that itself contains "/g=N/" must not mis-recover
      val deltas = ParquetFooters.read(spark, deltaGens.map(g => genDir(g).toString), merge = true)
        .withColumn(ChangeGenCol, regexp_extract(
          col("_metadata.file_path"), "/g=(\\d+)/[^/]+$", 1).cast("long"))
      // the deltas are a changefeed over the base: newest delta row per
      // key wins, generation ties (several events for one key INSIDE one
      // batch) break on __seq, which commitDelta guarantees exists
      // whenever a tie is possible — the resolve is deterministic, so
      // resolve ≡ compact holds. An evolved delta widened the schema:
      // pre-evolution base rows surface NULL for the new columns
      // (commit-time validation still rejects stray columns unless the
      // commit explicitly evolved, so this leniency can't mask typos)
      MorStore.applyChanges(Some(base), deltas, keyCols)
    }
  }

  /** Fold base + deltas into a fresh base generation (compaction):
    * read cost resets to a pure scan; old generations stay
    * addressable until a retention pass removes them.
    */
  def compact(commitTsMillis: Long): Long =
    commitBase(read(), commitTsMillis)

  // ── change data feed ────────────────────────────────────────────────

  /** Marks which generation a changefeed row came from (ordering key
    * for [[MorStore.applyChanges]]).
    */
  val ChangeGenCol = "__change_gen"

  /** CHANGE DATA FEED: the row-level changes that move a consumer
    * from generation `fromExclusive`'s state to `toInclusive`'s —
    * O(|changes|) reads of exactly the delta generations in the
    * window, never a table scan (the Delta-CDF / Iceberg
    * incremental-read shape; this is what lets a downstream rollup
    * at 100 TB refresh from a day's CDC instead of re-reading ten
    * years). Rows carry `__op` ∈ {U, D}, `__seq` when the source
    * delta had one, and [[ChangeGenCol]] for ordering. Window rules:
    *  - delta generation → its rows verbatim;
    *  - COMPACTION base → nothing (resolve(g) ≡ resolve(g−1): a fold
    *    is physically new but logically change-free);
    *  - the OLDEST visible generation, when `fromExclusive` lies
    *    before it (pass -1 for "from the beginning") → its rows as U
    *    upserts: the initial snapshot of the snapshot+changes
    *    protocol, which stays correct after a vacuum reclaimed the
    *    pre-compaction history.
    * `fromExclusive` must be -1 or a visible generation — a consumer
    * resuming from a vacuumed-away generation cannot know which
    * changes it missed, so the read REFUSES rather than silently
    * skipping history.
    */
  def changesBetween(fromExclusive: Long, toInclusive: Long): DataFrame = {
    val gens = generations()
    require(gens.nonEmpty, s"empty MoR table at $root")
    require(fromExclusive <= toInclusive,
      s"bad window ($fromExclusive, $toInclusive]")
    require(gens.exists(_._1 == toInclusive),
      s"generation $toInclusive not visible at $root")
    require(fromExclusive == -1L || gens.exists(_._1 == fromExclusive),
      s"changefeed resume point $fromExclusive is not a visible " +
        s"generation (vacuumed away?) — restart from -1")
    val oldest = gens.head._1
    val window = gens.filter { case (g, _) =>
      g > fromExclusive && g <= toInclusive }
    val parts = window.flatMap {
      case (g, "delta") =>
        Some(readGen(g).withColumn(ChangeGenCol, lit(g)))
      case (g, _) if g == oldest && fromExclusive < oldest =>
        Some(readGen(g).withColumn(OpCol, lit("U")).withColumn(ChangeGenCol, lit(g)))
      case _ => None
    }
    if (parts.isEmpty)
      read().limit(0).withColumn(OpCol, lit("U"))
        .withColumn(ChangeGenCol, lit(-1L))
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The NET per-key change of the whole visible history: each touched
    * key's LATEST (row, `__op`) — U for a key whose final state is a
    * live row, D for one whose final event deleted it. This is the
    * drain/replication primitive ([[graft.operators.MergePlanner
    * .drain]]): applying these rows as one CDC batch to another keyed
    * store reproduces this store's head INCLUDING its deletes, which
    * [[read]] (live rows only) cannot express. One window over the
    * changefeed — O(|history|), amortized over however many scattered
    * batches accumulated.
    */
  def netChanges(): DataFrame = {
    val gens = generations()
    require(gens.nonEmpty, s"empty MoR table at $root")
    val head = gens.last._1
    // The newest BASE is the snapshot floor — the same visibility cut
    // read() uses. changesBetween(-1, …) would be WRONG here: it
    // treats mid-stream bases as change-free compaction folds and
    // keeps emitting the deltas behind them, so a drain's reset-base
    // (which DOES change the resolve, to empty) would resurrect the
    // drained scatter.
    val floor = gens.filter(_._2 == "base").map(_._1)
      .lastOption.getOrElse(gens.head._1)
    val baseAsU = readAt(floor).withColumn(OpCol, lit("U"))
      .withColumn(ChangeGenCol, lit(floor))
    MorStore.latestOf(
      baseAsU.unionByName(changesBetween(floor, head),
        allowMissingColumns = true), keyCols)
      .drop(ChangeGenCol)
  }

  /** WIDENING type promotion (upstream ALTER int→bigint and friends):
    * one compaction with the cast folded in — the only correct shape
    * on vanilla parquet, whose scans cannot read int32 files as int64,
    * so a zero-rewrite promotion would poison every later resolve.
    * O(table), amortized by scheduling it with the compaction the
    * delta stack needs anyway. Narrowing refuses (silent truncation);
    * after the promote, deltas in the WIDE type commit normally.
    */
  def promote(colName: String, to: org.apache.spark.sql.types.DataType,
      commitTsMillis: Long): Long = {
    val cur = read()
    require(cur.columns.contains(colName), s"no column '$colName'")
    val from = cur.schema(colName).dataType
    require(graft.operators.SchemaEvolution.isWidening(from, to),
      s"promote($colName): ${from.simpleString} → ${to.simpleString} is not " +
        "widening — a lossy change must go through the manual channel")
    commitBase(cur.withColumn(colName, col(colName).cast(to)), commitTsMillis)
  }

  /** Retention: drop every generation strictly below the newest BASE
    * at or before `upTo` — the oldest generation any read at ≥ `upTo`
    * can touch. Time travel to generations ≥ `upTo` is untouched;
    * reads below it become impossible (that is the point — storage is
    * reclaimed). Returns the dropped generation numbers. The head,
    * numbering, and later commits are unaffected (generation numbers
    * never recycle because numbering comes from the surviving log).
    */
  def vacuumBefore(upTo: Long): Seq[Long] = {
    val gens = generations()
    val keepFrom = gens.filter { case (g, k) => k == "base" && g <= upTo }
      .map(_._1).lastOption
      .getOrElse(throw new IllegalStateException(
        s"no base generation at or before $upTo — nothing can be dropped safely"))
    val dropped = gens.map(_._1).filter(_ < keepFrom)
    dropped.foreach { g =>
      fs.delete(genDir(g), true)
      log.delete(g)
    }
    dropped
  }
}

object MorStore {

  /** One `_log/N.json` entry; `kind` is "base" or "delta"; `rows` is
    * the generation's row count (None in entries written before it was
    * recorded); `buckets` is a side-store delta's CoW home bucket set
    * ([[encodeBuckets]]; None when the commit had none, and in entries
    * written before it was recorded).
    */
  final case class Entry(generation: Long, ts: Long, kind: String,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) rows: Option[Long] = None,
      buckets: Option[String] = None)
      extends CommitLog.Entry {
    def id: Long = generation
  }

  /** A bucket set as a bitset in base64: one bit per bucket up to the
    * highest set, so at most `numBuckets / 8` bytes (50,000 at 400k
    * buckets) before the base64 text's 4/3.
    */
  private[graft] def encodeBuckets(b: BitSet): String =
    java.util.Base64.getEncoder.encodeToString(java.util.BitSet.valueOf(b.toBitMask).toByteArray)

  private[graft] def decodeBuckets(s: String): BitSet =
    BitSet.fromBitMaskNoCopy(java.util.BitSet.valueOf(java.util.Base64.getDecoder.decode(s)).toLongArray)

  private val lastTs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Newest change per key of a feed, ordered by (generation, seq). */
  private def latestOf(changes: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(changes.columns.contains("__op"),
      "not a changefeed: no __op column")
    require(changes.columns.contains("__change_gen"),
      "not a changefeed: no __change_gen column")
    val seqOrder =
      if (changes.columns.contains("__seq"))
        coalesce(col("__seq"), lit(0L)).desc
      else lit(0).desc
    changes.withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col("__change_gen").desc, seqOrder)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Consumer-side application of a [[MorStore.changesBetween]] feed:
    * fold `changes` into `state` (the consumer's copy of the table at
    * the feed's `fromExclusive` generation; None bootstraps from a
    * feed that starts with the initial snapshot). The resolve is the
    * store's own: newest change per key wins, ordered by
    * (`__change_gen`, `__seq`), D drops the key, U upserts the row —
    * so consumer state after apply ≡ the store's resolve at the
    * feed's `toInclusive` generation (spec-pinned). One window over
    * the CHANGES plus a changes-keyed anti join against state:
    * O(|state| + |changes|), the whole point of consuming a feed.
    */
  def applyChanges(state: Option[DataFrame], changes: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val latest = latestOf(changes, keyCols)
    val upserts = latest.filter(col("__op") === "U")
      .drop("__op", "__change_gen", "__seq")
    state match {
      case None => upserts
      case Some(st) =>
        st.join(latest.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(upserts, allowMissingColumns = true)
    }
  }

  /** Z-SET view of a changefeed for RETRACTABLE aggregate maintenance
    * ([[graft.operators.IncrementalView.mergeSigned]]): the NET
    * per-key transition of the window as signed rows — `-1` for each
    * touched key's OLD row (its pre-image, taken from the consumer's
    * own state at the feed's start — no store-side read
    * amplification), `+1` for each upserted NEW row. Folding these
    * into a grouped COUNT/SUM view moves a key BETWEEN groups
    * correctly (the case naive apply-new-rows aggregation gets
    * wrong), deletes retract, and intermediate flip-flops inside the
    * window cancel by construction because only the net transition is
    * emitted. Cost: one window over the changes + one semi join
    * against state — O(|state| + |changes|).
    */
  def signedChanges(state: DataFrame, changes: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val latest = latestOf(changes, keyCols)
    val minus = state
      .join(latest.select(keyCols.map(col): _*), keyCols, "left_semi")
      .withColumn("__sign", lit(-1L))
    val plus = latest.filter(col("__op") === "U")
      .drop("__op", "__change_gen", "__seq")
      .withColumn("__sign", lit(1L))
    minus.unionByName(plus, allowMissingColumns = true)
  }
}
