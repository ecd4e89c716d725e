package graft.sources

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table atomic commit — a catalog generation over N snapshot
  * tables, so a pipeline that rewrites several tables (orders AND
  * their lineitems, a corpus AND its manifest) exposes either the old
  * cut or the new cut of EVERY table, never a mix.
  *
  * [[SnapshotStore]] makes a single table's commit atomic; the
  * catalog lifts the same [[CommitLog]] one level: table data lives in
  * `tables/<name>/v=N` generation directories, but VISIBILITY is
  * resolved exclusively through catalog generation entries —
  * `_catalog/G.json` maps every table to the version that belongs to
  * cut G — and per-ref pointers (`_latest` for main, `_refs/<branch>`,
  * `_tags/<tag>`).
  *
  * Commit protocol:
  *   1. write every changed table's next `v=N` directory fully
  *      (cluster-parallel parquet jobs; crash here leaves orphan
  *      directories the next commit overwrites — invisible, since no
  *      catalog generation references them)
  *   2. append generation entry G (the [[CommitLog]] protocol),
  *      carrying forward unchanged tables' versions from the ref's head
  *   3. swing the ref's pointer to G ([[PointerFile]] atomic replace)
  * Readers resolve the head once, load one generation entry, and scan
  * immutable directories — snapshot isolation across tables for the
  * price of one O(tables) metadata file. A crash between steps 2 and 3
  * loses nothing: the log's visibility rule, applied per ref, heals
  * the head past the pointer ([[headOf]]). At 100 TB the data writes
  * parallelize across the cluster; steps 2-3 stay O(1) driver-side
  * metadata, the asymmetry that makes metadata-tree formats
  * (Iceberg/Delta/Nessie-style multi-table refs) scale.
  *
  * Commit timestamps are caller-provided, like [[SnapshotStore]]'s —
  * no hidden wall-clock reads.
  */
class TableCatalog(spark: SparkSession, root: String) {

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Per-INSTANCE memo of derived per-generation relations (e.g. the
    * unified index's aggregated kill floors): a generation is
    * immutable, so anything derived from one can be computed once and
    * reused by every later serve over this catalog handle. Keyed
    * (kind, generation); holders store ALREADY-MATERIALIZED frames
    * (localCheckpoint), whose executor blocks die with the instance
    * (ContextCleaner) — scoped to one query's catalog handle, so
    * nothing is ever reused across bench/verify runs (each run builds
    * a fresh catalog under a fresh nonce directory).
    */
  private[graft] val genScratch =
    scala.collection.concurrent.TrieMap.empty[(String, Long), DataFrame]

  private def tableDir(t: String, v: Long) = new Path(root, s"tables/$t/v=$v")
  private def morRootDir(t: String) = new Path(root, s"tables/$t/mor")
  private def morKeysFile(t: String) = new Path(root, s"tables/$t/_mor_keys")
  private[graft] val log =
    new CommitLog[TableCatalog.Generation](spark, root, "_catalog")
  private def gen(g: Long): TableCatalog.Generation = log.read(g)
  private def pointer = new Path(root, "_latest")
  private def refsDir = new Path(root, "_refs")
  private def refPath(ref: String): Path =
    if (ref == TableCatalog.Main) pointer else new Path(refsDir, ref)

  private def requireSafeName(t: String): Unit =
    require(t.matches("[A-Za-z0-9_.-]+"),
      s"table name '$t' outside [A-Za-z0-9_.-]+ — names become directory names")

  /** Per-root JVM-wide commit lock: all TableCatalog instances over
    * the same root (however many are constructed) serialize their
    * publish critical sections. Intrinsic monitor — reentrant, so DDL
    * methods that validate-then-publish can hold it across both.
    */
  private def commitLock: Object =
    TableCatalog.lockFor(fs.makeQualified(new Path(root)).toString)

  // ── commit ──────────────────────────────────────────────────────────

  /** Atomically commit all frames in `tables` as one catalog
    * generation; unchanged tables carry forward. Returns the new
    * generation number. Nothing becomes visible until the generation
    * entry lands. Concurrent commits are safe (staging is
    * nonce-isolated, version placement serializes) with
    * LAST-WRITER-WINS per table — a read-modify-write that must not
    * lose a concurrent update uses [[commitAllIf]] or [[transact]].
    */
  def commitAll(tables: Map[String, DataFrame], commitTsMillis: Long): Long = {
    val staged = stage(tables)
    publish(staged, commitTsMillis)
  }

  /** OPTIMISTIC-CONCURRENCY commit: publish only if the catalog still
    * sits at `expectedGeneration` (the generation the caller read its
    * inputs from — `None` for "catalog was empty"). Otherwise throws
    * [[TableCatalog.CommitConflictException]] WITHOUT publishing —
    * the caller re-reads and recomputes ([[transact]] wraps the
    * loop). The heavy data write happens before the check (staging is
    * nonce-isolated, so a loser's files never collide with the
    * winner's); only the metadata placement is serialized.
    */
  def commitAllIf(tables: Map[String, DataFrame], commitTsMillis: Long,
      expectedGeneration: Option[Long]): Long =
    publish(stage(tables), commitTsMillis,
      expectedPrev = Some(expectedGeneration))

  /** The OCC retry loop: `body` receives the snapshot generation it
    * should read from (None = empty catalog), derives the tables to
    * commit, and the commit lands only if no other writer advanced
    * the catalog in between — otherwise body re-runs against the
    * fresh snapshot, up to `maxAttempts`. Serializable
    * read-modify-write without locks held across the (arbitrarily
    * expensive) derivation.
    */
  def transact(commitTsMillis: Long, maxAttempts: Int = 5)(
      body: Option[Long] => Map[String, DataFrame]): Long = {
    require(maxAttempts >= 1, s"maxAttempts $maxAttempts < 1")
    var last: TableCatalog.CommitConflictException = null
    for (_ <- 1 to maxAttempts) {
      val snap = latestGeneration()
      try return commitAllIf(body(snap), commitTsMillis, snap)
      catch { case e: TableCatalog.CommitConflictException => last = e }
    }
    throw last
  }

  /** Step 1 only — write the generation directories, swing NOTHING.
    * Data lands under a writer-unique `stage-<nonce>` directory, so
    * two writers staging the SAME table never touch each other's
    * files (the version number doesn't exist yet — it is allocated at
    * [[publish]] under the commit lock, where the loser of a race
    * simply places at the next number). A crash here leaves orphan
    * stage directories no generation references — invisible, and
    * reclaimed by [[vacuum]]. Exposed so crash-recovery behavior is
    * testable.
    */
  private[graft] def stage(tables: Map[String, DataFrame]): Map[String, String] = {
    tables.keys.foreach(requireSafeName)
    def writeOne(t: String, df: DataFrame): (String, String) = {
      val stageName = s"stage-${java.util.UUID.randomUUID().toString.take(12)}"
      df.write.mode("overwrite")
        .parquet(new Path(root, s"tables/$t/$stageName").toString)
      t -> stageName
    }
    if (tables.size <= 1) tables.map { case (t, df) => writeOne(t, df) }
    else {
      // A multi-member commit's staged writes are INDEPENDENT (disjoint
      // nonce directories, nothing visible until publish), so they run
      // as concurrent Spark jobs instead of a driver-sequential chain:
      // the commit's write wall is the slowest member, not the sum of
      // all members — on a unified-index commit (6-7 batch-sized
      // relations per micro-batch) that is most of the commit latency,
      // and each job is far narrower than the cluster. A failed write
      // fails the whole stage (the commit never publishes) once every
      // sibling write has settled, so no write is still running when
      // the error surfaces; any sibling directory written is an
      // unreferenced orphan that the next vacuum reclaims — exactly the
      // crash contract above.
      graft.operators.Overlap.onPool(TableCatalog.stagingPool,
        tables.toSeq.map { case (t, df) => () => writeOne(t, df) }).toMap
    }
  }

  /** Steps 2–3 — make a staged version set visible atomically.
    * `morStaged` maps MoR member tables to the [[MorStore]]
    * generation that belongs to this cut (data already durable in the
    * member's own log — the catalog records a POINTER, never a copy).
    *
    * Runs under the per-root commit lock (same-JVM writers — the
    * Spark driver is where commits originate; a MULTI-driver
    * deployment needs a storage-level CAS such as HDFS
    * create-exclusive or an S3 conditional put in place of the lock,
    * same protocol shape). Inside the lock: version numbers are
    * allocated as max(latest reference, physical high-water mark)+1 —
    * the directory scan matters when a name left the versions map
    * (drop, rename-away) and is recommitted: restarting at 0 would
    * overwrite a directory older generations still reference — then
    * staged directories RENAME into place (metadata-cheap; the heavy
    * write already happened outside the lock), then the generation
    * entry is appended ([[CommitLog.append]]) and the ref swung.
    */
  private[graft] def publish(
      staged: Map[String, String], commitTsMillis: Long,
      morStaged: Map[String, Long] = Map.empty,
      cloned: Map[String, (String, Long)] = Map.empty,
      dropped: Set[String] = Set.empty,
      expectedPrev: Option[Option[Long]] = None,
      ref: String = TableCatalog.Main,
      appended: Map[String, String] = Map.empty,
      appendRestored: Map[String, Seq[Long]] = Map.empty): Long = commitLock.synchronized {
    val prev = headOf(ref)
    expectedPrev.foreach { exp =>
      if (prev != exp) {
        // loser's staged directories are orphans — reclaim them now
        // rather than waiting for vacuum (the caller will restage)
        (staged ++ appended).foreach { case (t, stageName) =>
          fs.delete(new Path(root, s"tables/$t/$stageName"), true) }
        throw new TableCatalog.CommitConflictException(exp, prev)
      }
    }
    // generation numbers are GLOBAL across refs (one shared log, so a
    // branch commit can never collide with a main commit's file); the
    // parent field records which generation this one extends, making
    // each ref's history a chain through the shared log
    val g = log.nextId()
    val prevVs = prev.map(tableVersions).getOrElse(Map.empty)
    // Name-collision guard ACROSS generations (commitAllWith guards only
    // within one call): a snapshot committed under a name that is
    // already a MoR member — or a MoR member committed over an existing
    // snapshot name — would leave both entries live, and readAt's
    // snapshot-first preference would silently shadow the other. The
    // staged directories are reclaimed before raising, matching the
    // OCC-conflict path above.
    val prevMor = prev.map(morVersions).getOrElse(Map.empty)
    val prevApp = prev.map(appendVersions).getOrElse(Map.empty)
    val snapOverMor = (staged.keySet ++ cloned.keySet ++ appended.keySet ++
      appendRestored.keySet)
      .intersect(prevMor.keySet -- dropped -- morStaged.keys)
    val morOverSnap = morStaged.keySet
      .intersect((prevVs.keySet ++ prevApp.keySet) -- dropped --
        staged.keys -- cloned.keys -- appended.keys -- appendRestored.keys)
    if (snapOverMor.nonEmpty || morOverSnap.nonEmpty) {
      (staged ++ appended).foreach { case (t, stageName) =>
        fs.delete(new Path(root, s"tables/$t/$stageName"), true) }
      throw new IllegalArgumentException(
        s"commit rejected: ${(snapOverMor ++ morOverSnap).toSeq.sorted.mkString(", ")} " +
          "would exist as BOTH snapshot and MoR member — readAt would " +
          "silently prefer the snapshot and shadow the member (drop the " +
          "old entry in the same commit to convert a table's kind)")
    }
    def place(dirs: Map[String, String]): Map[String, Long] =
      dirs.map { case (t, stageName) =>
        val tdir = new Path(root, s"tables/$t")
        val dirMax = fs.listStatus(tdir).map(_.getPath.getName)
          .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
          .foldLeft(-1L)(math.max)
        val v = math.max(prevVs.get(t).map(_ + 1).getOrElse(0L), dirMax + 1)
        require(fs.rename(new Path(tdir, stageName), tableDir(t, v)),
          s"stage placement failed: $t/$stageName -> v=$v")
        t -> v
      }
    val placed = place(staged)
    // APPEND-member segments: the staged directory holds ONE BATCH; the
    // generation's self-contained chain = the new segment plus every
    // segment the previous generation served — or, when the name was
    // last committed as a snapshot (a compaction fold), that snapshot
    // version as the chain's base. A snapshot/clone commit under the
    // name resets the kind (the chain entry is dropped below), which
    // is how a compaction transact folds a chain back to one segment.
    val appPlaced = place(appended)
    val appLists: Map[String, Seq[Long]] =
      (prevApp -- dropped -- staged.keys -- cloned.keys) ++
        appendRestored ++
        appPlaced.map { case (t, v) =>
          val base = prevApp.get(t)
            .orElse(prevVs.get(t).map(Seq(_)))
            .getOrElse(Seq.empty)
          t -> (v +: base)
        }
    val versions = (prevVs -- dropped -- appPlaced.keys -- appendRestored.keys) ++
      placed ++ cloned.map { case (t, (_, v)) => t -> v }
    val morVs = (prevMor -- dropped) ++ morStaged
    // location indirection: a CLONE's data lives under its SOURCE's
    // physical directory; a staged (freshly written) table always
    // lives under its own name, so a post-clone write resets the entry
    val locs = (prev.map(tableLocations).getOrElse(Map.empty) --
      placed.keys -- appPlaced.keys -- dropped) ++
      cloned.map { case (t, (src, _)) => t -> src }
    // chains encode as dash-joined strings ("9-7-3", newest first)
    log.append(TableCatalog.Generation(g, commitTsMillis, ref,
      Some(prev.getOrElse(-1L)), versions, morVs,
      appLists.map { case (t, vs) => t -> vs.mkString("-") }, locs))
    refCache.put(g, ref)
    swingRef(ref, g)
    g
  }

  /** ZERO-COPY CLONE: `dst` becomes a new catalog table whose data IS
    * `src`'s current version — one metadata entry, no data movement
    * (at 100 TB, the difference between an O(1) commit and a full
    * rewrite; the Delta/Iceberg `CREATE TABLE … CLONE` shape). The
    * clone is a genuine table from then on: later commits to `src`
    * never disturb it (versions are immutable directories), and a
    * write to `dst` diverges it under its own directory. A clone of a
    * clone resolves to the PHYSICAL source, so indirection stays one
    * hop deep forever. `dst` must be a fresh name — cloning onto an
    * existing table would make its version sequence jump backward
    * into another table's directory and corrupt time travel. Vacuum
    * is clone-aware: a kept generation referencing `dst` pins the
    * underlying source version directory (see [[vacuum]]).
    */
  def cloneTable(src: String, dst: String, commitTsMillis: Long): Long = {
    requireSafeName(dst)
    val g = latestGeneration().getOrElse(
      throw new IllegalStateException(s"empty catalog at $root — nothing to clone"))
    val vs = tableVersions(g)
    require(vs.contains(src),
      s"clone source '$src' is not a snapshot table of generation $g" +
        (if (morVersions(g).contains(src))
          " (it is a MoR member — compact it into a snapshot first)" else ""))
    require(!vs.contains(dst) && !morVersions(g).contains(dst),
      s"clone target '$dst' already exists — a clone must be a fresh name")
    require(!fs.exists(new Path(root, s"tables/$dst")),
      s"clone target '$dst' has a residual data directory")
    val physical = tableLocations(g).getOrElse(src, src)
    publish(Map.empty, commitTsMillis,
      cloned = Map(dst -> (physical, vs(src))))
  }

  /** Atomic metadata-only RENAME: `to` appears pointing at `from`'s
    * physical data, `from` disappears — ONE generation, zero data
    * movement (DDL rename at the catalog level; the reference renames
    * physical tables, this renames a pointer). Time travel is
    * untouched: generations before the rename still read the OLD
    * name. Same freshness constraints as [[cloneTable]].
    */
  def renameTable(from: String, to: String, commitTsMillis: Long): Long = {
    requireSafeName(to)
    val g = latestGeneration().getOrElse(
      throw new IllegalStateException(s"empty catalog at $root"))
    val vs = tableVersions(g)
    require(vs.contains(from), s"rename source '$from' not in generation $g")
    require(!vs.contains(to) && !morVersions(g).contains(to),
      s"rename target '$to' already exists")
    require(!fs.exists(new Path(root, s"tables/$to")),
      s"rename target '$to' has a residual data directory")
    val physical = tableLocations(g).getOrElse(from, from)
    publish(Map.empty, commitTsMillis,
      cloned = Map(to -> (physical, vs(from))), dropped = Set(from))
  }

  /** Atomic RESTORE: the next generation's table map becomes
    * generation `g`'s — every snapshot table re-points at its
    * g-version directory through the clone indirection (ZERO data
    * movement — at 100 TB, the difference between an O(tables)
    * metadata commit and a full rewrite), tables created after `g`
    * disappear, tables dropped since `g` reappear, and MoR members
    * roll their delta pointers back (delta files are immutable and
    * append-only, so an old pointer is always readable). History is
    * untouched: RESTORE is a NEW generation (the Delta `RESTORE
    * TABLE … VERSION AS OF` shape catalog-wide), so the mistake being
    * undone stays time-travelable for audit and reclaimable by
    * vacuum, and a restore of the restore is just another commit.
    */
  def restore(g: Long, commitTsMillis: Long): Long = {
    require(loggedGenerations().contains(g),
      s"generation $g is not in the log (vacuumed or never committed)")
    val head = latestGeneration().getOrElse(
      throw new IllegalStateException(s"empty catalog at $root"))
    val vs = tableVersions(g)
    val locs = tableLocations(g)
    // drop the ENTIRE head table map and re-add g's through the clone
    // path: kind changes since g (snapshot↔MoR under one name) then
    // can't trip publish's cross-kind shadow guard. Append members
    // restore by chain copy — g's chain directories are immutable, so
    // re-recording the list IS the zero-copy restore.
    val headTables = tableVersions(head).keySet ++ morVersions(head).keySet ++
      appendVersions(head).keySet
    publish(Map.empty, commitTsMillis,
      morStaged = morVersions(g),
      cloned = vs.map { case (t, v) => t -> (locs.getOrElse(t, t), v) },
      dropped = headTables,
      appendRestored = appendVersions(g))
  }

  /** Atomic DROP: the table vanishes from the NEXT generation (one
    * metadata commit, no data deletion — earlier generations still
    * time-travel to it; [[vacuum]] reclaims the data once no kept
    * generation references it, clone/rename references included).
    */
  def dropTable(t: String, commitTsMillis: Long): Long = {
    val g = latestGeneration().getOrElse(
      throw new IllegalStateException(s"empty catalog at $root"))
    require(memberNames(g).contains(t), s"table '$t' not in generation $g")
    publish(Map.empty, commitTsMillis, dropped = Set(t))
  }

  // ── MoR members ─────────────────────────────────────────────────────

  /** Open (creating key metadata on first use) the MoR member table
    * `t` — a [[MorStore]] rooted INSIDE the catalog's layout, whose
    * generations catalog cuts then reference by number. Key columns
    * are fixed at creation; reopening with different keys fails.
    */
  def morStore(t: String, keyCols: Seq[String]): MorStore = {
    requireSafeName(t)
    keyCols.foreach(k => require(k.matches("[A-Za-z0-9_]+"),
      s"key column '$k' outside [A-Za-z0-9_]+"))
    if (fs.exists(morKeysFile(t))) {
      val existing = morKeys(t)
      require(existing == keyCols,
        s"MoR member '$t' exists with keys $existing, not $keyCols")
    } else {
      val out = fs.create(morKeysFile(t), true)
      out.write(keyCols.mkString(",").getBytes("UTF-8"))
      out.close()
    }
    new MorStore(spark, morRootDir(t).toString, keyCols)
  }

  private def morKeys(t: String): Seq[String] = {
    require(fs.exists(morKeysFile(t)),
      s"'$t' is not a MoR member of this catalog (open it with morStore first)")
    val in = fs.open(morKeysFile(t))
    val s = scala.io.Source.fromInputStream(in).mkString.trim
    in.close()
    s.split(",").toSeq
  }

  /** Atomically commit snapshot rewrites AND MoR deltas as ONE
    * catalog generation — the CDC fact table takes an O(batch) delta
    * while its rollup view rewrites, and a reader at any generation
    * sees the two mutually consistent. For each MoR member: an empty
    * store takes `df` as its initial BASE; a store that already
    * committed a generation with this ts (a crash after the member
    * commit but before the catalog publish) REUSES it rather than
    * re-appending, so replayed batches stay exactly-once; otherwise
    * `df` commits as a delta (schema = base + __op, optional __seq;
    * an empty member bootstraps itself — [[MorStore.commitDelta]]).
    */
  def commitAllWith(snapshots: Map[String, DataFrame],
      morDeltas: Map[String, DataFrame], commitTsMillis: Long): Long = {
    val both = snapshots.keySet.intersect(morDeltas.keySet)
    require(both.isEmpty,
      s"tables $both appear as BOTH snapshot and MoR member — readAt " +
        "would silently prefer the snapshot and shadow the member")
    // snapshot staging overlaps the MoR delta commits: the two write
    // families are independent until publish (stage dirs are
    // nonce-isolated; MoR generations live in the member's own log and
    // the catalog records only a pointer), so the commit wall is the
    // slower family, not the sum. The future rides its own thread —
    // NOT the staging pool, which stage() itself fans out on.
    val stagedF = new java.util.concurrent.FutureTask(() => stage(snapshots))
    val stagedT = new Thread(stagedF, "catalog-stage-snapshots")
    stagedT.setDaemon(true)
    stagedT.start()
    val morStaged =
      try morDeltas.map { case (t, df) =>
        val store = morStore(t, morKeys(t))
        // crash-replay reuse must match the KIND this commit would
        // produce: a crash after the bootstrap base but before its
        // delta leaves a base with this ts — reusing THAT would drop
        // the delta, so only a same-kind newest generation counts
        val intendedKind =
          if (df.columns.contains(store.OpCol)) "delta" else "base"
        val reusable = store.log.entries().reverse.collectFirst {
          case e if e.kind == intendedKind && e.ts == commitTsMillis => e.generation
        }
        val g = reusable.getOrElse {
          if (store.isEmpty && intendedKind == "base") store.commitBase(df, commitTsMillis)
          else store.commitDelta(df, commitTsMillis) // bootstraps an empty member
        }
        t -> g
      } catch { case e: Throwable =>
        // a MoR failure must still JOIN the staging thread before the
        // commit unwinds: its in-flight Spark writes would otherwise
        // keep running unobserved, and ITS failure (possibly the root
        // cause) would never surface anywhere (ADVICE r14). Whatever
        // it staged becomes unreferenced orphans — the crash contract.
        try stagedF.get()
        catch { case s: Throwable => e.addSuppressed(s) }
        throw e
      }
    val staged =
      try stagedF.get()
      catch { // surface the staging failure itself, not the wrapper
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    publish(staged, commitTsMillis, morStaged)
  }

  /** Atomically commit snapshot rewrites AND pure-append segments as
    * ONE catalog generation. Each append member's DataFrame is ONLY
    * the batch's new rows: the commit stages a batch-sized segment and
    * the generation records it prepended to the member's chain
    * ([[appendVersions]]), so maintaining an arbitrarily large
    * append-only relation costs O(batch) physical writes per commit —
    * the property the index families (postings, positions, LSH bands)
    * need at 100 TB, where a full-state rewrite per micro-batch IS the
    * scale-killer. Reads stay plain multi-directory parquet scans
    * (never a resolve or shuffle — segments are disjoint by the
    * caller's every-row-lands-once contract). A later SNAPSHOT commit
    * under the same name (e.g. a compaction transact's fold) resets
    * the chain to one directory; a later append chains on top of that
    * snapshot. All-or-nothing with the snapshot halves: one
    * generation entry references every staged directory or none.
    */
  def commitAllAppend(snapshots: Map[String, DataFrame],
      appends: Map[String, DataFrame], commitTsMillis: Long): Long = {
    val both = snapshots.keySet.intersect(appends.keySet)
    require(both.isEmpty,
      s"tables $both appear as BOTH snapshot and append in one commit")
    // one staging wave for both kinds (names are disjoint per the
    // require above), so snapshot rewrites and append segments overlap
    // too instead of forming two sequential write chains
    val all = stage(snapshots ++ appends)
    publish(all.filter { case (t, _) => snapshots.contains(t) },
      commitTsMillis,
      appended = all.filter { case (t, _) => appends.contains(t) })
  }

  private def swingRef(ref: String, g: Long): Unit = {
    if (ref != TableCatalog.Main) fs.mkdirs(refsDir)
    PointerFile.swing(spark.sparkContext.hadoopConfiguration,
      new Path(root), refPath(ref), g.toString, s"catalog $ref g=$g")
  }

  private def readRefPointer(ref: String): Option[Long] = {
    val p = refPath(ref)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = scala.io.Source.fromInputStream(in).mkString.trim
      in.close()
      Some(s.toLong)
    }
  }

  // ── branches ────────────────────────────────────────────────────────

  /** Create branch `name` at main's current head — an isolated line
    * of commits over the SAME shared generation log (Nessie/Iceberg
    * branch refs): [[commitAllOn]] advances only the branch pointer,
    * so main's readers never see branch generations until
    * [[publishBranch]] fast-forwards them in. The enabling layout
    * fact: every generation entry is a SELF-CONTAINED version map, so
    * a ref is nothing but a pointer — branching costs one file.
    */
  def createBranch(name: String): Unit = commitLock.synchronized {
    requireSafeName(name)
    require(name != TableCatalog.Main, "'main' is the trunk ref")
    require(headOf(name).isEmpty, s"branch '$name' already exists")
    val g = latestGeneration().getOrElse(throw new IllegalStateException(
      s"empty catalog at $root — commit to main before branching"))
    // a DROPPED branch's generations keep their ref label in the log;
    // recreating the name at an older point would let the per-ref
    // orphan heal resurrect them as this branch's head — refuse until
    // vacuum ages them out (or a fresh name is picked)
    val stale = loggedGenerations().filter(x => x > g && refOf(x) == name)
    require(stale.isEmpty,
      s"branch name '$name' has dropped generations ${stale.mkString(",")} " +
        "still in the log beyond the branch point — they would resurrect")
    swingRef(name, g)
  }

  /** Live branch names (main excluded). */
  def branches(): Seq[String] =
    if (!fs.exists(refsDir)) Seq.empty
    else fs.listStatus(refsDir).map(_.getPath.getName)
      .filterNot(_.endsWith(".tmp")).sorted.toSeq

  /** Delete branch `name`'s pointer. Its generations stay in the log
    * (readable by number) until they age out of [[vacuum]]'s window.
    */
  def dropBranch(name: String): Unit = commitLock.synchronized {
    require(name != TableCatalog.Main, "cannot drop the trunk ref")
    fs.delete(refPath(name), false)
  }

  // ── tags ────────────────────────────────────────────────────────────

  private def tagsDir = new Path(root, "_tags")
  private def tagPath(name: String) = new Path(tagsDir, name)

  /** Pin an IMMUTABLE tag at generation `at` (default: main's head) —
    * the audit/reproducibility ref: "the exact cross-table cut this
    * model trained on", addressable by name forever and excluded from
    * [[vacuum]] reclamation. Unlike a branch, a tag can never move
    * and never takes commits.
    */
  def createTag(name: String, at: Option[Long] = None): Long =
    commitLock.synchronized {
      requireSafeName(name)
      require(!fs.exists(tagPath(name)), s"tag '$name' already exists")
      val g = at.getOrElse(latestGeneration().getOrElse(
        throw new IllegalStateException(s"empty catalog at $root")))
      require(log.exists(g), s"no generation $g to tag")
      fs.mkdirs(tagsDir)
      PointerFile.swing(spark.sparkContext.hadoopConfiguration,
        new Path(root), tagPath(name), g.toString, s"catalog tag $name g=$g")
      g
    }

  /** Live tag names. */
  def tags(): Seq[String] =
    if (!fs.exists(tagsDir)) Seq.empty
    else fs.listStatus(tagsDir).map(_.getPath.getName)
      .filterNot(_.endsWith(".tmp")).sorted.toSeq

  /** The generation tag `name` pins. */
  def tagGeneration(name: String): Long = {
    require(fs.exists(tagPath(name)), s"no tag '$name' at $root")
    val in = fs.open(tagPath(name))
    val s = scala.io.Source.fromInputStream(in).mkString.trim
    in.close()
    s.toLong
  }

  /** Read `table` at tag `name`'s pinned cut. */
  def readTag(name: String, table: String): DataFrame =
    readAt(tagGeneration(name), table)

  /** Delete tag `name` (the data it pinned becomes reclaimable at the
    * next [[vacuum]] unless otherwise referenced).
    */
  def dropTag(name: String): Unit = commitLock.synchronized {
    fs.delete(tagPath(name), false)
  }

  /** Commit a generation ON a ref: `main` is [[commitAll]]; a branch
    * must have been created first ([[createBranch]] — a typo'd ref
    * must not silently fork a new line of history). Tags are not
    * commit targets.
    */
  def commitAllOn(ref: String, tables: Map[String, DataFrame],
      commitTsMillis: Long): Long = {
    require(ref == TableCatalog.Main || headOf(ref).nonEmpty,
      s"no branch '$ref' — createBranch first")
    publish(stage(tables), commitTsMillis, ref = ref)
  }

  /** Read `table` at ref `ref`'s head. */
  def readRef(ref: String, table: String): DataFrame =
    readAt(headOf(ref).getOrElse(throw new IllegalStateException(
      s"no ref '$ref' at $root")), table)

  /** FAST-FORWARD main to branch `name`'s head — the publish half of
    * write-audit-publish: candidate data commits on the branch, an
    * audit reads the branch, and only a clean audit swings main's
    * pointer (one metadata write; readers atomically see every
    * branch commit at once, or none). Requires main's head to be an
    * ANCESTOR of the branch head (walked over the recorded parent
    * chain) — if main advanced independently, throws
    * [[TableCatalog.CommitConflictException]] without touching main;
    * the caller re-branches from the new head and replays (same OCC
    * posture as [[transact]], at branch granularity). Returns main's
    * new head generation.
    */
  def publishBranch(name: String): Long = commitLock.synchronized {
    val bh = headOf(name).getOrElse(throw new IllegalStateException(
      s"no branch '$name' at $root"))
    val mh = headOf(TableCatalog.Main)
    // walk the branch's parent chain down to (or past) main's head; a
    // vacuumed-away parent ends the walk as a conflict, never a crash
    var cur: Option[Long] = Some(bh)
    while (cur.nonEmpty && mh.forall(cur.get > _))
      cur = parentOf(cur.get).filter(log.exists)
    if (cur != mh)
      throw new TableCatalog.CommitConflictException(cur, mh)
    swingRef(TableCatalog.Main, bh)
    bh
  }

  // ── resolve / read ──────────────────────────────────────────────────

  /** Ref `ref`'s head: max(its pointer, newest logged generation
    * COMMITTED ON this ref), else None — [[CommitLog]]'s visibility
    * rule applied per ref. Healing PAST the pointer is required:
    * without it a redelivered micro-batch whose id is logged in a
    * generation the pointer never caught up to would no-op while the
    * next commit built on the stale head, silently losing the batch.
    * The heal is PER-REF (each generation records the ref it was
    * committed on), so a branch writer's orphan can never yank main's
    * head onto the branch. Only generations beyond the pointer are
    * ever inspected, and their refs are cached — steady-state cost is
    * one listing.
    */
  def headOf(ref: String): Option[Long] = {
    val pv = readRefPointer(ref)
    // a missing pointer means "empty catalog" only for main (its first
    // commit can crash pre-swing); for a branch it means the branch
    // does not exist — createBranch swings the pointer BEFORE any
    // branch commit, so healing from the bare log would resurrect
    // dropped branches
    if (ref != TableCatalog.Main && pv.isEmpty) None
    else {
      val healed = loggedGenerations()
        .filter(g => pv.forall(_ < g)).filter(refOf(_) == ref).lastOption
      (pv, healed) match {
        case (None, h) => h
        case (Some(p), h) => Some(h.fold(p)(math.max(p, _)))
      }
    }
  }

  /** Main's head generation, else None (empty catalog). */
  def latestGeneration(): Option[Long] = headOf(TableCatalog.Main)

  /** DESCRIBE HISTORY: one row per logged generation — (generation,
    * ts, ref, parent, on_main, n_tables, n_mor) — with `on_main`
    * resolved by walking main's parent chain, so branch generations
    * that never published show false. A metadata relation (rows =
    * generations); the audit surface "what changed when, on which
    * line of history".
    */
  def history(): DataFrame = {
    val mainChain = {
      val b = scala.collection.mutable.Set.empty[Long]
      var cur = latestGeneration()
      while (cur.nonEmpty) {
        b += cur.get
        cur = parentOf(cur.get).filter(log.exists)
      }
      b.toSet
    }
    val rows = loggedGenerations().map { g =>
      val e = gen(g)
      (g, e.ts, e.ref, parentOf(g).getOrElse(-1L),
        mainChain.contains(g), e.tables.size.toLong, e.mor.size.toLong)
    }
    import spark.implicits._
    rows.toDF("generation", "ts", "ref", "parent", "on_main",
      "n_tables", "n_mor")
  }

  /** All committed generations, ascending. */
  def loggedGenerations(): Seq[Long] = log.ids()

  /** The snapshot-table→version map of generation `g`. */
  def tableVersions(g: Long): Map[String, Long] = gen(g).tables

  /** The MoR-member→store-generation map of generation `g`. */
  def morVersions(g: Long): Map[String, Long] = gen(g).mor

  /** The APPEND-member→segment-chain map of generation `g` (newest
    * segment first). An append member's state at a generation is the
    * UNION of its chain's immutable segment directories — each commit
    * stages only its own batch, so maintenance writes are physically
    * O(batch) however large the accumulated relation (the Lucene
    * segment model on the catalog's versioned layout). Generations
    * written before append support parse as empty.
    */
  def appendVersions(g: Long): Map[String, Seq[Long]] = gen(g).chains

  /** Every member name of generation `g`, whatever its kind (snapshot,
    * append chain, or MoR) — the existence check maintenance policies
    * and invariants key on.
    */
  def memberNames(g: Long): Set[String] = {
    val e = gen(g)
    e.tables.keySet ++ e.mor.keySet ++ e.app.keySet
  }

  /** The table→physical-location map of generation `g` — entries
    * exist only for CLONES (a table whose data directory is another
    * table's); absent means the table lives under its own name.
    * Generations written before clone support parse as empty.
    */
  def tableLocations(g: Long): Map[String, String] = gen(g).locs

  /** Commit ts of generation `g`. */
  def generationTs(g: Long): Long = gen(g).ts

  /** The ref generation `g` was committed on — cached per handle
    * (generation entries are immutable).
    */
  private val refCache =
    new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private def refOf(g: Long): String = refCache.computeIfAbsent(g, gen(_).ref)

  /** The generation `g` extends (None at a root). Pre-branch entries
    * carry no parent field; their history was linear, so the parent
    * is g−1 when that entry still exists.
    */
  private[graft] def parentOf(g: Long): Option[Long] = gen(g).parent match {
    case None => Some(g - 1).filter(p => p >= 0 && log.exists(p))
    case Some(p) => Some(p).filter(_ >= 0)
  }

  /** Read `table` at catalog generation `g` — every table read at the
    * same `g` is one consistent cross-table cut. A MoR member
    * resolves base ∪ deltas up to the store generation this cut
    * recorded (later deltas, committed after `g`, are invisible).
    */
  def readAt(g: Long, table: String): DataFrame = {
    val e = gen(g) // one read feeds versions AND locations
    e.tables.get(table) match {
      case Some(v) =>
        spark.read.parquet(tableDir(e.locs.getOrElse(table, table), v).toString)
      case None =>
        // append member: the state IS the union of the chain's
        // immutable segment directories — one multi-path scan, no
        // resolve/shuffle (segments are disjoint pure appends)
        e.chains.get(table) match {
          case Some(chain) =>
            spark.read.parquet(chain.map(v => tableDir(table, v).toString): _*)
          case None =>
            val mv = e.mor.getOrElse(table,
              throw new IllegalArgumentException(s"table $table not in generation $g"))
            morStore(table, morKeys(table)).readAt(mv)
        }
    }
  }

  /** Read `table` at the latest generation. */
  def read(table: String): DataFrame = readAt(latestGeneration()
    .getOrElse(throw new IllegalStateException(s"empty catalog at $root")), table)

  /** The physical directory holding snapshot `table`'s data at
    * generation `g` (location indirection resolved) — for sidecar
    * builders like [[CatalogIndex]] that need the version's actual
    * file paths. MoR members have no single directory and throw.
    */
  def versionDir(g: Long, table: String): String =
    tableDir(tableLocations(g).getOrElse(table, table), versionOf(g, table)).toString

  /** Snapshot `table`'s version number at generation `g`. */
  def versionOf(g: Long, table: String): Long =
    tableVersions(g).getOrElse(table, throw new IllegalArgumentException(
      s"table $table is not a snapshot table of generation $g"))

  /** The newest MAIN-lineage generation committed at or before `ts` —
    * cross-table AS OF TIMESTAMP. Walks main's parent chain (not the
    * raw log: the log also holds branch generations whose candidate
    * data never published), stopping at a vacuumed-away parent.
    */
  def generationAsOf(tsMillis: Long): Long =
    generationAsOf(tsMillis, TableCatalog.Main)

  /** AS OF TIMESTAMP resolution on an arbitrary ref's lineage: the
    * newest generation on `ref`'s parent chain whose commit ts is at
    * or before `tsMillis` (branch/tag reads time-travel along THEIR
    * history, not main's), stopping at a vacuumed-away parent.
    */
  def generationAsOf(tsMillis: Long, ref: String): Long = {
    var cur = headOf(ref)
    while (cur.nonEmpty) {
      if (generationTs(cur.get) <= tsMillis) return cur.get
      cur = parentOf(cur.get).filter(log.exists)
    }
    throw new IllegalArgumentException(
      s"no catalog generation at or before $tsMillis on $ref")
  }

  /** Read `table` AS OF TIMESTAMP `tsMillis` — the newest cut on
    * `ref`'s lineage committed at or before that instant. Generation
    * addressing ([[readAt]]) stays the primitive; this is the
    * time-addressed surface every lakehouse exposes beside it.
    */
  def readAsOf(tsMillis: Long, table: String,
      ref: String = TableCatalog.Main): DataFrame =
    readAt(generationAsOf(tsMillis, ref), table)

  // ── retention ───────────────────────────────────────────────────────

  /** Retention: keep the newest `keepLast` catalog generations, drop
    * the older generation entries, and reclaim every table version
    * directory no kept generation references. Snapshot tables delete
    * versions below their minimum kept reference (versions only ever
    * grow, and every kept generation carries every table forward, so
    * anything below the minimum is provably unreachable from a kept
    * cut); MoR members delegate to [[MorStore.vacuumBefore]] at their
    * minimum kept store generation. Time travel across the kept
    * window is untouched; reads at dropped generations fail with
    * missing-file errors — the storage is genuinely gone, which is
    * the point of a vacuum.
    */
  def vacuum(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest generation")
    // cutoff = the keepLast-th newest generation on MAIN'S parent
    // chain (the raw log tail could be all branch generations, and
    // counting those against the window would silently shrink main's
    // retained history)
    val mainKept = {
      val b = scala.collection.mutable.ArrayBuffer[Long]()
      var cur = latestGeneration()
      while (cur.nonEmpty && b.size < keepLast) {
        b += cur.get
        cur = parentOf(cur.get).filter(log.exists)
      }
      b.toSeq
    }
    if (mainKept.isEmpty) return Seq.empty
    vacuumBelow(mainKept.last)
  }

  /** Retention by AGE (`VACUUM … RETAIN`-shaped): reclaim generations
    * strictly older than the newest main-chain generation committed at
    * or before `tsMillis`. That anchor generation itself is KEPT — it
    * is what any surviving `readAsOf(t)` with t ≥ `tsMillis` resolves
    * to, so every time-addressed read inside the retention window stays
    * answerable after the sweep. A catalog whose history is entirely
    * younger than the cutoff reclaims nothing. Returns the dropped
    * generation ids.
    */
  def vacuumOlderThan(tsMillis: Long): Seq[Long] = {
    val anchor =
      try generationAsOf(tsMillis)
      catch { case _: IllegalArgumentException => return Seq.empty }
    vacuumBelow(anchor)
  }

  /** Shared reclamation core: drop every generation below `cutoff`
    * except live branch HEADS (a slow audit must not lose its table
    * data) and tagged cuts (a tag pins its cut forever); branch
    * generations at or beyond the cutoff stay too — a pending
    * publishBranch still needs their candidate data.
    */
  private def vacuumBelow(cutoff: Long): Seq[Long] = {
    val gens = loggedGenerations()
    val refHeads = branches().flatMap(headOf(_)).toSet ++
      tags().map(tagGeneration)
    val kept = gens.filter(g => g >= cutoff || refHeads.contains(g))
    val dropped = gens.filterNot(g => g >= cutoff || refHeads.contains(g))
    if (dropped.isEmpty) return Seq.empty
    // the kept SET of (physical location, version) pairs — keyed by
    // physical location (a kept CLONE's location entry pins its source
    // directory), and a SET rather than a per-location minimum: a
    // clone pinning src/v=0 while src itself advanced to v=100 must
    // not retain the 99 intermediate versions nothing references (the
    // min-based rule leaked exactly those)
    val keptRefs: Set[(String, Long)] = kept
      .flatMap { g =>
        val locs = tableLocations(g)
        tableVersions(g).toSeq.map { case (t, v) =>
          locs.getOrElse(t, t) -> v
        } ++
          // every segment of a kept generation's append chain is live
          // (chains reference old directories transitively forever
          // until a snapshot/compaction fold resets them)
          appendVersions(g).toSeq.flatMap { case (t, chain) =>
            chain.map(t -> _)
          }
      }.toSet
    val keptLocs = keptRefs.map(_._1)
    keptLocs.foreach { t =>
      val tdir = new Path(root, s"tables/$t")
      if (fs.exists(tdir)) fs.listStatus(tdir)
        .map(st => st.getPath)
        .filter(p => (p.getName.startsWith("v=") &&
          !keptRefs.contains(t -> p.getName.stripPrefix("v=").toLong)) ||
          // orphan stage-<nonce> dirs from crashed or conflicted
          // commits (vacuum runs quiescent — no stage is in flight)
          p.getName.startsWith("stage-"))
        .foreach(fs.delete(_, true))
    }
    // a DROPPED (or renamed-away) table whose physical directory no
    // kept generation references — by own name OR through a clone's
    // location entry — is fully reclaimable; without this it would
    // leak forever (no per-version minimum ever mentions it)
    val keptMor = kept.flatMap(g => morVersions(g).keys).toSet
    val tablesDir = new Path(root, "tables")
    if (fs.exists(tablesDir)) fs.listStatus(tablesDir)
      .map(_.getPath)
      .filter(p => !keptLocs.contains(p.getName) && !keptMor.contains(p.getName))
      .foreach(fs.delete(_, true))
    kept.flatMap(g => morVersions(g).toSeq)
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).min }
      .foreach { case (t, minG) =>
        morStore(t, morKeys(t)).vacuumBefore(minG)
      }
    dropped.foreach(log.delete)
    dropped
  }
}

object TableCatalog {

  /** The trunk ref every read/commit defaults to. */
  val Main = "main"

  /** One `_catalog/G.json` entry. `app` holds each append member's
    * chain as a dash-joined string ("9-7-3", newest first). Entries
    * from before branches, clones or appends lack the later fields and
    * read with these defaults; a missing `parent` is resolved by
    * [[TableCatalog.parentOf]].
    */
  final case class Generation(
      generation: Long, ts: Long, ref: String = Main,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) parent: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) tables: Map[String, Long] = Map.empty,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) mor: Map[String, Long] = Map.empty,
      app: Map[String, String] = Map.empty,
      locs: Map[String, String] = Map.empty) extends CommitLog.Entry {
    def id: Long = generation
    def chains: Map[String, Seq[Long]] = app.collect {
      case (t, s) if s.nonEmpty => t -> s.split("-").toSeq.map(_.toLong)
    }
  }

  /** A [[TableCatalog.commitAllIf]]/[[TableCatalog.transact]] lost
    * the optimistic race: the catalog advanced past the generation
    * the writer derived its commit from. Nothing was published; the
    * writer re-reads and recomputes. Also thrown by
    * [[TableCatalog.publishBranch]] when main advanced independently
    * of the branch (non-fast-forward).
    */
  final class CommitConflictException(
      val expected: Option[Long], val actual: Option[Long])
    extends RuntimeException(
      s"concurrent commit: derived from generation " +
        s"${expected.fold("<empty>")(_.toString)} but the catalog is at " +
        s"${actual.fold("<empty>")(_.toString)} — re-read and retry")

  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFor(qualifiedRoot: String): Object =
    commitLocks.computeIfAbsent(qualifiedRoot, _ => new Object)

  /** Shared pool for [[TableCatalog.stage]]'s concurrent member
    * writes. Bounded: each task is one blocking Spark job submission,
    * and 8 in flight saturates the commit path long before it
    * saturates a cluster (a 6-7-member unified commit fits in one
    * wave). Daemon threads — staging work must never hold the JVM
    * open past the driver.
    */
  private[sources] lazy val stagingPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, "catalog-stage")
        t.setDaemon(true)
        t
      })
}
