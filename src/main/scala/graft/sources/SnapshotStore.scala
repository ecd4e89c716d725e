package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-versioned parquet table — MVCC table format in miniature
  * (the Iceberg/Delta snapshot-isolation shape, reduced to what the
  * engine needs): every commit writes a complete new generation
  * directory `v=N`, then appends its [[CommitLog]] entry `_log/N.json`
  * (version, commit ts, row count); readers resolve the head once and
  * scan an immutable directory, so a reader never sees a partial write
  * and a writer never blocks a reader. Old generations stay addressable
  * — `read(version)` and `asOf(timestamp)` are time travel;
  * `expireSnapshots` is the retention pass.
  *
  * The entry protocol and the visibility rule (the head is the newest
  * fully written entry) are [[CommitLog]]'s. A crash before the entry
  * leaves the table at N−1 with an orphan directory the next commit
  * overwrites.
  *
  * Commit timestamps are CALLER-provided (a real deployment passes its
  * coordinator clock): determinism for tests and oracles, and no
  * hidden wall-clock reads inside the engine.
  *
  * At 100 TB a generation directory is written by the cluster (the
  * parquet job parallelizes); the log append is O(1) driver-side
  * metadata — the same asymmetry that makes metadata-tree table
  * formats work at that scale.
  */
class SnapshotStore(spark: SparkSession, root: String) {

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def verDir(v: Long) = new Path(root, s"v=$v")

  private[graft] val log =
    new CommitLog[SnapshotStore.Entry](spark, root, "_log")

  // ── commit ──────────────────────────────────────────────────────────

  /** Commit `df` as the next generation; returns its version. */
  def commit(df: DataFrame, commitTsMillis: Long): Long =
    commitAll(Seq(df -> commitTsMillis)).head

  /** Commit a VERSION CHAIN in one call: the generation directories
    * are staged as concurrent Spark jobs (guide §2.6 — each df is an
    * independent expression over already-committed inputs, and a
    * staged `v=N` directory is invisible until its log entry publishes
    * it), then published strictly in input order. Externally
    * indistinguishable from N sequential commits — same versions, same
    * logs, same crash contract (a crash mid-staging leaves unlogged
    * orphan directories the next commit's delete clears; a crash
    * mid-publish leaves the table at the last published version) — but
    * the commit wall is the slowest write, not the sum. Callers must
    * pass dfs that do NOT read this store (a df reading version k would
    * race its own staging).
    */
  def commitAll(dfs: Seq[(DataFrame, Long)]): Seq[Long] = {
    val base = log.nextId()
    val staged = graft.operators.Overlap.inParallel(
      dfs.zipWithIndex.map { case ((df, ts), i) => () =>
        val v = base + i
        val dest = verDir(v)
        fs.delete(dest, true) // orphan from a crashed commit
        // the log's row count rides the WRITE itself (Observation
        // metric) — no second count job over the fresh directory
        val obs = org.apache.spark.sql.Observation(s"snapshot-rows-v$v")
        df.observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("rows"))
          .write.mode("overwrite").parquet(dest.toString)
        SnapshotStore.Entry(v, ts, obs.get("rows").asInstanceOf[Long])
      })
    staged.foreach(log.append)
    staged.map(_.version)
  }

  /** O(1) amortized: was any version committed with this ts? */
  def tsCommitted(ts: Long): Boolean = log.tsCommitted(ts)

  /** Streaming-sink redelivery check ([[CommitLog.batchCommitted]]). */
  def batchCommitted(id: Long): Boolean = log.batchCommitted(id)

  // ── resolve / read ──────────────────────────────────────────────────

  /** Newest logged version, else None (empty table). */
  def latestVersion(): Option[Long] = log.head()

  /** All committed versions, ascending (from the log). */
  def loggedVersions(): Seq[Long] = log.ids()

  /** Commit metadata (version, ts, rows) from the log, ascending. */
  def history(): Seq[(Long, Long, Long)] =
    log.entries().map(e => (e.version, e.ts, e.rows))

  def readLatest(): DataFrame = read(latestVersion().getOrElse(
    throw new IllegalStateException(s"no snapshot at $root")))

  /** Time travel to an explicit version. */
  def read(version: Long): DataFrame = {
    require(fs.exists(verDir(version)), s"no snapshot v=$version at $root")
    spark.read.parquet(verDir(version).toString)
  }

  /** Time travel to the newest snapshot committed at or before `ts` —
    * the AS OF TIMESTAMP read.
    */
  def asOf(tsMillis: Long): DataFrame = {
    val vs = history().filter(_._2 <= tsMillis)
    require(vs.nonEmpty, s"no snapshot at or before $tsMillis")
    read(vs.last._1)
  }

  // ── retention ───────────────────────────────────────────────────────

  /** Delete all generations except the newest `keep` (the head
    * always survives). Returns the expired versions.
    */
  def expireSnapshots(keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least one snapshot")
    val victims = loggedVersions().dropRight(keep)
    victims.foreach { v =>
      fs.delete(verDir(v), true)
      log.delete(v)
    }
    victims
  }
}

object SnapshotStore {

  /** One `_log/N.json` entry. */
  final case class Entry(version: Long, ts: Long, rows: Long)
      extends CommitLog.Entry {
    def id: Long = version
  }
}
