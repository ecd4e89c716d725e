package graft.sources

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** CONSISTENT EXPORT / IMPORT of a catalog cut — backup, cross-
  * cluster copy, or environment promotion: every snapshot table of
  * ONE generation is written to an export directory along with a
  * manifest recording per-table row counts, and import refuses a
  * torn or tampered export (count mismatch, missing table) instead
  * of silently loading part of a cut. Because the export reads one
  * generation, the copy is cross-table consistent no matter how long
  * the export takes or what commits land meanwhile — the same
  * snapshot-isolation guarantee readers get, extended to the backup
  * path. Import lands as ONE atomic generation of the target
  * catalog (all-or-nothing visibility, as any commit).
  */
object CatalogExport {

  private def manifestPath(dir: String) = new Path(dir, "_manifest.json")

  private final case class Manifest(generation: Long,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) tables: Map[String, Long])

  /** Export generation `g`'s snapshot tables to `dir`. Returns the
    * (table → rowCount) manifest map.
    */
  def exportCut(spark: SparkSession, cat: TableCatalog, g: Long,
      dir: String): Map[String, Long] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val counts = cat.tableVersions(g).keys.toSeq.sorted.map { t =>
      val df = cat.readAt(g, t)
      df.write.mode("overwrite").parquet(s"$dir/$t")
      t -> spark.read.parquet(s"$dir/$t").count()
    }
    val out = fs.create(manifestPath(dir), true)
    try out.write(CommitLog.json.writeValueAsBytes(Manifest(g, counts.toMap)))
    finally out.close()
    counts.toMap
  }

  /** The manifest of an export directory. */
  def manifest(spark: SparkSession, dir: String): Map[String, Long] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(manifestPath(dir)), s"no manifest at $dir — not an export")
    CommitLog.readJson(fs, manifestPath(dir), classOf[Manifest]).tables
  }

  /** Import the export at `dir` into `cat` as one atomic generation,
    * VERIFYING every table's row count against the manifest first —
    * a missing table or a count drift (torn copy, tampered file)
    * refuses the whole import; nothing becomes visible.
    */
  def importCut(spark: SparkSession, cat: TableCatalog, dir: String,
      commitTsMillis: Long): Long = {
    val m = manifest(spark, dir)
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val frames = m.map { case (t, expected) =>
      require(fs.exists(new Path(s"$dir/$t")),
        s"export is torn: manifest lists '$t' but no data directory")
      val df = spark.read.parquet(s"$dir/$t")
      val actual = df.count()
      require(actual == expected,
        s"export verification failed for '$t': manifest says $expected " +
          s"rows, directory holds $actual — refusing a partial import")
      t -> df
    }
    cat.commitAll(frames, commitTsMillis)
  }
}
