package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterBridge
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema comes from footers read on the driver.
  *
  * `spark.read.parquet(...)` infers its schema in a Spark job of its own
  * before any data moves; on the per-file CDC path that job costs as much
  * as a small data job. These reads take the same schema from the same
  * footers with no job: the first data file by path (the file Spark's
  * inference reads), or every data file with `merge`, as the
  * `mergeSchema` option does.
  */
private[graft] object ParquetFooters {

  /** The schema `spark.read.parquet(paths: _*)` infers (with `merge`:
    * under `mergeSchema`). A path is a file or a directory of data files;
    * `_`/`.`-prefixed names are skipped as Spark's file index skips them.
    * Paths are literal, not globs.
    */
  def schema(spark: SparkSession, paths: Seq[String], merge: Boolean = false): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val st = fs.getFileStatus(path)
      if (st.isDirectory) fs.listStatus(path).filter(f => f.isFile && !hidden(f)).toSeq
      else Seq(st)
    }.sortBy(_.getPath.toString)
    GraftFooterBridge.schema(spark, conf, if (merge) files else files.take(1)).getOrElse(
      throw new IllegalArgumentException(s"no parquet file to take a schema from in ${paths.mkString(", ")}"))
  }

  /** `spark.read.parquet(paths: _*)` with the footer [[schema]]. */
  def read(spark: SparkSession, paths: Seq[String], merge: Boolean = false): DataFrame =
    spark.read.schema(schema(spark, paths, merge)).parquet(paths: _*)

  private def hidden(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    n.startsWith("_") || n.startsWith(".")
  }
}
