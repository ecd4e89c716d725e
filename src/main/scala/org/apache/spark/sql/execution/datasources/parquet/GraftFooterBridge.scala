package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side parquet footer schemas.
  *
  * Spark's schema inference reads footers inside a Spark job; the footer
  * reader and the footer-to-schema conversion it runs are scoped
  * `private[parquet]`, so the bridge sits inside the package (as
  * `GraftExpressionBridge` does for Catalyst expressions).
  */
object GraftFooterBridge {

  /** The merged schema of `files`' footers, made nullable as a file-source
    * read makes it; None when `files` is empty. Footers are read by driver
    * threads, so no Spark job starts.
    */
  def schema(spark: SparkSession, conf: Configuration, files: Seq[FileStatus]): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, files, ignoreCorruptFiles = false), spark)
      .map(_.asNullable)
}
