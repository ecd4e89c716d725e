package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.SPARK_VERSION_SHORT
import org.apache.spark.sql.{SPARK_VERSION_METADATA_KEY, SparkSession}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet footers.
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

  /** Write `file` as a parquet file of `schema` with no row group, from
    * the driver: the footer an empty Spark write leaves under the
    * session's conf — Spark's schema conversion, its version and its
    * row-metadata key (the schema every footer reader takes).
    */
  def writeEmpty(spark: SparkSession, conf: Configuration, file: Path, schema: StructType): Unit = {
    val writer = new ParquetFileWriter(HadoopOutputFile.fromPath(file, conf),
      new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(schema),
      ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE,
      ParquetWriter.MAX_PADDING_SIZE_DEFAULT, null, ParquetProperties.builder().build())
    writer.start()
    writer.end(Map(
      SPARK_VERSION_METADATA_KEY -> SPARK_VERSION_SHORT,
      ParquetReadSupport.SPARK_METADATA_KEY -> schema.json).asJava)
  }
}
