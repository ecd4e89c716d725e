package graft.sources

import java.sql.Timestamp
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}

/** An append-only log of rows that the driver writes with no Spark job:
  * the tail of [[graft.operators.FileLedger]] and the whole of
  * [[graft.operators.EvolutionLog]]. Each append is one immutable JSON
  * entry `<dir>/<ms>-<uuid>.json`, written to a dot-prefixed `.tmp` name
  * and renamed in, as [[CommitLog]] writes. The names are unique, so
  * concurrent writers (per-table streams sharing one ledger) never race
  * for one; a crash leaves at most a `.tmp` leftover, which no listing
  * counts. Columns are strings or timestamps (kept as epoch ms).
  */
private[graft] final class RowLog(spark: SparkSession, dir: String, schema: StructType) {

  schema.foreach(f => require(f.dataType == StringType || f.dataType == TimestampType,
    s"RowLog column ${f.name}: only string and timestamp columns are supported"))

  private val path = new Path(dir)

  // entries are immutable and read whole: checksum sidecars would double
  // the files every listing walks
  private def fs: FileSystem = path.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** Names of every fully written entry, ascending (one listing). On the
    * local filesystem the listing reads names only: its `listStatus`
    * stats every entry, which is most of a check's time with a full tail.
    */
  def names(): Seq[String] = {
    val all = fs match {
      case l: RawLocalFileSystem => Option(l.pathToFile(path).list()).fold(Seq.empty[String])(_.toSeq)
      case f => if (!f.exists(path)) Seq.empty else f.listStatus(path).map(_.getPath.getName).toSeq
    }
    all.filter(n => n.endsWith(".json") && !n.startsWith(".")).sorted
  }

  /** Write `rows` as one new entry; returns its name. */
  def append(rows: Seq[Row]): String = {
    val name = f"${System.currentTimeMillis()}%013d-${UUID.randomUUID()}.json"
    val tmp = new Path(path, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(CommitLog.json.writeValueAsBytes(Map("rows" -> rows.map(encode))))
    finally out.close()
    if (!fs.rename(tmp, new Path(path, name)))
      throw new IllegalStateException(s"could not publish log entry $name under $dir")
    name
  }

  def read(name: String): Seq[Row] = {
    val in = fs.open(new Path(path, name))
    val entry = try CommitLog.json.readTree(in) finally in.close()
    entry.get("rows").elements().asScala.map { r =>
      Row.fromSeq(schema.fields.indices.map { i =>
        val v = r.get(i)
        if (v == null || v.isNull) null
        else if (schema(i).dataType == TimestampType) new Timestamp(v.asLong())
        else v.asText()
      })
    }.toSeq
  }

  def delete(names: Iterable[String]): Unit = names.foreach(n => fs.delete(new Path(path, n), false))

  /** `rows` as a DataFrame over a local relation (no job to build), every
    * column nullable as in a parquet read of the same schema.
    */
  def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(schema.map(_.copy(nullable = true))))

  private def encode(r: Row): Seq[Any] = schema.fields.indices.map { i =>
    if (r.isNullAt(i)) null
    else if (schema(i).dataType == TimestampType) r.getTimestamp(i).getTime
    else r.getString(i)
  }
}

private[graft] object RowLog {

  /** The non-hidden `.parquet` files directly under `dir` (none when it
    * does not exist): a table written as plain parquet in the earlier
    * format of the logs built on [[RowLog]].
    */
  def parquetFiles(fs: FileSystem, dir: String): Seq[Path] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath).filter { f =>
      val n = f.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq
  }
}
