package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CdcDedup
import graft.sources.{MorStore, ParquetFooters}

/** The schema read from parquet footers on the driver equals the one
  * `spark.read.parquet` infers in a Spark job, for the files the CDC
  * apply reads.
  */
class FooterSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String = Files.createTempDirectory("graft-footer").toString

  /** `df` as one parquet file at `file`. */
  private def writeFile(df: DataFrame, file: String): String = {
    val out = tmpDir() + "/out"
    df.coalesce(1).write.parquet(out)
    val part = new File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    new File(file).getParentFile.mkdirs()
    Files.move(part.toPath, new File(file).toPath)
    file
  }

  private def assertSame(paths: Seq[String], merge: Boolean = false): Unit = {
    val inferred = spark.read.option("mergeSchema", merge.toString)
      .parquet(paths.map(_.replaceAll("([\\[\\]{}*?])", "\\\\$1")): _*).schema
    assert(ParquetFooters.schema(spark, paths, merge) == inferred)
  }

  test("a DMS file: Op, load_timestamp and DECIMAL columns, with and without Spark's footer key") {
    val fromSpark = writeFile(spark.sql(
      """SELECT CAST(1 AS BIGINT) AS id, 'U' AS Op, TIMESTAMP'2026-08-02 00:00:00' AS load_timestamp,
        |CAST(12.34 AS DECIMAL(10,2)) AS amount, CAST(1 AS DECIMAL(38,18)) AS rate,
        |DATE'2026-08-01' AS day, CAST(NULL AS STRING) AS note""".stripMargin),
      s"${tmpDir()}/fair/users/2026/08/02/spark.parquet")
    assertSame(Seq(fromSpark))

    // as a non-Spark writer (the DMS shape) lays it out: no Spark schema key
    val raw = s"${tmpDir()}/fair/users/2026/08/02/dms.parquet"
    val schema = MessageTypeParser.parseMessageType(
      """message dms {
        |  required binary Op (STRING);
        |  optional int64 load_timestamp (TIMESTAMP(MICROS,true));
        |  optional int64 id;
        |  optional binary name (STRING);
        |  optional int32 small (DECIMAL(9,2));
        |  optional int64 mid (DECIMAL(18,4));
        |  optional fixed_len_byte_array(16) big (DECIMAL(38,10));
        |  optional int32 day (DATE);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(raw)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
        .append("Op", "I").append("load_timestamp", 1754092800000000L).append("id", 7L)
        .append("name", "x").append("small", 1234).append("mid", 56789L)
        .append("day", 20000)
      w.write(g)
    } finally w.close()
    assertSame(Seq(raw))
    assert(ParquetFooters.schema(spark, Seq(raw)).fieldNames.toSeq ==
      Seq("Op", "load_timestamp", "id", "name", "small", "mid", "big", "day"))
  }

  test("nested array, map and struct columns") {
    val f = writeFile(spark.sql(
      """SELECT 1L AS id, array(1, 2) AS tags, map('a', 1) AS counts,
        |named_struct('x', 1.5D, 'ys', array('p', 'q'), 'inner', named_struct('z', 3)) AS s,
        |array(named_struct('k', 'a', 'v', map('m', array(1L)))) AS deep""".stripMargin),
      s"${tmpDir()}/nested.parquet")
    assertSame(Seq(f))
  }

  test("a file name with glob characters") {
    import spark.implicits._
    val f = writeFile(Seq((1L, "a", "I")).toDF("id", "v", "Op"),
      s"${tmpDir()}/fair/users/2026/08/02/batch[1]{a}.parquet")
    assertSame(Seq(f))
    val staged = CdcDedup.readCdcFiles(spark, Seq(f))
    assert(staged.drop(CdcDedup.IngestionSeqCol, "__source_file").schema ==
      spark.read.parquet(f.replaceAll("([\\[\\]{}*?])", "\\\\$1")).schema)
    assert(staged.count() == 1)
  }

  test("a MoR delta stack with an evolved column, merged as the resolve reads it") {
    import spark.implicits._
    val root = s"${tmpDir()}/t"
    val st = new MorStore(spark, root, Seq("k"))
    st.commitBase(Seq((1L, 10L)).toDF("k", "v"), 1L)
    st.commitDelta(Seq((2L, 20L, "U")).toDF("k", "v", "__op"), 2L)
    st.commitDelta(Seq((3L, 30L, "x", "U")).toDF("k", "v", "extra", "__op"), 3L,
      allowEvolution = true)
    st.commitDelta(Seq((4L, 40L, "U", 0L)).toDF("k", "v", "__op", "__seq"), 4L)
    val gens = new File(root).listFiles().filter(_.getName.startsWith("g=")).map(_.getPath).sorted
    assert(gens.length == 4)
    gens.foreach(g => assertSame(Seq(g)))
    assertSame(gens.tail.toSeq, merge = true)
    assert(ParquetFooters.schema(spark, gens.tail.toSeq, merge = true).fieldNames.toSet ==
      Set("k", "v", "extra", "__op", "__seq"))
    assert(st.read().collect().map(r => r.getAs[Long]("k") -> Option(r.getAs[String]("extra")))
      .toMap == Map(1L -> None, 2L -> None, 3L -> Some("x"), 4L -> None))
  }
}
