package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S12 (JDBC validation side-channel) against a real wire-protocol
  * source: the Derby embedded driver that ships in Spark's jar
  * directory backs an in-process `jdbc:derby:memory:` database that
  * stands in for the reference's Redshift connection
  * (`validate_data_redshift_firebolt.py:47-100`). Everything below
  * exercises the exact `spark.read.format("jdbc")` path a network URL
  * would take — only the URL differs in production.
  */
class DerbyJdbcSpec extends AnyFunSuite {

  // keep Derby's log noise out of the repo root
  System.setProperty("derby.stream.error.file", "/tmp/derby.log")

  private val url = "jdbc:derby:memory:graftval;create=true"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Deterministic 40-row "remote warehouse" table. */
  private lazy val seeded: Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute(
      """CREATE TABLE remote_orders (
        |  o_orderkey BIGINT NOT NULL,
        |  o_custkey BIGINT,
        |  o_totalprice DOUBLE,
        |  o_orderstatus VARCHAR(1),
        |  created TIMESTAMP)""".stripMargin)
    val ps = conn.prepareStatement(
      "INSERT INTO remote_orders VALUES (?, ?, ?, ?, ?)")
    (1 to 40).foreach { i =>
      ps.setLong(1, i.toLong)
      ps.setLong(2, (i % 7).toLong)
      ps.setDouble(3, i * 10.5)
      ps.setString(4, if (i % 3 == 0) "F" else "O")
      ps.setTimestamp(5, java.sql.Timestamp.valueOf(
        f"2024-01-${i % 28 + 1}%02d 00:00:00"))
      ps.addBatch()
    }
    ps.executeBatch()
    st.close(); ps.close(); conn.close()
  }

  test("readTable round-trips rows and schema through the JDBC source") {
    seeded
    val df = JdbcValidation.readTable(spark, url, "remote_orders")
    assert(df.count() == 40)
    assert(df.columns.map(_.toLowerCase).toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "created"))
    val sum = df.agg(sum_distinct(col("O_ORDERKEY"))).head.getLong(0)
    assert(sum == (1 to 40).sum.toLong)
  }

  test("readQuery pushes the aggregation to the remote engine") {
    seeded
    // the remote side computes the summary — only one row crosses
    // Derby's COUNT(*) is INTEGER — cast remote-side for a stable schema
    val df = JdbcValidation.readQuery(spark, url,
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS custsum
        |FROM remote_orders GROUP BY o_orderstatus""".stripMargin)
    val m = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val model = (1 to 40).groupBy(i => if (i % 3 == 0) "F" else "O")
      .map { case (k, is) =>
        k -> ((is.size.toLong, is.map(_ % 7).sum.toLong))
      }
    assert(m == model)
  }

  test("readPartitioned splits the scan into parallel range cursors") {
    seeded
    val df = JdbcValidation.readPartitioned(spark, url, "remote_orders",
      partitionColumn = "o_orderkey", lower = 1L, upper = 40L,
      numPartitions = 4)
    assert(df.rdd.getNumPartitions == 4)
    // range slicing must not drop or duplicate boundary rows
    assert(df.count() == 40)
    assert(df.select("O_ORDERKEY").distinct().count() == 40)
  }

  test("filters push down into the remote scan") {
    seeded
    val df = JdbcValidation.readTable(spark, url, "remote_orders")
      .filter(col("O_ORDERSTATUS") === "F")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("O_ORDERSTATUS"),
      s"filter not pushed into JDBC scan:\n$plan")
    assert(df.count() == (1 to 40).count(_ % 3 == 0))
  }
}
