package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S12: the JDBC validation side-channel — the reference's cross-DB
  * validator reaches its second engine over a wire protocol
  * (`validate_data_redshift_firebolt.py:47-100` — psycopg2 against
  * `pg_stat_user_tables` — and `:159-169`, per-table aggregate
  * queries).
  *
  * Spark-first shape: the remote engine is a `spark.read.format("jdbc")`
  * source, so any comparison against it is an ordinary DataFrame join,
  * not driver-side pandas. Reads can be PARTITIONED
  * (`partitionColumn`/bounds/`numPartitions`) so a big remote table
  * arrives as parallel range scans instead of one executor's single
  * cursor, and Catalyst pushes filters/projections
  * into the remote SQL (`PushedFilters` in the JDBCScan node) — at
  * 100 TB the side-channel pulls aggregates or key ranges, never the
  * raw table through one connection.
  *
  * Tested against the Derby embedded driver that ships with Spark's
  * jars (`DerbyJdbcSpec`): an in-process `jdbc:derby:memory:` database
  * stands in for the remote warehouse — same `DataSource V2` JDBC path
  * a network Postgres/Redshift URL would take, zero egress.
  */
object JdbcValidation {

  /** Whole-table read: `SELECT * FROM dbtable` on the remote engine.
    * Single connection — validation-sized tables only; use
    * [[readPartitioned]] for anything big.
    */
  def readTable(spark: SparkSession, url: String, dbtable: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", dbtable)
      .options(options).load()

  /** Arbitrary remote SQL — the reference's stats-view reads
    * (`pg_stat_user_tables`) and remote-side aggregates go through
    * here, so the REMOTE engine does the heavy aggregation and only
    * the summary crosses the wire.
    */
  def readQuery(spark: SparkSession, url: String, sql: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("query", sql)
      .options(options).load()

  /** Range-partitioned read: `numPartitions` parallel cursors over
    * `[lower, upper]` slices of a numeric `partitionColumn`. This is
    * the scale path — the only JDBC shape that survives a table too
    * large for one connection's cursor.
    */
  def readPartitioned(spark: SparkSession, url: String, dbtable: String,
      partitionColumn: String, lower: Long, upper: Long,
      numPartitions: Int,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", dbtable)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lower).option("upperBound", upper)
      .option("numPartitions", numPartitions)
      .options(options).load()
}
