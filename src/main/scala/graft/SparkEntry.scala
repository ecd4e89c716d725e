package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, CoreQueries, CurationQueries, DataPipelineQueries, EngineQueries, PipelineQueries, PlatformQueries, SemanticQueries, StreamingQueries, ValidationQueries}

/** Query registry, oracle SQL and the mains' session — see SURVEY.md §7. */
object SparkEntry {

  /** The local session every main starts: `local[n]` with n shuffle
    * partitions, n = `SPARK_GRAFT_CPUS` or else the JVM's processor
    * count; UTC session time, no UI, log level WARN. FAIR scheduling:
    * Bench's paired light-tail runner keeps two sub-second queries in
    * flight, and FIFO would starve the second of cores whenever the
    * first holds a wide stage (with one job in flight FAIR is FIFO).
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's core transaction: synthetic CDC batch staged,
    * deduped by the cascade, merged into `orders` (SURVEY §3.1).
    */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q17_cdc_merge(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ PipelineQueries.queries ++
      DataPipelineQueries.queries ++ ValidationQueries.queries ++
      StreamingQueries.queries ++ CurationQueries.queries ++
      SemanticQueries.queries ++ AnalyticsQueries.queries ++
      EngineQueries.queries ++ PlatformQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ PipelineQueries.oracles ++
      DataPipelineQueries.oracles ++ ValidationQueries.oracles ++
      StreamingQueries.oracles ++ CurationQueries.oracles ++
      SemanticQueries.oracles ++ AnalyticsQueries.oracles ++
      EngineQueries.oracles ++ PlatformQueries.oracles
}
