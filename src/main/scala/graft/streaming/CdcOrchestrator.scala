package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.config.TableKeys

/** Multi-table CDC orchestration: one streaming query per configured
  * table, all sharing the session.
  *
  * This is the reference's concurrency model made explicit
  * (reference: FIX_TRANSACTION_CONFLICTS.md:9-15, 210-245 — tables
  * proceed in parallel, writes to one table are serialized): each table
  * gets its own stream+checkpoint, so per-table ordering is guaranteed by
  * the single `foreachBatch` writer while tables run concurrently on the
  * shared scheduler. Null-PK tables are skipped, mirroring
  * `get_table_keys` (handler.py:710-729).
  */
object CdcOrchestrator {

  final case class Running(table: String, query: StreamingQuery)

  /** Start one [[CdcStream]] per keyed table in `tableKeys`.
    *
    * @param schemas  per-table source schema (file streams need a fixed
    *                 schema up front)
    */
  def startAll(
      spark: SparkSession,
      root: String,
      storeRoot: String,
      checkpointRoot: String,
      tableKeys: TableKeys,
      schemas: Map[String, StructType],
      numBuckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): Seq[Running] = {
    // iterate the table universe (the schemas map), not just explicit
    // config entries — an unconfigured table takes the default key `id`
    // via keysFor, matching the reference's lookup (handler.py:710-729)
    schemas.keys.toSeq.sorted.flatMap { table =>
      tableKeys.keysFor(table) match {
        case None => None // explicit null PK ⇒ CDC skipped for this table
        case Some(keys) =>
          val cfg = CdcStream.Config(
            root = root, table = table, keys = keys,
            storeRoot = storeRoot, checkpointRoot = checkpointRoot,
            numBuckets = numBuckets)
          Some(Running(table, CdcStream.start(spark, cfg, schemas(table), trigger)))
      }
    }
  }
}
