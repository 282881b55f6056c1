package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The operator-inventory query registry (SURVEY.md §2 → SparkEntry).
  *
  * Conventions:
  *  - every query takes (spark, sfDir) and reads only Tables.* parquet;
  *  - aliases in the Spark plan and the oracle SQL are identical;
  *  - doubles aggregated via decimal(38,6) for order-independence;
  *  - stable trailing ORDER BY on a unique key.
  *
  * The traits initialize their vals in the order mixed in below. The
  * sections of q174 and q184 (QueriesAnalytics) and q277 (QueriesExact)
  * must stay in their files: they define `BlockGraphSql` and
  * `DirectedBlockGraphSql`, which oracle vals initialized earlier
  * interpolate. Moving a section to a later trait nulls those oracles.
  */
object Queries extends QueriesCore
  with QueriesCuration
  with QueriesAnalytics
  with QueriesExact
  with QueriesGraph
  with QueriesJdbc
  with QueriesRegistry
