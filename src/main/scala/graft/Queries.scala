package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operator-inventory query registry (SURVEY.md §2 → SparkEntry).
  *
  * Conventions:
  *  - every query takes (spark, sfDir) and reads only Tables.* parquet;
  *  - aliases in the Spark plan and the oracle SQL are identical;
  *  - doubles aggregated via decimal(38,6) for order-independence;
  *  - stable trailing ORDER BY on a unique key.
  *
  * Each query section ends with one `query(name, builder, oracle)` line;
  * `all` and `oracles` derive from those declarations.
  */
object Queries extends QueriesCore
  with QueriesCuration
  with QueriesAnalytics
  with QueriesExact
  with QueriesGraph
  with QueriesJdbc
  with QueriesRegistry

/** One registered query: its driver-facing name, its plan builder and its
  * static DuckDB oracle — `None` when Verify generates the oracle
  * (`QueriesRegistry.dynamicOracles`).
  */
private[graft] final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The declaration list the query traits share. The buffer is lazy, so a
  * declaration works whichever trait initializes first.
  */
private[graft] trait QueryRegistration {
  private lazy val declared = scala.collection.mutable.ArrayBuffer.empty[Q]

  /** Declares one query; its oracle val must already be initialized. */
  protected final def query(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String]): Unit = {
    require(!oracle.contains(null), s"$name: oracle read before its val was initialized")
    declared += Q(name, build, oracle)
  }

  /** Every declared query by name; throws when a name is declared twice. */
  private[graft] final lazy val registered: Map[String, Q] = {
    val twice = declared.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty, s"query names declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    declared.map(q => q.name -> q).toMap
  }
}
