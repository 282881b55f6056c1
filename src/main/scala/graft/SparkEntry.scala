package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The program's entry points (SURVEY.md §7): `entry` is what `Smoke` runs,
  * `queries` what `Verify`, `Bench` and `PlanCheck fingerprints` run,
  * and `oracleSql` with `dynamicOracleSql` what `Verify` writes for the
  * DuckDB compare.
  *
  * Each `queries` entry re-expresses one operator family from SURVEY.md §2
  * Spark-first; `oracleSql` carries the DuckDB-equivalent ANSI SQL run by
  * the driver on the same parquet tables. Column names/aliases match
  * between the two on purpose — the driver sorts columns by name before
  * hashing values.
  *
  * Determinism rules used throughout (SURVEY.md §5.1):
  *  - every checked query ends in a stable ORDER BY on a unique key;
  *  - double-typed SUM/AVG go through decimal accumulation
  *    (`cast(decimal(38,6))` → exact, order-independent) then back to
  *    double, so Spark's partition-order-dependent float summation can
  *    never drift from DuckDB's;
  *  - timestamps in outputs are formatted to strings (the events table's
  *    physical ts type has shipped as both ns- and µs-precision parquet
  *    across testdata generations — Tables.events adapts, and strings
  *    are precision-neutral in checked outputs).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The "minimum end-to-end slice" of SURVEY.md §7.2: scan events →
    * exact-dedup (A3) → latest-per-key window (§2.5) → hourly rollup (T5)
    * → deterministic sort. Exercises scan→filter→dedup→window→agg→sort.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val deduped = Dedup.firstWins(ev, Seq("user_id", "event_type", "ts_ns"), Seq("event_id"))
    val latest = Rollup.latestPerKey(deduped, Seq("user_id", "event_type"), "ts_ns", "event_id")
    Rollup
      .hourlyRollup(latest, "ts", "event_type")
      .orderBy(col("hour"), col("event_type"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles

  /** Oracles that must be GENERATED against the verify corpus (round
    * 5): q30/q31/q107 derive LSH geometry from the corpus count at
    * runtime, so their SQL replay embeds that geometry only once the
    * count is known. Verify merges these over [[oracleSql]] when
    * writing oracle_sql.json. */
  def dynamicOracleSql(spark: SparkSession, sfDir: String): Map[String, String] =
    Queries.dynamicOracles(spark, sfDir)
}
