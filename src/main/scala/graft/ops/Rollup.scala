package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Aggregation / rollup operators (SURVEY.md §2.4, §2.5, T5).
  *
  * Mirrors the reference's per-key max (app/main.py:233-236) and exposes
  * the hourly rollup the reference's downstream consumers would run. All
  * are single hash-aggregates: Spark plans partial (map-side) + final
  * aggregation automatically, which is the distributed generalization of
  * the reference's in-batch `updates` dict.
  */
object Rollup {

  /** A1: per-key max event-time — the cursor snapshot builder, and the
    * one per-key max rule (the producer's roll-up, the JDBC cursor
    * upsert's pre-dedup and the cursor queries all call it).
    * reference app/main.py:233-236 (in-batch running max per key).
    */
  def maxTsPerKey(df: DataFrame, keys: Seq[String], tsCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(max(col(tsCol)).as("last_observed_at"))

  /** T5: tumbling-window rollup on event time, expressed with date_trunc so
    * the result is calendar-aligned (reference fetches are calendar-day /
    * 6h-window scans; hourly rollup is the natural downstream query).
    */
  def hourlyRollup(df: DataFrame, tsCol: String, keyCol: String): DataFrame =
    df.groupBy(
      date_trunc("hour", col(tsCol)).as("hour"),
      col(keyCol)
    ).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value")
    )

  /** §2.5: latest row per key — "latest value per key". Implemented as
    * max_by over a (ts, id) ordering struct rather than a ranking window.
    * Plans as partial+final SortAggregate (struct buffers aren't
    * hash-aggregable): the map-side partial reduces the shuffle to ONE
    * row per key per partition, where the window form shuffles every
    * input row before ranking — the difference that matters on a
    * duplicate-heavy 100 TB batch. Deterministic tie-break on idCol.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], tsCol: String, idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        max_by(
          struct(df.columns.map(col).toIndexedSeq: _*),
          struct(col(tsCol), col(idCol))
        ).as("__row")
      )
      .select(col("__row.*"))
}
