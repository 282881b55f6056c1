package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact deduplication (SURVEY.md §2.4 A3).
  *
  * The reference dedups each outgoing batch on (station_id, pollutant,
  * timestamp) keeping the FIRST occurrence in DE→NL→PL union order
  * (reference app/main.py:1194-1203). Spark's `dropDuplicates` keeps an
  * arbitrary row, so the deterministic form takes an explicit priority
  * order — that is what `firstWins` implements; it is the
  * oracle-checkable ground truth.
  *
  * Scale note: one shuffle on the dedup key, the same exchange
  * `dropDuplicates` pays, with a map-side partial aggregate ahead of it.
  */
object Dedup {

  /** A3 (deterministic): keep the first row per key ordered by `priority`
    * (the reference's implicit union order made explicit). Implemented as
    * min_by over the priority struct instead of a ranking window: plans
    * as partial+final SortAggregate, so a duplicate-heavy batch collapses
    * map-side and only one row per key per partition reaches the shuffle
    * (the window form shuffles every input row).
    */
  def firstWins(df: DataFrame, keys: Seq[String], priority: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        min_by(
          struct(df.columns.map(col).toIndexedSeq: _*),
          struct(priority.map(col): _*)
        ).as("__row")
      )
      .select(col("__row.*"))
}
