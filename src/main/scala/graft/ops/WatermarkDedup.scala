package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J2/T2: per-key watermark filtering (SURVEY.md §2.3 J2, §2.9 T2).
  *
  * The reference keeps an independent watermark per (station_id, pollutant)
  * key (`ingestion_cursors`, app/main.py:110-117) and passes a record iff
  * its timestamp is STRICTLY newer than the cursor (app/main.py:234), with
  * fail-open semantics for keys without a cursor (app/main.py:223-231).
  *
  * Batch form: a filtering left join — the cursor side is a per-key scalar
  * snapshot, orders of magnitude smaller than the incoming facts, so it is
  * broadcast. At 100 TB the fact side never shuffles for this operator.
  * The producer (graft.streaming.ProducerLoop) passes its cursor side as
  * a local relation built from the cursors it holds on the driver, one
  * row per key, so its size is bounded by the key count.
  *
  * Streaming form: see graft.streaming.PerKeyWatermark
  * (flatMapGroupsWithState) — Spark's global `withWatermark` is a single
  * scalar, the reference's is per-key, hence the custom stateful operator.
  */
object WatermarkDedup {

  /** Keep rows of `incoming` whose `tsCol` is strictly newer than the
    * cursor for their key; rows whose key has no cursor pass (fail-open).
    * Rows with a NULL `tsCol` also pass: the reference fail-opens records
    * whose timestamp failed to parse (it appends them without comparing,
    * app/main.py `_filter_new_measurements`), and they never advance the
    * cursor (per-key `max` ignores nulls, so A1 cursor advancement
    * already excludes them).
    *
    * Join strategy is left to Catalyst/AQE on purpose: a cursor snapshot
    * is one row per key, which is broadcastable for most deployments but
    * can reach hundreds of MB at 10M+ keys — forcing `broadcast` here
    * would trade a shuffle for driver/executor OOM. AQE broadcasts it
    * automatically whenever it is actually small.
    */
  def filterNew(incoming: DataFrame, cursors: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val cur = cursors.select(
      (keys.map(col) :+ col("last_observed_at").as("__cursor_ts")): _*
    )
    incoming
      .join(cur, keys, "left")
      .filter(col("__cursor_ts").isNull || col(tsCol).isNull || col(tsCol) > col("__cursor_ts"))
      .drop("__cursor_ts")
  }

  /** Reference composite: within the batch, ALSO drop rows that are not
    * strictly newer than an earlier row of the same key in the same batch
    * (the reference checks its in-batch running max first,
    * app/main.py:233). Combined effect: per key, only a strictly
    * increasing-in-arrival-order prefix survives. For the deterministic
    * batch form we keep, per (key, ts), the earliest arrival (first-wins)
    * and then the strictly-newer-than-cursor filter.
    */
  def filterNewWithInBatch(
      incoming: DataFrame,
      cursors: DataFrame,
      keys: Seq[String],
      tsCol: String,
      arrivalCol: String
  ): DataFrame = {
    val deduped = Dedup.firstWins(incoming, keys :+ tsCol, Seq(arrivalCol))
    filterNew(deduped, cursors, keys, tsCol)
  }
}
