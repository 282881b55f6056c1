package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
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
    * one per-key max rule (the JDBC cursor upsert's pre-dedup and the
    * cursor queries call it; the producer's roll-up is its aggregator
    * form, [[MaxTs]]).
    * reference app/main.py:233-236 (in-batch running max per key).
    */
  def maxTsPerKey(df: DataFrame, keys: Seq[String], tsCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(max(col(tsCol)).as("last_observed_at"))

  /** Per-key max event time in micros, keyed by the key values as
    * strings. `None` is a key whose event times were all null: the null
    * that [[maxTsPerKey]]'s `max` gives such a group. */
  type Maxima = Map[Seq[String], Option[Long]]

  /** [[maxTsPerKey]] as one [[Aggregator]], for a max that must come out
    * of a job doing other work (the producer observes it on its emit).
    * `merge` is GREATEST, and a key missing on one side keeps the other
    * side's value, so it is also [[Upsert.greatestMerge]] on held maps. A
    * null time never beats a present one, as `max` skips nulls. Merging a
    * map into itself changes nothing, so a retried task cannot corrupt it.
    */
  object MaxTs extends Aggregator[(Seq[String], Option[Long]), Maxima, Maxima] {
    private def put(m: Maxima, k: Seq[String], t: Option[Long]): Maxima =
      m.updated(k, m.get(k).fold(t)(u => (u ++ t).maxOption))
    def zero: Maxima = Map.empty
    def reduce(m: Maxima, in: (Seq[String], Option[Long])): Maxima = put(m, in._1, in._2)
    def merge(a: Maxima, b: Maxima): Maxima = b.foldLeft(a) { case (m, (k, t)) => put(m, k, t) }
    def finish(m: Maxima): Maxima = m
    def bufferEncoder: Encoder[Maxima] = ExpressionEncoder[Maxima]()
    def outputEncoder: Encoder[Maxima] = ExpressionEncoder[Maxima]()

    /** The aggregate over `keys` (cast to string) and `tsCol`. */
    def column(keys: Seq[String], tsCol: String): Column =
      udaf(this, ExpressionEncoder[(Seq[String], Option[Long])]())(
        array(keys.map(k => col(k).cast("string")): _*), unix_micros(col(tsCol)))

    /** A [[column]] value as Spark hands it back (an observation's or a
      * row's map, keys as any Seq) in the held form. */
    def of(value: Any): Maxima = value.asInstanceOf[scala.collection.Map[scala.collection.Seq[String], Any]]
      .iterator.map { case (k, t) => k.toList -> Option(t).map(_.asInstanceOf[Long]) }.toMap
  }

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
