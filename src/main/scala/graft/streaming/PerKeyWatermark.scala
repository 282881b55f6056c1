package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** T2/J2 streaming form: an independent watermark per key, kept in the
  * state store via flatMapGroupsWithState.
  *
  * Spark's built-in `withWatermark` is a single global scalar; the
  * reference keeps one watermark per (station_id, pollutant)
  * (`ingestion_cursors`, reference app/main.py:110-117) and passes a
  * record iff its event time is STRICTLY newer than that key's cursor
  * (strict `>` at app/main.py:234), checking the in-batch running max
  * first (app/main.py:233). This operator reproduces exactly that:
  * per-key max-event-time state, strictly-increasing-prefix pass-through,
  * fail-open for keys with no state.
  *
  * Scale: state is partitioned by key across executors (the groupByKey
  * shuffle); each key's state is one long. 100 TB of events with 10M keys
  * is 80 MB of state per the whole cluster — trivially checkpointable.
  */
object PerKeyWatermark {

  /** Internal envelope: the full row travels as JSON so the operator is
    * schema-agnostic; key is the key columns as one JSON struct (see
    * `filterNew`). Public — the encoder's generated code must be able
    * to reach the class.
    */
  case class Keyed(key: String, ts: Timestamp, payload: String)

  /** Apply the per-key watermark to a (possibly streaming) DataFrame.
    * Rows pass iff strictly newer than all previously seen rows of the
    * same key (across and within micro-batches, in arrival order —
    * mirroring the reference's running-max check).
    */
  def filterNew(df: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val schema = df.schema
    val keyed = df
      .select(
        // JSON-struct key, NOT a joined string: any separator can occur in
        // the data (colliding distinct tuples), and concat_ws skips null
        // parts, merging different logical keys into one watermark.
        // ignoreNullFields=false keeps (null,"x") distinct from ("x",null).
        to_json(struct(keys.map(col).toIndexedSeq: _*), keyJsonOpts).as("key"),
        col(tsCol).as("ts"),
        // micros timestampFormat: the default JSON format writes millis
        // and would truncate event times through the envelope round-trip
        to_json(struct(df.columns.map(col).toIndexedSeq: _*), jsonOpts).as("payload")
      )
      .as[Keyed]

    val passed: Dataset[String] = keyed
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[Keyed], state: GroupState[Long]) => {
          var maxSeen = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          rows.foreach { r =>
            if (r.ts == null) {
              // fail-open like the batch twin (WatermarkDedup) and the
              // reference: unparseable-timestamp rows pass through and
              // never advance the watermark
              out += r.payload
            } else {
              val t = r.ts.getTime * 1000 + (r.ts.getNanos / 1000) % 1000
              if (t > maxSeen) { // strict >: equal timestamps are duplicates
                out += r.payload
                maxSeen = t
              }
            }
          }
          if (maxSeen != Long.MinValue) state.update(maxSeen)
          out.iterator
        }
      )

    passed
      .toDF("payload")
      .select(from_json(col("payload"), schema, jsonOpts).as("r"))
      .select("r.*")
  }

  /** Record-envelope options: micros timestamps (the default JSON
    * format writes millis). Shared with [[ProducerLoop.envelope]]. */
  private[streaming] val jsonOpts = Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  /** Key-envelope options: null fields must be serialized, or tuples
    * differing only in WHICH part is null would collide.
    */
  private[streaming] val keyJsonOpts = jsonOpts + ("ignoreNullFields" -> "false")
}
