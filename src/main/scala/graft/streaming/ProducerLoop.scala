package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import graft.jobs.Jobs
import graft.ops.{Place, Rollup, Upsert, WatermarkDedup}

/** The reference's producer cycle (§3.1 of SURVEY.md) as a Structured
  * Streaming job with foreachBatch:
  *
  *   per micro-batch: watermark-filter against the persisted cursor
  *   snapshot (J2) → in-batch first-wins dedup (A3/T4) → EMIT to the sink
  *   → only then GREATEST-merge the cursors forward (A4/T3,
  *   commit-after-emit: reference app/main.py:1342-1347).
  *
  * The sink is a parquet directory carrying the Kafka envelope
  * (`value` = to_json(struct(*)), reference app/main.py:1161-1182); with
  * the Kafka connector on the classpath the same frame writes via
  * `.format("kafka")` unchanged. Cursors persist as a parquet snapshot
  * (the Postgres `ingestion_cursors` table): each batch reads it with its
  * fixed schema supplied (no inference job), writes the merged cursors
  * once to `<cursorDir>__tmp` and publishes them by rename under the
  * [[graft.jobs.Jobs]] crash-consistency contract. The batch itself is
  * computed once: the emit and the cursor roll-up both read one cached
  * copy of the watermarked, deduplicated rows.
  *
  * Trigger mirrors T1: ProcessingTime for the continuous loop,
  * AvailableNow for the one-shot modules (reference app/de_measurements.py).
  */
object ProducerLoop {

  /** The exact frame `.format("kafka")` consumes: `key` (stable
    * per-record-key partitioning, so per-key ordering survives the
    * topic) + `value` (full-record JSON envelope, micros timestamps).
    * The connector jar is not on this offline classpath, so the sink
    * writes this frame to parquet — KafkaFrameSpec pins the schema
    * contract so the production swap is `.format("kafka")
    * .option("topic", ...)` and nothing else.
    */
  def kafkaFrame(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(
      to_json(struct(keys.map(col).toIndexedSeq: _*), PerKeyWatermark.keyJsonOpts).as("key"),
      envelope(df).as("value")
    )

  /** The Kafka `value` envelope: every column of `df` as one JSON record,
    * timestamps in micros so event times survive the round trip. Both
    * producer loops emit exactly this column. */
  def envelope(df: DataFrame): Column =
    to_json(struct(df.columns.map(col).toIndexedSeq: _*), PerKeyWatermark.jsonOpts)

  /** The cursor snapshot's schema, fixed by `processBatch`: the keys as
    * strings plus `last_observed_at`. The JDBC cursor table reads back
    * with the same schema. */
  private[graft] def cursorSchema(keys: Seq[String]): StructType =
    StructType(keys.map(StructField(_, StringType)) :+ StructField("last_observed_at", TimestampType))

  /** Read the cursor snapshot if it exists, else an empty frame. A crash
    * between the publish's two renames leaves the snapshot only under
    * `__old`; it is restored first so it cannot read as an empty set. */
  def readCursors(spark: SparkSession, cursorDir: String, keys: Seq[String]): DataFrame = {
    Jobs.recover(cursorDir)
    val dir = new java.io.File(cursorDir)
    if (dir.exists() && dir.list().nonEmpty) spark.read.schema(cursorSchema(keys)).parquet(cursorDir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], cursorSchema(keys))
  }

  /** One micro-batch of the producer cycle. Visible for tests. */
  def processBatch(
      batch: DataFrame,
      keys: Seq[String],
      tsCol: String,
      arrivalCol: String,
      sinkDir: String,
      cursorDir: String
  ): Unit = {
    val cursors = readCursors(batch.sparkSession, cursorDir, keys)
    cycle(batch, keys, tsCol, arrivalCol, sinkDir, cursors) { updates =>
      val merged = Upsert.greatestMerge(cursors, updates, keys, "last_observed_at")
      val tmp = cursorDir + "__tmp"
      merged.write.mode(SaveMode.Overwrite).parquet(tmp)
      Jobs.publish(tmp, cursorDir) // rename, not a second write — see the Jobs contract
    }
  }

  /** The producer cycle over any cursor store: watermark `batch` against
    * `cursors` (the keys as strings, then `last_observed_at`), dedup it,
    * emit the envelope to `sinkDir`, and only then pass the per-key max
    * event times (same schema as `cursors`) to `commit`.
    */
  private[graft] def cycle(
      batch: DataFrame,
      keys: Seq[String],
      tsCol: String,
      arrivalCol: String,
      sinkDir: String,
      cursors: DataFrame
  )(commit: DataFrame => Unit): Unit = {
    val keyed = batch.select(
      (batch.columns.map(col) ++ keys.map(k => col(k).cast("string").as(s"__k_$k"))).toIndexedSeq: _*
    )
    val kcols = keys.map(k => s"__k_$k")
    // cached with its key columns: the emit and the cursor roll-up both
    // read this one copy, so the chain behind `batch` runs once
    val fresh = Place.persisted(WatermarkDedup.filterNewWithInBatch(
      keyed,
      cursors.toDF((kcols :+ "last_observed_at"): _*),
      kcols,
      tsCol,
      arrivalCol
    ))
    try {
      // 1. EMIT first (the Kafka envelope) ...
      val emitted = fresh.drop(kcols: _*)
      emitted
        .select(envelope(emitted).as("value"))
        .write
        .mode(SaveMode.Append)
        .parquet(sinkDir)
      // 2. ... THEN advance cursors (commit-after-emit, T3). A crash
      // between 1 and 2 re-emits the batch next run: at-least-once with
      // downstream dedup, exactly the reference's contract.
      commit(Rollup.maxTsPerKey(fresh, kcols, tsCol).toDF((keys :+ "last_observed_at"): _*))
    } finally fresh.unpersist()
  }

  /** Launch the continuous producer over a streaming source. */
  def start(
      source: DataFrame,
      keys: Seq[String],
      tsCol: String,
      arrivalCol: String,
      sinkDir: String,
      cursorDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("300 seconds")
  ): StreamingQuery = {
    val writer: DataStreamWriter[Row] = source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-source fault isolation (T6) lives at the job level: a batch
        // failure fails this query, not sibling per-country queries.
        processBatch(batch, keys, tsCol, arrivalCol, sinkDir, cursorDir)
      }
    writer.start()
  }
}
