package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import graft.jobs.Jobs
import graft.ops.{Rollup, WatermarkDedup}

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
  * (the Postgres `ingestion_cursors` table), replaced each batch through
  * [[graft.jobs.Jobs.replace]] (one one-task write to `<cursorDir>__tmp`,
  * then a rename-publish). The batch is computed once, by the emit: the
  * per-key max event times ride on the emit's own job as an observation
  * ([[graft.ops.Rollup.MaxTs]]), so no cache and no second pass is needed.
  *
  * Cursor state is held on the driver. Per absolute cursor dir, this
  * object keeps the cursors it last read or published (key → max event
  * time in micros) with the snapshot [[graft.jobs.Jobs.generation]] they
  * belong to, and reads the snapshot (schema supplied, no inference job)
  * only when the generation moved: at start-up, after another writer
  * published or the directory was removed, or after recovery restored
  * `__old`. The watermark's cursor side is a local relation built from
  * the held map, and the commit merges the observed maxima into it on the
  * driver. The held map is swapped in only after the publish returns, so
  * a failed commit leaves both disk and memory at the previous cursors.
  *
  * Scale posture: the held state is O(keys), one entry per (station,
  * pollutant): 576 in perfbench and about 6k in the reference. It is the
  * one exception to README's "no driver-side collects". Past driver
  * memory, the path is [[PerKeyWatermark]]'s state store, which keeps
  * per-key state on the executors.
  *
  * Trigger mirrors T1: ProcessingTime for the continuous loop,
  * AvailableNow for the one-shot modules (reference app/de_measurements.py).
  */
object ProducerLoop {

  /** The Kafka `value` envelope: every column of `df` as one JSON record,
    * timestamps in micros so event times survive the round trip. Both
    * producer loops emit exactly this column and no key, like the
    * reference's value-only JSON sends (SURVEY S11); with the connector on
    * the classpath, `select(envelope(df).as("value"))` is the frame
    * `.format("kafka")` writes. KafkaFrameSpec pins the round trip. */
  def envelope(df: DataFrame): Column =
    to_json(struct(df.columns.map(col).toIndexedSeq: _*), PerKeyWatermark.jsonOpts)

  /** The cursor snapshot's schema, fixed by `processBatch`: the keys as
    * strings plus `last_observed_at`. The JDBC cursor table reads back
    * with the same schema. */
  private[graft] def cursorSchema(keys: Seq[String]): StructType =
    StructType(keys.map(StructField(_, StringType)) :+ StructField("last_observed_at", TimestampType))

  /** Read the cursor snapshot if it exists, else an empty frame. A crash
    * between the publish's two renames leaves the snapshot only under
    * `__old`; [[Jobs.readSnapshot]] restores it first so it cannot read
    * as an empty set. */
  def readCursors(spark: SparkSession, cursorDir: String, keys: Seq[String]): DataFrame =
    Jobs.readSnapshot(spark, cursorDir, Some(cursorSchema(keys)))
      .getOrElse(cursorFrame(spark, keys, Rollup.MaxTs.zero))

  /** Held cursors in [[cursorSchema]], as a one-partition local relation:
    * its broadcast and its snapshot write each run as one task. */
  private[graft] def cursorFrame(spark: SparkSession, keys: Seq[String], cursors: Rollup.Maxima): DataFrame =
    spark.createDataFrame(
      cursors.iterator.map { case (k, t) =>
        Row.fromSeq(k :+ t.map(DateTimeUtils.microsToInstant).orNull)
      }.toSeq.asJava,
      cursorSchema(keys)).coalesce(1)

  /** The cursors last read or published for one (absolute cursor dir,
    * keys), with the snapshot generation they belong to. */
  private final case class Held(generation: Seq[(String, Long)], cursors: Rollup.Maxima)
  private val held = new ConcurrentHashMap[(String, Seq[String]), Held]()

  /** The held cursors for (`dir`, `keys`) if the snapshot's generation
    * has not moved, else the snapshot read afresh. The generation is taken
    * before the read, and a commit holds the generation of the files it
    * wrote itself ([[graft.jobs.Jobs.Published]]), so a publish by another
    * writer racing either can leave the held generation older than its
    * contents (read again next cycle), never newer. */
  private def currentCursors(spark: SparkSession, dir: String, keys: Seq[String]): Rollup.Maxima = {
    val gen = Jobs.generation(dir)
    Option(held.get((dir, keys))).filter(_.generation == gen).map(_.cursors).getOrElse {
      val cursors = Jobs.readSnapshot(spark, dir, Some(cursorSchema(keys))).fold(Rollup.MaxTs.zero) { snap =>
        Rollup.MaxTs.of(snap.select(Rollup.MaxTs.column(keys, "last_observed_at")).head().get(0))
      }
      held.put((dir, keys), Held(gen, cursors))
      cursors
    }
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
    val spark = batch.sparkSession
    val dir = new java.io.File(cursorDir).getAbsolutePath
    val base = currentCursors(spark, dir, keys)
    cycle(batch, keys, tsCol, arrivalCol, sinkDir, cursorFrame(spark, keys, base)) { observed =>
      val merged = Rollup.MaxTs.merge(base, observed)
      held.put((dir, keys), Held(Jobs.replace(cursorFrame(spark, keys, merged), dir).generation, merged))
    }
  }

  /** The producer cycle over any cursor store: watermark `batch` against
    * `cursors` (the key columns, read by name and cast to string, plus
    * `last_observed_at`), dedup it, emit the envelope to `sinkDir`, and
    * only then pass the per-key max event times, observed on the emit's
    * job, to `commit`.
    */
  private[graft] def cycle(
      batch: DataFrame,
      keys: Seq[String],
      tsCol: String,
      arrivalCol: String,
      sinkDir: String,
      cursors: DataFrame
  )(commit: Rollup.Maxima => Unit): Unit = {
    val keyed = batch.select(
      (batch.columns.map(col) ++ keys.map(k => col(k).cast("string").as(s"__k_$k"))).toIndexedSeq: _*
    )
    val kcols = keys.map(k => s"__k_$k")
    val fresh = WatermarkDedup.filterNewWithInBatch(
      keyed,
      cursors.select((keys.map(k => col(k).cast("string").as(s"__k_$k")) :+ col("last_observed_at")): _*),
      kcols,
      tsCol,
      arrivalCol
    )
    // 1. EMIT first (the Kafka envelope), observing the per-key max on
    // the way: the emit is the only pass over the batch ...
    val maxima = Observation()
    val emitted = fresh.observe(maxima, Rollup.MaxTs.column(kcols, tsCol).as("maxima")).drop(kcols: _*)
    emitted
      .select(envelope(emitted).as("value"))
      .write
      .mode(SaveMode.Append)
      .parquet(sinkDir)
    // 2. ... THEN advance cursors (commit-after-emit, T3). A crash
    // between 1 and 2 re-emits the batch next run: at-least-once with
    // downstream dedup, exactly the reference's contract.
    commit(Rollup.MaxTs.of(maxima.get("maxima")))
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
