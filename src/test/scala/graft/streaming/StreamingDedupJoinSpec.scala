package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming dedup with bounded state and stream–stream interval joins —
  * the two stateful shapes a continuously-ingesting training-data
  * pipeline needs beyond per-key watermarks: exactly-once-ish duplicate
  * suppression whose state EXPIRES (unbounded dedup state is the classic
  * streaming OOM at 100 TB/day), and correlating two live streams within
  * a bounded time window (impression→click / doc→annotation).
  */
class StreamingDedupJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Ev(station_id: String, pollutant: String, ts: Timestamp, value: Double, arrival: Long)

  test("dropDuplicatesWithinWatermark: duplicates suppressed while state lives, re-admitted after expiry") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = input
      .toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("station_id", "pollutant")
    val q = out.writeStream
      .format("memory")
      .queryName("ddww_out")
      .outputMode("append")
      .option("checkpointLocation", tempDir("ddww_ckpt"))
      .start()
    try {
      // batch 1: same (key) twice → one survivor
      input.addData(
        Ev("st1", "pm25", ts("2024-01-01 12:00:00"), 1.0, 1),
        Ev("st1", "pm25", ts("2024-01-01 12:05:00"), 2.0, 2)
      )
      q.processAllAvailable()
      // batch 2: same key while state is live → dropped; new key → passes
      input.addData(
        Ev("st1", "pm25", ts("2024-01-01 12:06:00"), 3.0, 3),
        Ev("st2", "o3", ts("2024-01-01 12:07:00"), 4.0, 4)
      )
      q.processAllAvailable()
      // batch 3: watermark jumps to 13:50 → st1 state (12:05 + 10 min) expires
      input.addData(Ev("st3", "no2", ts("2024-01-01 14:00:00"), 5.0, 5))
      q.processAllAvailable()
      // batch 4: the same key AFTER expiry is a new record again — this
      // is the bounded-state contract (suppression horizon = watermark
      // delay, not forever)
      input.addData(Ev("st1", "pm25", ts("2024-01-01 14:01:00"), 6.0, 6))
      q.processAllAvailable()
      val vals = spark.table("ddww_out").select("value").as[Double].collect().sorted.toSeq
      assert(vals == Seq(1.0, 4.0, 5.0, 6.0), s"got $vals")
    } finally q.stop()
  }

  test("stream-stream interval join: matches inside the window, bounded state via watermarks") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val impDf = imps
      .toDF()
      .select(col("station_id"), col("ts").as("imp_ts"), col("value").as("imp_v"))
      .withWatermark("imp_ts", "1 hour")
    val clickDf = clicks
      .toDF()
      .select(col("station_id").as("c_sid"), col("ts").as("click_ts"), col("value").as("click_v"))
      .withWatermark("click_ts", "2 hours")
    val joined = impDf.join(
      clickDf,
      expr(
        """station_id = c_sid AND
          |click_ts >= imp_ts AND
          |click_ts <= imp_ts + interval 1 hour""".stripMargin
      )
    )
    val q = joined.writeStream
      .format("memory")
      .queryName("ssj_out")
      .outputMode("append")
      .option("checkpointLocation", tempDir("ssj_ckpt"))
      .start()
    try {
      imps.addData(
        Ev("st1", "pm25", ts("2024-01-01 12:00:00"), 10.0, 1),
        Ev("st2", "pm25", ts("2024-01-01 12:00:00"), 20.0, 2)
      )
      q.processAllAvailable()
      clicks.addData(
        Ev("st1", "pm25", ts("2024-01-01 12:30:00"), 1.0, 3), // inside [imp, imp+1h] → joins
        Ev("st1", "pm25", ts("2024-01-01 14:00:00"), 2.0, 4), // outside the hour → no match
        Ev("st3", "pm25", ts("2024-01-01 12:30:00"), 3.0, 5) // unknown key → no match
      )
      q.processAllAvailable()
      val rows = spark
        .table("ssj_out")
        .select(col("station_id"), col("imp_v"), col("click_v"))
        .as[(String, Double, Double)]
        .collect()
        .toSeq
      assert(rows == Seq(("st1", 10.0, 1.0)), s"got $rows")
    } finally q.stop()
  }

  test("LEFT OUTER stream-stream join: null match emits only after the watermark closes the window") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val impDf = imps
      .toDF()
      .select(col("station_id"), col("ts").as("imp_ts"), col("value").as("imp_v"))
      .withWatermark("imp_ts", "10 minutes")
    val clickDf = clicks
      .toDF()
      .select(col("station_id").as("c_sid"), col("ts").as("click_ts"), col("value").as("click_v"))
      .withWatermark("click_ts", "10 minutes")
    val joined = impDf.join(
      clickDf,
      expr(
        """station_id = c_sid AND
          |click_ts >= imp_ts AND
          |click_ts <= imp_ts + interval 1 hour""".stripMargin),
      "left_outer")
    val q = joined.writeStream
      .format("memory")
      .queryName("ssj_outer")
      .outputMode("append")
      .option("checkpointLocation", tempDir("ssjo_ckpt"))
      .start()
    try {
      // one matching pair and one impression that will never match
      imps.addData(
        Ev("st1", "pm25", ts("2024-01-01 12:00:00"), 10.0, 1),
        Ev("st9", "pm25", ts("2024-01-01 12:00:00"), 90.0, 2)
      )
      clicks.addData(Ev("st1", "pm25", ts("2024-01-01 12:30:00"), 1.0, 3))
      q.processAllAvailable()
      // the INNER result is out already; the unmatched st9 row is NOT —
      // its window [12:00, 13:00] is still open under the watermark
      val early = spark.table("ssj_outer").select("station_id").as[String].collect().toSeq
      assert(early == Seq("st1"), s"got $early")
      // advance both watermarks far past 13:00 + 10 min → Spark can now
      // PROVE st9 will never match and must emit the null-padded row
      imps.addData(Ev("stX", "pm25", ts("2024-01-01 16:00:00"), 0.0, 4))
      clicks.addData(Ev("stY", "pm25", ts("2024-01-01 16:00:00"), 0.0, 5))
      q.processAllAvailable()
      // a second empty-ish batch lets the outer-eviction pass run
      imps.addData(Ev("stX", "pm25", ts("2024-01-01 16:30:00"), 0.0, 6))
      q.processAllAvailable()
      val rows = spark
        .table("ssj_outer")
        .select(col("station_id"), col("click_v"))
        .as[(String, Option[Double])]
        .collect()
        .toSeq
        .sortBy(_._1)
      assert(rows.exists(r => r._1 == "st9" && r._2.isEmpty),
        s"unmatched impression never emitted with null pad: $rows")
      assert(rows.exists(r => r._1 == "st1" && r._2.contains(1.0)), s"got $rows")
    } finally q.stop()
  }
}
