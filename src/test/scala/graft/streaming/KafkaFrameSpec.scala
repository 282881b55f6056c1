package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S11 contract: the producer's `value` envelope carries the full record
  * and reads back to it (the connector jar is absent offline; the frame
  * `.format("kafka")` would write is this one `value` column).
  */
class KafkaFrameSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val batch = Seq(
    ("st1", "pm25", ts("2024-01-01 12:00:00"), 1.5),
    ("st2", "o3", ts("2024-01-01 13:00:00"), 2.5)
  ).toDF("station_id", "pollutant", "ts", "value")

  test("value envelope round-trips the full record with micros timestamps") {
    val back = batch
      .select(ProducerLoop.envelope(batch).as("value"))
      .select(from_json(col("value"), batch.schema,
        Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")).as("r"))
      .select("r.*")
      .as[(String, String, Timestamp, Double)]
      .collect()
      .sortBy(_._1)
      .toSeq
    assert(back == Seq(
      ("st1", "pm25", ts("2024-01-01 12:00:00"), 1.5),
      ("st2", "o3", ts("2024-01-01 13:00:00"), 2.5)
    ))
  }
}
