package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Top-level (encoders need outer-scope-free classes here). */
case class TwsEv(k: String, ts: Timestamp, v: Double)

/** Per-key watermark on Spark 4's transformWithState arbitrary-state
  * API (successor of flatMapGroupsWithState) with a ValueState handle.
  */
class PkwProcessor extends StatefulProcessor[String, TwsEv, (String, Double)] {
  @transient private var maxTs: org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    maxTs = getHandle.getValueState[Long]("maxTs", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[TwsEv],
      timerValues: TimerValues
  ): Iterator[(String, Double)] = {
    var cur = if (maxTs.exists()) maxTs.get() else Long.MinValue
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    rows.foreach { r =>
      val t = r.ts.getTime
      if (t > cur) { // strict >: equal timestamps are duplicates
        out += ((key, r.v))
        cur = t
      }
    }
    if (cur != Long.MinValue) maxTs.update(cur)
    out.iterator
  }
}

class TransformWithStateSpec extends SparkSpec {
  import spark.implicits._

  test("per-key watermark on transformWithState + RocksDB state store") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    implicit val sqlCtx = spark.sqlContext
    try {
      val input = MemoryStream[TwsEv]
      val out = input
        .toDS()
        .groupByKey(_.k)
        .transformWithState(new PkwProcessor, TimeMode.None(), OutputMode.Append())
      val q = out
        .toDF("k", "v")
        .writeStream
        .format("memory")
        .queryName("tws_out")
        .outputMode("append")
        .option("checkpointLocation", tempDir("tws_ckpt"))
        .start()
      try {
        input.addData(TwsEv("a", Timestamp.valueOf("2024-01-01 12:00:00"), 1.0))
        q.processAllAvailable()
        input.addData(
          TwsEv("a", Timestamp.valueOf("2024-01-01 12:00:00"), 2.0), // equal → drop
          TwsEv("a", Timestamp.valueOf("2024-01-01 13:00:00"), 3.0), // newer → pass
          TwsEv("b", Timestamp.valueOf("2020-01-01 00:00:00"), 4.0)  // new key → pass
        )
        q.processAllAvailable()
        val vals = spark.table("tws_out").select("v").as[Double].collect().sorted.toSeq
        assert(vals == Seq(1.0, 3.0, 4.0))
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
