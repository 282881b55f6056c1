package graft


import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the `Tables.events` contract against BOTH physical `ts` shapes the
  * driver's testdata generator has shipped (int64 epoch-nanos from
  * TIMESTAMP(NANOS) parquet, and µs timestamp — both LTZ and NTZ), so a
  * testdata regeneration can never again silently break the 25 events
  * queries (round-6 postmortem). Contract under test:
  *   - `ts_ns`: LongType epoch nanos, equal to DuckDB `epoch_ns(ts)`;
  *   - `ts`: TimestampType truncated to µs;
  *   - column order: original columns (ts in place), ts_ns appended.
  */
class EventsSchemaSpec extends SparkSpec {

  /** 2001-09-09T01:46:40Z = 1e9 s; add some µs ticks. */
  private val micros = Seq(1000000000000000L, 1000000000000001L, 1000000003999999L)

  private def writeFixture(dir: String, tsType: DataType): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = micros.zipWithIndex.map { case (us, i) =>
      val tsVal: Any = tsType match {
        case LongType            => us * 1000L // epoch nanos, as nanosAsLong yields
        case TimestampType       => java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000L))
        case TimestampNTZType    => java.time.LocalDateTime.ofInstant(java.time.Instant.EPOCH.plusNanos(us * 1000L), java.time.ZoneOffset.UTC)
        case other               => fail(s"unhandled fixture type $other")
      }
      Row(i.toLong, tsVal, s"e$i")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("event_type", StringType)))
    spark.createDataFrame(rows.asJava, schema)
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def check(tsType: DataType): Unit = {
    val dir = tempDir(s"events_fixture_")
    writeFixture(dir, tsType)
    val ev = Tables.events(spark, dir)
    assert(ev.columns.toSeq == Seq("event_id", "ts", "event_type", "ts_ns"),
      s"column contract broken for $tsType")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.schema("ts_ns").dataType == LongType)
    val got = ev.orderBy("event_id")
      .select(col("ts_ns"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq == micros.map(_ * 1000L), s"ts_ns wrong for $tsType")
    assert(got.map(_._2).toSeq == micros, s"ts (µs) wrong for $tsType")
  }

  test("events contract holds for int64-nanos parquet (legacy generation)") {
    check(LongType)
  }

  test("events contract holds for timestamp[us] LTZ parquet") {
    check(TimestampType)
  }

  test("events contract holds for timestamp[us] NTZ parquet (current generation)") {
    check(TimestampNTZType)
  }

  test("events loader rejects an unsupported physical ts type") {
    val dir = tempDir("events_fixture_bad_")
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("event_id", LongType), StructField("ts", StringType)))
    spark.createDataFrame(Seq(Row(1L, "not-a-ts")).asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertThrows[IllegalStateException](Tables.events(spark, dir))
  }
}
