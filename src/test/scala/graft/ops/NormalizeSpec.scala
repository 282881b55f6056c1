package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}

/** Edge cases lifted from the reference's defensive code (SURVEY.md §5.2):
  * naive vs aware timestamps, DST transitions, invalid floats, pollutant
  * normalization, allowlist.
  */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def parse(s: String, zone: String = "UTC"): Option[String] =
    Seq(s)
      .toDF("raw")
      .select(date_format(Normalize.lenientTimestamp(col("raw"), zone), "yyyy-MM-dd HH:mm:ss").as("p"))
      .collect()
      .headOption
      .flatMap(r => Option(r.getString(0)))

  test("ISO with Z parses as UTC") {
    assert(parse("2024-03-01T12:30:00Z").contains("2024-03-01 12:30:00"))
  }

  test("ISO with explicit offset converts to UTC") {
    assert(parse("2024-03-01T12:30:00+02:00").contains("2024-03-01 10:30:00"))
  }

  test("naive T-separated interpreted in the given zone (Berlin, CET)") {
    // reference app/main.py:184-206: naive local → localize → UTC
    assert(parse("2024-01-15T12:00:00", "Europe/Berlin").contains("2024-01-15 11:00:00"))
  }

  test("naive space-separated (PL format) interpreted in Warsaw, CEST in summer") {
    assert(parse("2024-07-15 12:00:00", "Europe/Warsaw").contains("2024-07-15 10:00:00"))
  }

  test("DST spring-forward gap is handled without error") {
    // 2024-03-31 02:30 does not exist in Europe/Berlin (clocks jump 02→03)
    val p = parse("2024-03-31T02:30:00", "Europe/Berlin")
    assert(p.isDefined) // Spark resolves gap times by shifting; must not throw
  }

  test("garbage parses to null (fail-open upstream decides)") {
    assert(parse("not-a-date").isEmpty)
    assert(parse("").isEmpty)
  }

  test("toDoubleOrNull: invalid floats → null, valid strings → value") {
    val out = Seq("1.5", "N/A", "", "2", "-3.25")
      .toDF("x")
      .select(Normalize.toDoubleOrNull(col("x")).as("v"))
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(1.5), None, None, Some(2.0), Some(-3.25)))
  }

  test("toMeasurements: pm2.5 rewrite, allowlist, null-value drop") {
    val raw = Seq(
      ("s1", " PM2.5 ", "10.0", "c", "l", "50.0", "19.0", "2024-01-01T00:00:00Z"),
      ("s2", "benzene", "10.0", "c", "l", "50.0", "19.0", "2024-01-01T00:00:00Z"),
      ("s3", "pm10", "oops", "c", "l", "50.0", "19.0", "2024-01-01T00:00:00Z"),
      ("s4", "NO2", "5.5", null, null, "bad", "19.0", "2024-01-01 06:00:00")
    ).toDF("station_id", "pollutant", "value", "city", "location_name", "lat", "lon", "ts_raw")
    val out = Normalize.toMeasurements(raw, "de", "DE", "UTC")
    val rows = out.orderBy("station_id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("s1", "s4")) // s2 allowlist, s3 bad value
    assert(rows(0).getString(1) == "pm25")
    assert(rows(1).getString(1) == "no2")
    assert(rows(1).isNullAt(7)) // lat "bad" → null
    // location_name falls back to city (both null here stays null)
    assert(rows(1).isNullAt(6))
  }

  test("toMeasurements: the output record is the 11 measurement fields, named and typed, in order") {
    // the names the Kafka envelope carries and perfbench's sink check reads
    val raw = Seq(("s1", "pm10", "1.0", "c", "l", "50.0", "19.0", "2024-01-01T00:00:00Z"))
      .toDF("station_id", "pollutant", "value", "city", "location_name", "lat", "lon", "ts_raw")
    val fields = Normalize.toMeasurements(raw, "de", "DE", "UTC").schema.fields.map(f => f.name -> f.dataType)
    assert(fields.toSeq == Seq(
      "station_id" -> StringType, "pollutant" -> StringType, "value" -> DoubleType,
      "unit" -> StringType, "country" -> StringType, "city" -> StringType,
      "location_name" -> StringType, "lat" -> DoubleType, "lon" -> DoubleType,
      "timestamp" -> TimestampType, "source" -> StringType))
  }

  test("dropNullIsland and onlyAutomatic") {
    val st = Seq(
      ("a", Some(1.0), Some(2.0), "Automatyczna"),
      ("b", None, Some(2.0), "automatic"),
      ("c", Some(1.0), Some(2.0), "manual")
    ).toDF("station_id", "lat", "lon", "station_type")
    val out = Normalize.onlyAutomatic(Normalize.dropNullIsland(st)).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a"))
  }

  test("S4 positional payload decode: comp map, fallthrough, guards (reference shapes)") {
    // the reference's payload = [component_id, scope, value, next_ts, valid_flag]
    val raw = Seq(
      ("s1", "2024-01-15T10:00:00", Seq("1", "measurement", "12.5", "", "1")), // pm10
      ("s2", "2024-01-15T10:00:00", Seq("2", "measurement", "7.25", "", "0")), // pm25
      ("s3", "2024-01-15T10:00:00", Seq("9", "measurement", "3.0", "", "0")),  // unknown id falls through
      ("s4", "2024-01-15T10:00:00", Seq("5", "measurement", "oops", "", "0")), // bad value → dropped
      ("s5", "2024-01-15T10:00:00", Seq("7", "x")),                            // short array → dropped
      ("s6", "2024-01-15T10:00:00", Seq("7", "measurement", "1.0"))            // 3-element: kept, flag null
    ).toDF("station_id", "ts_str", "payload")
    val out = Normalize.decodeDePayload(raw).orderBy("station_id").collect()
    assert(out.map(_.getAs[String]("station_id")).toSeq == Seq("s1", "s2", "s3", "s6"))
    assert(out.map(_.getAs[String]("pollutant")).toSeq == Seq("pm10", "pm25", "9", "o3"))
    assert(out.forall(_.getAs[String]("unit") == "ug/m3"))
    assert(out(3).isNullAt(out(3).fieldIndex("valid_flag")))
    // Berlin 10:00 winter = UTC 09:00
    import org.apache.spark.sql.functions.date_format
    val utc = Normalize
      .decodeDePayload(raw)
      .select(date_format(org.apache.spark.sql.functions.col("ts_utc"), "HH:mm").as("h"))
      .distinct().collect().map(_.getString(0)).toSeq
    assert(utc == Seq("09:00"))
  }
}
