package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** core relational pipeline, dedup, text & ANN foundations */
private[graft] trait QueriesCore extends QueryRegistration {
  this: QueriesCore with QueriesCuration with QueriesAnalytics with QueriesExact with QueriesGraph =>

  /** Decimal-accumulated, order-independent sum of a double column,
    * returned as double. Bit-identical between Spark and DuckDB because the
    * accumulation is exact and only the final value is a float operation.
    */
  private[graft] def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(38,6)")).cast("double")

  // ---------------------------------------------------------------- q1
  /** A1/A2-family pricing-summary aggregate (TPC-H Q1 shape) on lineitem:
    * grouped hash aggregate with partial+final split (SURVEY §2.4).
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  query("q1_agg", q1Agg, Some(q1Oracle))

  // ---------------------------------------------------------------- q2
  /** P4/P5/P6: filter battery — null guards + allowlist + range predicate,
    * all pushed to the parquet scan (SURVEY §2.2).
    */
  def q2Filter(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(col("l_quantity").isNotNull && col("l_discount").isNotNull)
      .filter(col("l_returnflag").isin("A", "R"))
      .filter(col("l_quantity") > 45.0)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_returnflag"),
        col("l_quantity")
      )
      // (l_orderkey, l_linenumber) is NOT unique in the generated data —
      // order by every output column so any ties are between identical rows.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))

  val q2Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
      |FROM lineitem
      |WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      |  AND l_returnflag IN ('A','R') AND l_quantity > 45.0
      |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin
  query("q2_filter", q2Filter, Some(q2Oracle))

  // ---------------------------------------------------------------- q3
  /** J1: broadcast dimension enrichment — customer⋈nation⋈region with both
    * dims broadcast (the reference's memoized station-meta lookup,
    * app/main.py:651-695, is exactly a broadcast hash join build side).
    */
  def q3Enrich(s: SparkSession, dir: String): DataFrame =
    Enrich
      .customerGeo(Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal")
      )
      .orderBy(col("r_name"), col("n_name"))

  val q3Oracle: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin
  query("q3_enrich", q3Enrich, Some(q3Oracle))

  // ---------------------------------------------------------------- q4
  /** J2: batch watermark anti-join. A cursor snapshot (max ts per key over
    * the first half of the stream by event_id) filters the second half:
    * keep iff no cursor for the key OR ts strictly newer (reference
    * app/main.py:209-237; strict `>` at :234, missing-key fail-open).
    */
  def q4Watermark(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val half = ev.filter(col("event_id") < 5000L)
    val cursors = Rollup.maxTsPerKey(half, Seq("user_id", "event_type"), "ts_ns")
    val incoming = ev.filter(col("event_id") >= 5000L)
    WatermarkDedup
      .filterNew(incoming, cursors, Seq("user_id", "event_type"), "ts_ns")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  val q4Oracle: String =
    """SELECT e.event_id, e.user_id, e.event_type, e.value
      |FROM events e
      |LEFT JOIN (
      |  SELECT user_id, event_type, MAX(ts) AS last_observed_at
      |  FROM events WHERE event_id < 5000 GROUP BY user_id, event_type
      |) c ON e.user_id = c.user_id AND e.event_type = c.event_type
      |WHERE e.event_id >= 5000
      |  AND (c.last_observed_at IS NULL OR e.ts > c.last_observed_at)
      |ORDER BY e.event_id""".stripMargin
  query("q4_watermark", q4Watermark, Some(q4Oracle))

  // ---------------------------------------------------------------- q5
  /** A3: deterministic first-wins exact dedup on the natural key
    * (reference app/main.py:1194-1203 keeps first in union order; here the
    * priority is event_id, the ingestion order).
    */
  def q5Dedup(s: SparkSession, dir: String): DataFrame =
    Dedup
      .firstWins(Tables.events(s, dir), Seq("user_id", "event_type", "ts_ns"), Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  val q5Oracle: String =
    """SELECT event_id, user_id, event_type, value FROM (
      |  SELECT event_id, user_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type, ts ORDER BY event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY event_id""".stripMargin
  query("q5_dedup", q5Dedup, Some(q5Oracle))

  // ---------------------------------------------------------------- q6
  /** §2.5: latest value per key (ranking window, desc). */
  def q6Latest(s: SparkSession, dir: String): DataFrame =
    Rollup
      .latestPerKey(Tables.events(s, dir), Seq("user_id", "event_type"), "ts_ns", "event_id")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"), col("event_type"))

  val q6Oracle: String =
    """SELECT event_id, user_id, event_type, value FROM (
      |  SELECT event_id, user_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin
  query("q6_latest", q6Latest, Some(q6Oracle))

  // ---------------------------------------------------------------- q7
  /** T5: hourly tumbling rollup on event time. Hour emitted as a formatted
    * string (ns-precision parquet reads at different precisions in Spark vs
    * DuckDB; strings are precision-neutral).
    */
  def q7Hourly(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type")
      )
      .agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("sum_value")
      )
      .orderBy(col("hour"), col("event_type"))

  val q7Oracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin
  query("q7_hourly", q7Hourly, Some(q7Oracle))

  // ---------------------------------------------------------------- q8
  /** U1/U2: schema-reconciling union of three "source" slices; one slice
    * is missing a column (the PL catalog's extra station_type shape,
    * SURVEY §2.7) and gets nulls.
    */
  def q8Union(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val a = c.filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), lit("a").as("src"))
    val b = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), lit("b").as("src"))
    val m = c.filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_custkey"), col("c_name"), lit("m").as("src"))
    Unions.unionLoose(Seq(a, b, m)).orderBy(col("c_custkey"), col("src"))
  }

  val q8Oracle: String =
    """SELECT c_custkey, c_name, c_acctbal, 'a' AS src FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal, 'b' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
      |UNION ALL
      |SELECT c_custkey, c_name, NULL AS c_acctbal, 'm' AS src FROM customer WHERE c_mktsegment = 'MACHINERY'
      |ORDER BY c_custkey, src""".stripMargin
  query("q8_union", q8Union, Some(q8Oracle))

  // ---------------------------------------------------------------- q9
  /** L1: top-k — Spark plans TakeOrderedAndProject (no global sort of the
    * full table; per-partition top-k then merge on the driver side of the
    * exchange — the scalable form at 100 TB).
    */
  def q9Topk(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_quantity"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .limit(100)

  val q9Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_quantity
      |LIMIT 100""".stripMargin
  query("q9_topk", q9Topk, Some(q9Oracle))

  // ---------------------------------------------------------------- q10
  /** A5: COALESCE-upsert — catalog merge where a new non-null value wins
    * and null update columns keep the old value (reference
    * app/main.py:636-645). Simulated with two customer snapshots.
    */
  def q10Upsert(s: SparkSession, dir: String): DataFrame = {
    val (base, updates) = catalogSnapshots(s, dir)
    Upsert.coalesceMerge(base, updates, "c_custkey").orderBy(col("c_custkey"))
  }

  /** The two customer catalog snapshots q10, q321 and q323 merge: the
    * even keys as the base, and every third key as the update batch with
    * `c_acctbal` raised by 100 and a null `c_mktsegment` (which the
    * COALESCE rule must not let overwrite the base value). */
  private[graft] def catalogSnapshots(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = Tables.customer(s, dir)
    val base = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    val updates = c.filter(col("c_custkey") % 3 === 0)
      .select(
        col("c_custkey"),
        col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"),
        lit(null).cast("string").as("c_mktsegment")
      )
    (base, updates)
  }

  val q10Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 2 = 0
      |), upd AS (
      |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
      |         CAST(NULL AS VARCHAR) AS c_mktsegment
      |  FROM customer WHERE c_custkey % 3 = 0
      |)
      |SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
      |       COALESCE(u.c_name, b.c_name) AS c_name,
      |       COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal,
      |       COALESCE(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment
      |FROM upd u FULL OUTER JOIN base b ON u.c_custkey = b.c_custkey
      |ORDER BY c_custkey""".stripMargin
  query("q10_upsert", q10Upsert, Some(q10Oracle))

  // ---------------------------------------------------------------- q11
  /** A4/A6: GREATEST-merge of two cursor snapshots — the watermark only
    * advances (reference app/main.py:257-270). Timestamps emitted at
    * microsecond precision strings (ns table, see Tables.events).
    */
  def q11Greatest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val oldCur = Rollup.maxTsPerKey(ev.filter(col("event_id") < 5000L), Seq("user_id", "event_type"), "ts_ns")
    val newCur = Rollup.maxTsPerKey(ev.filter(col("event_id") >= 5000L), Seq("user_id", "event_type"), "ts_ns")
    Upsert
      .greatestMerge(oldCur, newCur, Seq("user_id", "event_type"), "last_observed_at")
      .select(
        col("user_id"),
        col("event_type"),
        date_format(
          timestamp_micros(expr("last_observed_at div 1000")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).as("last_observed")
      )
      .orderBy(col("user_id"), col("event_type"))
  }

  val q11Oracle: String =
    """WITH oldc AS (
      |  SELECT user_id, event_type, MAX(ts) AS t FROM events WHERE event_id < 5000 GROUP BY 1,2
      |), newc AS (
      |  SELECT user_id, event_type, MAX(ts) AS t FROM events WHERE event_id >= 5000 GROUP BY 1,2
      |)
      |SELECT COALESCE(n.user_id, o.user_id) AS user_id,
      |       COALESCE(n.event_type, o.event_type) AS event_type,
      |       strftime(COALESCE(GREATEST(n.t, o.t), n.t, o.t), '%Y-%m-%d %H:%M:%S.%f') AS last_observed
      |FROM newc n FULL OUTER JOIN oldc o
      |  ON n.user_id = o.user_id AND n.event_type = o.event_type
      |ORDER BY user_id, event_type""".stripMargin
  query("q11_greatest", q11Greatest, Some(q11Oracle))

  // ---------------------------------------------------------------- q12
  /** F15/F16: JSON field access on the events.props payload (the
    * reference's nested-JSON path reads, app/main.py:529-531, 812-817).
    */
  def q12Json(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")
      )
      .filter(col("k").isNotNull)
      .orderBy(col("event_id"))

  val q12Oracle: String =
    """SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
      |ORDER BY event_id""".stripMargin
  query("q12_json", q12Json, Some(q12Oracle))

  // ---------------------------------------------------------------- q13
  /** S7-analogue: the one nested→flat generator (explode) — word counts
    * over exploded document tokens.
    */
  def q13Explode(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(50)

  val q13Oracle: String =
    """SELECT word, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word
      |ORDER BY n DESC, word
      |LIMIT 50""".stripMargin
  query("q13_explode", q13Explode, Some(q13Oracle))

  // ---------------------------------------------------------------- q14
  /** F7-F10: timestamp battery — calendar truncation, field extraction,
    * epoch seconds (exact, from the ns long), interval arithmetic.
    */
  def q14Timestamps(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(
        col("event_id"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        hour(col("ts")).cast("long").as("hour_of_day"),
        expr("ts_ns div 1000000000").as("epoch_s"),
        date_format(col("ts") + expr("INTERVAL 6 HOURS"), "yyyy-MM-dd HH:mm:ss").as("plus6h")
      )
      .orderBy(col("event_id"))

  val q14Oracle: String =
    """SELECT event_id,
      |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
      |  epoch_ns(ts) // 1000000000 AS epoch_s,
      |  strftime(ts + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S') AS plus6h
      |FROM events
      |ORDER BY event_id""".stripMargin
  query("q14_timestamps", q14Timestamps, Some(q14Oracle))

  // ---------------------------------------------------------------- q15
  /** F1-F6, F11, F17: scalar string battery (lower/upper/trim/substring/
    * regexp_replace/contains/split/length/concat/round).
    */
  def q15Strings(s: SparkSession, dir: String): DataFrame =
    Tables
      .part(s, dir)
      .select(
        col("p_partkey"),
        col("p_name"),
        lower(col("p_name")).as("lname"),
        upper(col("p_brand")).as("ubrand"),
        substring(col("p_name"), 1, 5).as("prefix5"),
        regexp_replace(col("p_name"), " ", "_").as("snake"),
        col("p_type").contains("STANDARD").as("is_standard"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        size(split(col("p_name"), " ")).cast("long").as("n_words"),
        round(col("p_retailprice") * 1.1, 2).as("inflated")
      )
      .orderBy(col("p_partkey"), col("p_name"))

  val q15Oracle: String =
    """SELECT p_partkey, p_name,
      |  lower(p_name) AS lname,
      |  upper(p_brand) AS ubrand,
      |  substring(p_name, 1, 5) AS prefix5,
      |  regexp_replace(p_name, ' ', '_', 'g') AS snake,
      |  contains(p_type, 'STANDARD') AS is_standard,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  p_brand || ':' || p_type AS brand_type,
      |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
      |  round(p_retailprice * 1.1, 2) AS inflated
      |FROM part
      |ORDER BY p_partkey, p_name""".stripMargin
  query("q15_strings", q15Strings, Some(q15Oracle))

  // ---------------------------------------------------------------- q16
  /** J1 (fact side): lineitem ⋈ part ⋈ supplier, both dims broadcast;
    * revenue rollup by brand.
    */
  def q16JoinParts(s: SparkSession, dir: String): DataFrame =
    Enrich
      .lineitemParts(Tables.lineitem(s, dir), Tables.part(s, dir), Tables.supplier(s, dir))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue")
      )
      .orderBy(col("p_brand"))

  val q16Oracle: String =
    """SELECT p_brand, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin
  query("q16_join_parts", q16JoinParts, Some(q16Oracle))

  // ---------------------------------------------------------------- q17
  /** A2: count by source/group (reference app/main.py:1205-1209). */
  def q17CountBy(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("lang"))

  val q17Oracle: String =
    """SELECT source, lang, COUNT(*) AS n
      |FROM documents
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin
  query("q17_count_by", q17CountBy, Some(q17Oracle))

  // ---------------------------------------------------------------- q18
  /** F7: lenient multi-format timestamp parsing round-trip. Raw strings in
    * three formats (ISO-'Z', ISO-naive, space-separated — the reference's
    * three inbound shapes, app/main.py:166-181, 1134) plus unparseable
    * garbage, pushed through Normalize.lenientTimestamp.
    */
  def q18ParseTs(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables
      .events(s, dir)
      .select(
        col("event_id"),
        when(col("event_id") % 97 === 0, lit("not-a-date"))
          .when(col("event_id") % 3 === 0, concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z")))
          .when(col("event_id") % 3 === 1, date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
          .as("ts_raw")
      )
    raw
      .select(
        col("event_id"),
        date_format(Normalize.lenientTimestamp(col("ts_raw")), "yyyy-MM-dd HH:mm:ss").as("parsed")
      )
      .orderBy(col("event_id"))
  }

  val q18Oracle: String =
    """WITH raw AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 97 = 0 THEN 'not-a-date'
      |         WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z'
      |         WHEN event_id % 3 = 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
      |         ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS ts_raw
      |  FROM events
      |)
      |SELECT event_id,
      |  strftime(COALESCE(
      |    TRY_STRPTIME(ts_raw, '%Y-%m-%dT%H:%M:%SZ'),
      |    TRY_STRPTIME(ts_raw, '%Y-%m-%dT%H:%M:%S'),
      |    TRY_STRPTIME(ts_raw, '%Y-%m-%d %H:%M:%S')), '%Y-%m-%d %H:%M:%S') AS parsed
      |FROM raw
      |ORDER BY event_id""".stripMargin
  query("q18_parse_ts", q18ParseTs, Some(q18Oracle))

  // ---------------------------------------------------------------- q19
  /** P1/P3/P5/P6/F13: the full measurement normalization pipeline — raw
    * string-typed rows with fallback chains, invalid numerics, a
    * disallowed pollutant, and mixed-format timestamps, normalized via
    * Normalize.toMeasurements (the reference's record builders,
    * app/main.py:769-783/902-916/1139-1153).
    */
  def q19Normalize(s: SparkSession, dir: String): DataFrame = {
    val pollByMod = when(col("event_id") % 13 === 0, lit(" PM2.5 "))
      .when(col("event_id") % 9 === 0, lit("pm25"))
      .when(col("event_id") % 9 === 1, lit("pm10"))
      .when(col("event_id") % 9 === 2, lit("NO2"))
      .when(col("event_id") % 9 === 3, lit("o3"))
      .when(col("event_id") % 9 === 4, lit("nox"))
      .when(col("event_id") % 9 === 5, lit("no"))
      .when(col("event_id") % 9 === 6, lit("co"))
      .when(col("event_id") % 9 === 7, lit("so2"))
      .otherwise(lit("benzene"))
    val raw = Tables
      .events(s, dir)
      .select(
        col("event_id"),
        concat(lit("ST"), (col("user_id") % 100).cast("string")).as("station_id"),
        pollByMod.as("pollutant"),
        when(col("event_id") % 50 === 0, lit("N/A"))
          .otherwise(col("value").cast("string"))
          .as("value"),
        when(col("user_id") % 10 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("city_"), (col("user_id") % 10).cast("string")))
          .as("city"),
        when(col("user_id") % 5 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("loc_"), col("user_id").cast("string")))
          .as("location_name"),
        when(col("event_id") % 41 === 0, lit("bad"))
          .otherwise((lit(50.0) + (col("user_id") % 100).cast("double") * 0.01).cast("string"))
          .as("lat"),
        (lit(19.0) + (col("user_id") % 100).cast("double") * 0.01).cast("string").as("lon"),
        when(col("event_id") % 3 === 0, concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z")))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
          .as("ts_raw")
      )
    Normalize
      .toMeasurements(raw, source = "de", country = "DE", naiveZone = "UTC")
      .select(
        col("station_id"),
        col("pollutant"),
        col("value"),
        col("unit"),
        col("country"),
        col("city"),
        col("location_name"),
        col("lat"),
        col("lon"),
        date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("source")
      )
      .orderBy(col("station_id"), col("pollutant"), col("ts"), col("value"), col("location_name"))
  }

  val q19Oracle: String =
    """WITH raw AS (
      |  SELECT event_id,
      |    'ST' || CAST(user_id % 100 AS VARCHAR) AS station_id,
      |    CASE WHEN event_id % 13 = 0 THEN ' PM2.5 '
      |         WHEN event_id % 9 = 0 THEN 'pm25'
      |         WHEN event_id % 9 = 1 THEN 'pm10'
      |         WHEN event_id % 9 = 2 THEN 'NO2'
      |         WHEN event_id % 9 = 3 THEN 'o3'
      |         WHEN event_id % 9 = 4 THEN 'nox'
      |         WHEN event_id % 9 = 5 THEN 'no'
      |         WHEN event_id % 9 = 6 THEN 'co'
      |         WHEN event_id % 9 = 7 THEN 'so2'
      |         ELSE 'benzene' END AS pollutant,
      |    CASE WHEN event_id % 50 = 0 THEN 'N/A' ELSE CAST("value" AS VARCHAR) END AS val_raw,
      |    CASE WHEN user_id % 10 = 0 THEN NULL ELSE 'city_' || CAST(user_id % 10 AS VARCHAR) END AS city,
      |    CASE WHEN user_id % 5 = 0 THEN NULL ELSE 'loc_' || CAST(user_id AS VARCHAR) END AS location_name,
      |    CASE WHEN event_id % 41 = 0 THEN 'bad'
      |         ELSE CAST(50.0 + CAST(user_id % 100 AS DOUBLE) * 0.01 AS VARCHAR) END AS lat_raw,
      |    CAST(19.0 + CAST(user_id % 100 AS DOUBLE) * 0.01 AS VARCHAR) AS lon_raw,
      |    CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z'
      |         ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS ts_raw
      |  FROM events
      |)
      |SELECT station_id,
      |  regexp_replace(lower(trim(pollutant)), 'pm2\.5', 'pm25') AS pollutant,
      |  TRY_CAST(val_raw AS DOUBLE) AS "value",
      |  'ug/m3' AS unit,
      |  'DE' AS country,
      |  city,
      |  COALESCE(location_name, city) AS location_name,
      |  TRY_CAST(lat_raw AS DOUBLE) AS lat,
      |  TRY_CAST(lon_raw AS DOUBLE) AS lon,
      |  strftime(COALESCE(
      |    TRY_STRPTIME(ts_raw, '%Y-%m-%dT%H:%M:%SZ'),
      |    TRY_STRPTIME(ts_raw, '%Y-%m-%dT%H:%M:%S'),
      |    TRY_STRPTIME(ts_raw, '%Y-%m-%d %H:%M:%S')), '%Y-%m-%d %H:%M:%S') AS ts,
      |  'de' AS source
      |FROM raw
      |WHERE TRY_CAST(val_raw AS DOUBLE) IS NOT NULL
      |  AND regexp_replace(lower(trim(pollutant)), 'pm2\.5', 'pm25') IN
      |      ('pm25','pm10','no2','o3','nox','no','co','so2')
      |ORDER BY station_id, pollutant, ts, "value", location_name""".stripMargin
  query("q19_normalize", q19Normalize, Some(q19Oracle))

  // ---------------------------------------------------------------- q20
  /** P2/P4/P7: station-catalog normalization — coordinate null-island drop
    * and the PL automatic-stations-only predicate (reference
    * app/main.py:400-401, 592-595).
    */
  def q20Stations(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables
      .supplier(s, dir)
      .select(
        concat(lit("S"), col("s_suppkey").cast("string")).as("station_id"),
        when(col("s_suppkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(lit(50.0) + (col("s_suppkey") % 90).cast("double"))
          .as("lat"),
        (lit(19.0) + (col("s_suppkey") % 90).cast("double")).as("lon"),
        when(col("s_suppkey") % 3 === 0, lit("Automatyczna"))
          .when(col("s_suppkey") % 3 === 1, lit("automatic"))
          .otherwise(lit("manual"))
          .as("station_type")
      )
    Normalize
      .onlyAutomatic(Normalize.dropNullIsland(raw))
      .orderBy(col("station_id"))
  }

  val q20Oracle: String =
    """WITH raw AS (
      |  SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS station_id,
      |    CASE WHEN s_suppkey % 7 = 0 THEN NULL
      |         ELSE 50.0 + CAST(s_suppkey % 90 AS DOUBLE) END AS lat,
      |    19.0 + CAST(s_suppkey % 90 AS DOUBLE) AS lon,
      |    CASE WHEN s_suppkey % 3 = 0 THEN 'Automatyczna'
      |         WHEN s_suppkey % 3 = 1 THEN 'automatic'
      |         ELSE 'manual' END AS station_type
      |  FROM supplier
      |)
      |SELECT station_id, lat, lon, station_type
      |FROM raw
      |WHERE lat IS NOT NULL AND lon IS NOT NULL
      |  AND contains(lower(station_type), 'automat')
      |ORDER BY station_id""".stripMargin
  query("q20_stations", q20Stations, Some(q20Oracle))

  // ---------------------------------------------------------------- q21
  /** Text quality scoring: per-doc token/uniqueness/stopword features and
    * the composite score (training-data pipeline extension).
    */
  def q21TextQuality(s: SparkSession, dir: String): DataFrame =
    TextStats
      .withQuality(Tables.documents(s, dir), "text")
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_uniq"),
        col("stop_count"),
        col("uniq_ratio"),
        col("stop_ratio"),
        col("mean_token_len"),
        col("quality_score")
      )
      .orderBy(col("doc_id"))

  val q21Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), f AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
      |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS BIGINT) AS stop_count,
      |    CAST(list_aggregate(list_transform(toks, x -> CAST(length(x) AS BIGINT)), 'sum') AS BIGINT) AS sum_len
      |  FROM t
      |)
      |SELECT doc_id, n_tokens, n_uniq, stop_count,
      |  CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS uniq_ratio,
      |  CAST(stop_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
      |  CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_token_len,
      |  0.4 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
      |  0.3 * (1.0 - CAST(stop_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
      |  0.3 * least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) AS quality_score
      |FROM f
      |ORDER BY doc_id""".stripMargin
  query("q21_text_quality", q21TextQuality, Some(q21Oracle))

  // ---------------------------------------------------------------- q22
  /** Language-ID heuristic: marker-token counts with fixed-precedence
    * argmax (training-data pipeline extension).
    */
  def q22LangId(s: SparkSession, dir: String): DataFrame =
    TextStats
      .withLangId(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("cnt_en"), col("cnt_es"), col("cnt_de"), col("lang_pred"))
      .orderBy(col("doc_id"))

  val q22Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), c AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS cnt_en,
      |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS BIGINT) AS cnt_es,
      |    CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS cnt_de
      |  FROM t
      |)
      |SELECT doc_id, cnt_en, cnt_es, cnt_de,
      |  CASE WHEN cnt_en >= cnt_es AND cnt_en >= cnt_de AND cnt_en > 0 THEN 'en'
      |       WHEN cnt_es >= cnt_de AND cnt_es > 0 THEN 'es'
      |       WHEN cnt_de > 0 THEN 'de'
      |       ELSE 'unknown' END AS lang_pred
      |FROM c
      |ORDER BY doc_id""".stripMargin
  query("q22_lang_id", q22LangId, Some(q22Oracle))

  // ---------------------------------------------------------------- q23
  /** Document fingerprinting: whitespace-normalized md5 (engine-portable;
    * the rolling-hash variant is engine-native and spec-tested).
    */
  def q23Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val q23Oracle: String =
    """SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  query("q23_fingerprint", q23Fingerprint, Some(q23Oracle))

  // ---------------------------------------------------------------- q24
  /** Exact text dedup at scale: hash-groupBy on the fingerprint, keep the
    * smallest doc_id per group (one shuffle on the 32-char key, not the
    * full document).
    */
  def q24DedupText(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .groupBy(TextStats.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper"))

  val q24Oracle: String =
    """SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
      |  MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keeper""".stripMargin
  query("q24_dedup_text", q24DedupText, Some(q24Oracle))

  // ---------------------------------------------------------------- q25
  /** Similarity search, exact baseline: cosine top-5 for 10 query vectors
    * over the embedding corpus (broadcast queries, ranked on cosine
    * rounded to 4 decimals for cross-engine determinism).
    */
  def q25KnnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity
      .bruteTopK(e, e.filter(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q25Oracle: String =
    """SELECT query_id, rank, neighbor_id, sim FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS sim,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
      |               c.vec_id) AS rank
      |  FROM embeddings c, embeddings q
      |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
      |) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  query("q25_knn_brute", q25KnnBrute, Some(q25Oracle))

  // ---------------------------------------------------------------- q26
  /** Token counting: whitespace tokens vs BPE-ish regex pre-tokenization. */
  def q26TokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_ws"),
        size(TextStats.bpeishTokens(col("text"))).cast("long").as("n_bpe"),
        col("n_chars")
      )
      .orderBy(col("doc_id"))

  val q26Oracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
      |  n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  query("q26_token_counts", q26TokenCounts, Some(q26Oracle))

  // ---------------------------------------------------------------- q27
  /** MinHash+LSH near-dup detection — the TIMED production path over the
    * full corpus. Candidates from 16×16 banding (at threshold 0.9 that
    * keeps ~0.96+ recall while admitting ~10× fewer mid-similarity
    * candidates than 8×8), verified at exact token-set Jaccard ≥ 0.9.
    *
    * ORACLED since round 6 ([[q27OracleFor]], dynamic): the replay
    * embeds ONLY the banded signatures (the murmur3/xxhash64 half with
    * no DuckDB equivalent) as literals; everything downstream — the
    * exact-dup collapse, the candidate self-join, the size-ratio
    * prefilter, the exact-Jaccard verification computed from the raw
    * text, the member expansion and the census arithmetic — is replayed
    * relationally. (Round 5 judged this impossible on the theory the
    * replay would embed the output; it embeds the pre-verification
    * signatures, so the verified stream is genuinely re-derived.)
    * Ground truth for the hashed half stays the oracled chain: q46
    * (exact pairs), q48 (recall vs q46), q33 (assignment core).
    *
    * Round-4 split (the q46 pattern): this corpus's 31-word vocabulary
    * yields ~941k true pairs at sf0.1, so materializing + globally
    * sorting the pair LIST made the benched number measure output
    * volume, not the dedup pipeline. The registry entry now reduces the
    * full-corpus pair stream to its linear-size census — total /
    * exact-dup / near-dup pair counts (jac = 1 ⟺ identical token sets,
    * so the split is exact) and the decimal-staged mean Jaccard.
    * Pair-level ground truth stays driver-certified on the bounded
    * slice: q46 (exact pair list, oracled) and q48 (recall vs that
    * list); q33 is the per-doc assignment form (the 100 TB output
    * shape). The full pair list remains the public
    * TextDedup.nearDupsMinhash surface — unchanged.
    */
  def q27MinhashDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup
      .nearDupsMinhash(Tables.documents(s, dir), "doc_id", "text", threshold = 0.9, bands = 16, rows = 16)
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("jac") === 1.0, 1L).otherwise(0L)).as("n_exact_dup_pairs"),
        sum(when(col("jac") < 1.0, 1L).otherwise(0L)).as("n_near_dup_pairs"),
        // empty-corpus guard: zero candidate pairs must yield a
        // well-defined census row (nulls, not a 0/0), not a silent
        // schema-semantics change
        when(count(lit(1)) > 0,
          round(sum(col("jac").cast("decimal(38,12)")).cast("double") / count(lit(1)), 6))
          .as("mean_jac"),
        when(count(lit(1)) > 0, round(min(col("jac")), 6)).as("min_jac")
      )

  query("q27_minhash_dedup", q27MinhashDedup, None)

  // ---------------------------------------------------------------- q28
  /** SimHash signatures.
    *
    * ORACLED since round 6 ([[q28OracleFor]], dynamic): through round 5
    * this was "no oracle — the signature IS the output". That
    * underclaimed: the only genuinely engine-native input is
    * xxhash64(token), and the corpus vocabulary is tiny (31 distinct
    * tokens at verify scale), so the per-token hash DICTIONARY embeds
    * as literals and DuckDB replays everything downstream —
    * tokenization, distinctness, all 64 bit votes, the sign packing
    * (bit 63 as the −2⁶³ term; DuckDB's `>>` is arithmetic like
    * Spark's shiftright, probed), the pairwise Hamming/Jaccard audit
    * and the Pearson correlation. The trusted-literal split is exactly
    * q94's: the codebook (here: 31 token hashes) is engine-granted,
    * the algorithm is independently recomputed.
    *
    * SELF-AUDITING (the q48/q49 pattern): every row carries
    * `audit_ham_jac_corr`, the Pearson correlation between pairwise
    * simhash Hamming distance and exact token-set Jaccard over the
    * bounded doc_id<500 slice. SimHash's contract is exactly that
    * Hamming distance tracks set overlap, so a sound implementation
    * shows a strong NEGATIVE correlation (measured −0.79 on this
    * corpus); a broken bit-vote would push it toward 0. The driver's
    * rows-only record still pins a readable pass/fail figure.
    */
  def q28Simhash(s: SparkSession, dir: String): DataFrame = {
    val sigs = Tables
      .documents(s, dir)
      .select(col("doc_id"), TextDedup.simhash64(TextDedup.tokenSet(col("text"))).as("simhash"))
    val slice = Tables
      .documents(s, dir)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), TextDedup.tokenSet(col("text")).as("toks"))
      // second select so simhash reads the materialized toks attribute —
      // one tokenization per row, and both columns provably share it
      .select(col("doc_id"), col("toks"), TextDedup.simhash64(col("toks")).as("sh"))
      .transform(Place.materialized) // eager: both cross-join sides race to fill this cache
    val a = slice.select(col("doc_id").as("id_a"), col("toks").as("toks_a"), col("sh").as("sh_a"))
    val b = slice.select(col("doc_id").as("id_b"), col("toks").as("toks_b"), col("sh").as("sh_b"))
    val audit = a
      .crossJoin(b) // bounded audit baseline: 500×500 slice pairs by construction
      .filter(col("id_a") < col("id_b"))
      .select(
        TextDedup.hamming64(col("sh_a"), col("sh_b")).cast("double").as("ham"),
        TextDedup.jaccard(col("toks_a"), col("toks_b")).as("jac")
      )
      .agg(round(corr(col("ham"), col("jac")), 4).as("audit_ham_jac_corr"))
    sigs.crossJoin(broadcast(audit)).orderBy(col("doc_id"))
  }
  query("q28_simhash", q28Simhash, None)

  // ---------------------------------------------------------------- q29
  /** Bigram-shingle Jaccard near-dups with source-blocked pairing. */
  def q29NgramJaccard(s: SparkSession, dir: String): DataFrame =
    TextDedup
      .nearDupsNgram(Tables.documents(s, dir), "doc_id", "text", "source", n = 2, threshold = 0.5)
      .select(col("source"), col("id_a"), col("id_b"), col("jac"))
      .orderBy(col("source"), col("id_a"), col("id_b"))

  val q29Oracle: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    list_distinct(list_transform(
      |      range(0, greatest(len(string_split_regex(trim(text), '\s+')) - 1, 1)),
      |      i -> array_to_string(string_split_regex(trim(text), '\s+')[i+1:i+2], ' '))) AS sh
      |  FROM documents
      |)
      |SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
      |  CAST(len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jac
      |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
      |      CAST(len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) >= 0.5
      |ORDER BY 1, id_a, id_b""".stripMargin
  query("q29_ngram_jaccard", q29NgramJaccard, Some(q29Oracle))

  // ---------------------------------------------------------------- q30
  /** ANN top-k via random-hyperplane LSH (approximate scale path;
    * recall vs brute force asserted in SimilaritySpec and audited
    * in-registry by q49). (nbits, tables) derived by
    * Similarity.lshParams at this corpus's neighbor-cosine regime
    * (~0.4), with radius-1 multiprobe on the query side — same recall
    * contract from ~4-5× fewer tables than exact-bucket probing, so the
    * corpus-side explode (the cost that scales with n) shrinks by the
    * same factor. ORACLED since round 5 via the DYNAMIC generated-SQL
    * replay ([[q30OracleFor]]): Verify reads the corpus count, derives
    * the same adaptive geometry, and emits the full LshSql replay — the
    * policy stays adaptive AND the output is driver-certified.
    */
  def q30AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // construction-time count = parquet metadata read (see q31)
    val (nbits, tables) =
      Similarity.lshParams(e.count(), targetCosine = 0.4, probeHamming = 1)
    Similarity
      .annTopK(e, e.filter(col("vec_id") < 10), k = 5, nbits = nbits, tables = tables, probes = 1)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }
  query("q30_ann_lsh", q30AnnLsh, None)

  // ---------------------------------------------------------------- q31
  /** Embedding near-duplicate pairs at cosine ≥ 0.35 via shared LSH
    * buckets (the exact baseline is q45, against which recall is
    * measured in SimilaritySpec; ORACLED since round 5 via the dynamic
    * LshSql replay, [[q31OracleFor]]). (nbits, tables) come from Similarity.lshParams at
    * the query's own threshold — the corpus's near-dups sit at cosine
    * 0.35-0.5 where sign-sketch bits agree only ~61% of the time, so
    * the policy picks shallow buckets and many tables, and keeps doing
    * so correctly as the corpus grows (round-1 used hand-tuned 4×12).
    * Radius-1 multiprobe on one self-join side cuts the table count
    * ~4× at the same recall target.
    */
  def q31EmbedNearDups(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // the corpus count at construction time is a parquet metadata read
    // (footer row counts), not a data scan — the price of adaptivity
    val (nbits, tables) =
      Similarity.lshParams(e.count(), targetCosine = 0.35, probeHamming = 1)
    Similarity
      // spread: the sketch pass (tables×nbits×64 mults per vector) ran as one task (r15)
      .nearDupsEmbedding(
        Place.spread(e, col("vec_id")),
        threshold = 0.35, nbits = nbits, tables = tables, probes = 1)
      .orderBy(col("id_a"), col("id_b"))
  }
  query("q31_embed_neardups", q31EmbedNearDups, None)

  // ---------------------------------------------------------------- q45
  /** Exact embedding near-dup pairs (cosine >= 0.35) — the brute-force
    * correctness baseline for the LSH-approximate q31. O(n²) by design:
    * the audit-scale form (fine for a dimension-sized corpus; q31 is the
    * production path). Oracle: DuckDB list_cosine_similarity cross join.
    */
  def q45EmbedNearDupsExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(Similarity.cosine(col("va"), col("vb")), 4).as("sim"))
      .filter(col("sim") >= 0.35)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q45Oracle: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
      |FROM embeddings a, embeddings b
      |WHERE a.vec_id < b.vec_id
      |  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin
  query("q45_embed_neardups_exact", q45EmbedNearDupsExact, Some(q45Oracle))

  // ---------------------------------------------------------------- q46
  /** Exact token-set Jaccard >= 0.9 pairs on a BOUNDED slice (doc_id <
    * 500, i.e. sf0.01-sized regardless of SF) — the text-space exact
    * baseline that grounds the LSH-approximate q27, the way q45 grounds
    * q31. O(n²) on the slice by design (audit scale only). Oracle:
    * DuckDB list_filter-intersect pairwise Jaccard (the q29 pattern).
    */
  def q46TextNearDupsExact(s: SparkSession, dir: String): DataFrame =
    TextDedup
      .nearDupsExact(
        Tables.documents(s, dir).filter(col("doc_id") < 500),
        "doc_id",
        "text",
        threshold = 0.9
      )
      .orderBy(col("id_a"), col("id_b"))

  val q46Oracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(string_split_regex(trim(text), '\s+')) AS tk
      |  FROM documents WHERE doc_id < 500
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
      |  CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) AS jac
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
      |      CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin
  query("q46_text_neardups_exact", q46TextNearDupsExact, Some(q46Oracle))

  // ---------------------------------------------------------------- q48
  /** In-registry recall of the LSH minhash path (q27's 16×16 banding at
    * threshold 0.9) against the exact q46 baseline, on the same bounded
    * slice. One row: (n_exact, n_found, recall). The LSH side verifies
    * candidates with exact Jaccard, so found ⊆ exact — no false
    * positives; recall is the only degree of freedom.
    *
    * ORACLED since round 6 ([[q48OracleFor]], dynamic): the slice's
    * banded signatures are embedded as literals and the found-pair set
    * re-derived relationally (candidates + size-ratio + exact-Jaccard
    * verification from raw text), then scored against the exact pair
    * list — only the hash values themselves are taken as given, so the
    * oracle checks the recall ARITHMETIC and the whole candidate→verify
    * pipeline, not the LSH side against itself.
    */
  def q48MinhashRecall(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.documents(s, dir).filter(col("doc_id") < 500)
    val exact = TextDedup
      .nearDupsExact(slice, "doc_id", "text", threshold = 0.9)
      .select(col("id_a"), col("id_b"))
    val found = TextDedup
      .nearDupsMinhash(slice, "doc_id", "text", threshold = 0.9, bands = 16, rows = 16)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    exact
      .join(found, Seq("id_a", "id_b"), "left")
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_found")
      )
      .select(
        col("n_exact"),
        col("n_found"),
        round(col("n_found").cast("double") / col("n_exact").cast("double"), 4).as("recall")
      )
  }
  query("q48_minhash_recall", q48MinhashRecall, None)

  // ---------------------------------------------------------------- q55
  /** SCD2 dimension history: collapse each user's event stream into
    * versioned validity intervals — a new version opens whenever the
    * tracked attribute (event_type) changes; valid_to is the next
    * version's valid_from (null = current). The lag-filter-lead window
    * composition every warehouse uses for slowly-changing dimensions.
    * One shuffle (partitionBy user); change-point filtering happens
    * before the second window pass, so version numbering runs over the
    * (much smaller) change rows only.
    */
  def q55Scd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // micros, not nanos: DuckDB's epoch_ns on this table yields
    // micro-precision values (the q39/q41 parity recipe), so validity
    // bounds and window order run on exact micros on BOTH sides
    val ev = Tables
      .events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val changes = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    changes
      .withColumn("version", row_number().over(w2))
      // open versions use -1, not null: nullable int64 decays to float64
      // in arrow/pandas on one side of the differential compare
      .withColumn("valid_to_us", coalesce(lead(col("ts_us"), 1).over(w2), lit(-1L)))
      .select(
        col("user_id"),
        col("version"),
        col("event_type"),
        col("ts_us").as("valid_from_us"),
        col("valid_to_us")
      )
      .orderBy(col("user_id"), col("version"))
  }

  val q55Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us, event_id FROM events
      |), marked AS (
      |  SELECT user_id, event_type, ts_us, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
      |  FROM ev
      |), changes AS (
      |  SELECT user_id, event_type, ts_us, event_id FROM marked
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |)
      |SELECT user_id,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS version,
      |  event_type,
      |  ts_us AS valid_from_us,
      |  COALESCE(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id), -1) AS valid_to_us
      |FROM changes
      |ORDER BY user_id, version""".stripMargin
  query("q55_scd2", q55Scd2, Some(q55Oracle))

  // ---------------------------------------------------------------- q58
  /** Gopher-style repetition quality signals per document: duplicated
    * 3-gram fraction + most-frequent-token share
    * (TextStats.withRepetition) — the boilerplate/spam detectors the
    * published LLM corpus-quality rules use alongside length/stopword
    * heuristics (q21). Doubles round to 6 for cross-engine stability.
    */
  def q58Repetition(s: SparkSession, dir: String): DataFrame =
    TextStats
      .withRepetition(Tables.documents(s, dir), "text", n = 3)
      .select(
        col("doc_id"),
        round(col("dup_ngram_ratio"), 6).as("dup_ngram_ratio"),
        round(col("top_token_ratio"), 6).as("top_token_ratio")
      )
      .orderBy(col("doc_id"))

  val q58Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, toks,
      |    list_transform(
      |      range(0, greatest(len(toks) - 3, 0) + 1),
      |      i -> array_to_string(toks[i+1:i+3], ' ')) AS grams
      |  FROM t
      |)
      |SELECT doc_id,
      |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE), 6) AS dup_ngram_ratio,
      |  round(CAST(list_max(list_transform(list_distinct(toks),
      |          u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE) /
      |        CAST(len(toks) AS DOUBLE), 6) AS top_token_ratio
      |FROM g
      |ORDER BY doc_id""".stripMargin
  query("q58_repetition", q58Repetition, Some(q58Oracle))

  // ---------------------------------------------------------------- q57
  /** Training sequence PACKING: lay each source's documents end-to-end
    * (doc_id order) into fixed 512-token windows and report, per doc,
    * its token offset and first/last pack — the bookkeeping an LLM
    * pretraining pipeline runs to turn ragged documents into fixed-
    * length sequences. Running sums are PARTITIONED BY SOURCE (the
    * per-shard packing real pipelines use), so the window parallelizes
    * across sources instead of serializing the corpus through one
    * global ordering.
    */
  def q57SeqPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packTokens = 512
    val d = Tables
      .documents(s, dir)
      .select(
        col("source"),
        col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")
      )
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("tok_end", sum(col("n_tokens")).over(w))
      .withColumn("tok_start", col("tok_end") - col("n_tokens"))
      .select(
        col("source"),
        col("doc_id"),
        col("n_tokens"),
        col("tok_start"),
        // `div`, not `/`: integer division like the oracle's `//`
        // (long / int in Spark is double true-division)
        expr(s"tok_start div $packTokens").as("pack_first"),
        expr(s"(tok_end - 1) div $packTokens").as("pack_last")
      )
      .orderBy(col("source"), col("doc_id"))
  }

  val q57Oracle: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT source, doc_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
      |  FROM d
      |)
      |SELECT source, doc_id, n_tokens,
      |  CAST(tok_end - n_tokens AS BIGINT) AS tok_start,
      |  CAST((tok_end - n_tokens) // 512 AS BIGINT) AS pack_first,
      |  CAST((tok_end - 1) // 512 AS BIGINT) AS pack_last
      |FROM c
      |ORDER BY source, doc_id""".stripMargin
  query("q57_seq_pack", q57SeqPack, Some(q57Oracle))

  // ---------------------------------------------------------------- q56
  /** Data-quality expectation battery — the constraint checks a
    * training-data pipeline runs before trusting a snapshot: null
    * counts, duplicate keys, referential orphans, domain violations.
    * One row per check with its violation count (0 = pass), computed in
    * one pass per table (conditional aggregation) plus one anti-join
    * for the FK orphan check.
    */
  def q56DqChecks(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    // coalesce: an empty snapshot must report 0 violations, not null
    val liChecks = li.agg(
      coalesce(sum(when(col("l_orderkey").isNull, 1).otherwise(0)), lit(0)).as("li_null_orderkey"),
      coalesce(sum(when(col("l_quantity") < 0, 1).otherwise(0)), lit(0)).as("li_negative_qty"),
      coalesce(sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1).otherwise(0)), lit(0)).as("li_discount_domain")
    )
    val dupKeys = ord
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("ord_dup_keys"))
    // orphan = NON-NULL key with no parent: null keys are already the
    // li_null_orderkey check, and keeping them out makes the semantics
    // identical to the oracle's NOT IN (which silently drops null-key
    // rows and degenerates entirely if orders ever held a null key)
    val orphans = li
      .filter(col("l_orderkey").isNotNull)
      .join(ord.filter(col("o_orderkey").isNotNull),
        li("l_orderkey") === ord("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("li_orphan_orderkeys"))
    liChecks
      .crossJoin(dupKeys)
      .crossJoin(orphans)
      .select(
        // long/stable one-row layout: one column per expectation
        col("li_null_orderkey").cast("long"),
        col("li_negative_qty").cast("long"),
        col("li_discount_domain").cast("long"),
        col("ord_dup_keys").cast("long"),
        col("li_orphan_orderkeys").cast("long")
      )
  }

  val q56Oracle: String =
    """SELECT
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem) AS li_null_orderkey,
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem) AS li_negative_qty,
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem) AS li_discount_domain,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)) AS ord_dup_keys,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
      |     WHERE l_orderkey IS NOT NULL
      |       AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)) AS li_orphan_orderkeys""".stripMargin
  query("q56_dq_checks", q56DqChecks, Some(q56Oracle))

  // ---------------------------------------------------------------- q54
  /** End-to-end MEDIA DEDUP, REAL codec since round 6: binary payloads
    * → [[Multimodal.renderPng]] (real PNG bytes) → typed media rows →
    * [[Multimodal.decodeImage]] fixed-dim feature vectors computed from
    * the ACTUAL decoded pixels (centered grid-mean luminance — a model
    * server slots into the same column contract) → embedding-space
    * near-dup pairs via adaptive LSH → one-row audit vs the exact
    * all-pairs baseline on the same features. This is the multimodal
    * integration path: Multimodal feeds Similarity the way an image
    * pipeline feeds its dedup stage. The corpus plants RE-UPLOADS —
    * byte-identical copies under new ids (the dominant real-world
    * media-dup mode); byte-identical payloads produce byte-identical
    * PNGs, so identical pixel features, cosine exactly 1.0, identical
    * LSH buckets — every planted pair MUST be found (the
    * identical-pair recall column pins 1.0 exactly). Near-identical
    * TEXTS now also land near cosine 1 (real pixel features inherit
    * text similarity through the raster law) — those genuine media
    * near-dups are measured by the overall recall audit.
    *
    * ORACLED since round 6 ([[q54OracleFor]], dynamic) — and with NO
    * literal embedding: the raster law makes the feature vectors
    * themselves a closed form over the raw text (grid-cell mean
    * luminance centered on the image mean; IEEE division and the
    * float cast are exactly rounded on both engines, so the replayed
    * floats are bit-identical), so DuckDB re-derives the embeddings
    * from `documents.text`, replays the LSH geometry (generalized
    * LshSql over the feats CTE), the exact all-pairs side, and the
    * recall/identical-pair arithmetic. Unlike a feature-literal
    * replay, nothing engine-computed is taken as given except the
    * hyperplane constants — the oracle certifies render → decode →
    * feature → LSH → verify end-to-end.
    */
  def q54MediaDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).filter(col("doc_id") < 250).select(col("doc_id"), col("text"))
    val reuploads = base.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val rendered = Multimodal.renderPng(base.unionByName(reuploads), "doc_id", "text")
    val media = Multimodal.asMedia(rendered, "doc_id", "png", "image")
    val feats = Multimodal
      .decodeImage(media)
      .select(col("media_id").as("vec_id"), col("features").as("embedding"))
      .transform(Place.persisted)
    val n = feats.count() // eager (exact + LSH consumers share this cache) AND the corpus size
    val (nbits, tables) = Similarity.lshParams(n, targetCosine = 0.9, probeHamming = 1)
    val a = feats.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = feats.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a
      .crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(Similarity.cosine(col("va"), col("vb")), 4).as("sim"))
      .filter(col("sim") >= 0.9)
      .select("id_a", "id_b")
    val approx = Similarity
      .nearDupsEmbedding(feats, threshold = 0.9, nbits = nbits, tables = tables, probes = 1)
    // Identical-payload ground truth (the planted re-uploads + any
    // byte-identical texts in the base corpus): identical bytes →
    // identical PNG → identical features → identical buckets in EVERY
    // LSH table → cosine exactly 1.0 — so recall over this set must be
    // EXACTLY 1.0, independent of LSH luck; the spec pins it.
    val u = base.unionByName(reuploads)
    val ident = u
      .select(col("doc_id").as("id_a"), col("text"))
      .join(u.select(col("doc_id").as("id_b"), col("text")), "text")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val identAudit = ident
      .join(
        approx.select(col("id_a"), col("id_b"), lit(1).as("hit")),
        Seq("id_a", "id_b"),
        "left"
      )
      .agg(
        count(lit(1)).as("n_identical"),
        sum(coalesce(col("hit"), lit(0))).as("n_identical_found")
      )
    Similarity
      .recallAudit(exact, approx, Seq("id_a", "id_b"))
      .crossJoin(broadcast(identAudit))
      .select(
        lit(n).as("n_media"),
        lit(nbits).as("nbits"),
        lit(tables).as("tables"),
        col("n_exact"),
        col("n_found"),
        col("recall"),
        col("n_identical"),
        col("n_identical_found"),
        round(col("n_identical_found").cast("double") / col("n_identical"), 4)
          .as("recall_identical")
      )
  }

  /** q54 generated oracle (round 6): the full media-dedup replay with
    * ZERO engine-computed literals — features re-derived closed-form
    * from the raster law (see q54MediaDedup scaladoc), LSH buckets from
    * the seeded hyperplanes, one-side radius-1 multiprobe candidate
    * join, rounded-cosine verification, exact all-pairs baseline, and
    * the identical-pair (text-equality) audit. (nbits, tables) replayed
    * from the corpus size exactly as the query computes them.
    */
  def q54OracleFor(s: SparkSession, dir: String): String = {
    val n = Tables.documents(s, dir).filter(col("doc_id") < 250).count() * 2
    val (nbits, tables) = Similarity.lshParams(n, targetCosine = 0.9, probeHamming = 1)
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 250
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 250
       |), px AS (
       |  SELECT doc_id, i,
       |    ascii(substr(text, (i % len) + 1, 1)) +
       |    ascii(substr(text, ((i * 31 + 7) % len) + 1, 1)) +
       |    ascii(substr(text, ((i * 131 + 13) % len) + 1, 1)) AS s,
       |    (i * 64) // (w * h) AS cell
       |  FROM (
       |    SELECT doc_id, text, length(text) AS len,
       |      8 + length(text) % 9 AS w, 8 + length(text) % 7 AS h
       |    FROM corpus
       |  ), LATERAL unnest(range(w * h)) AS t(i)
       |), cells AS (
       |  SELECT doc_id, cell, SUM(s) AS cs, COUNT(*) AS cc FROM px GROUP BY doc_id, cell
       |), imgs AS (
       |  SELECT doc_id, SUM(s) AS ts, COUNT(*) AS tc FROM px GROUP BY doc_id
       |), feats AS (
       |  SELECT c.doc_id AS vec_id,
       |    list(CAST((cs / (3.0 * cc) - ts / (3.0 * tc)) / 256.0 AS FLOAT) ORDER BY cell) AS embedding
       |  FROM cells c JOIN imgs g ON c.doc_id = g.doc_id
       |  GROUP BY c.doc_id
       |), dbk AS (
       |${LshSql.dbk(nbits, tables, from = "feats")}
       |), pa AS (
       |  SELECT vec_id AS id_a, tbl, unnest([${LshSql.probeList(nbits)}]) AS bucket FROM dbk
       |), cand AS (
       |  SELECT DISTINCT a.id_a, b.vec_id AS id_b
       |  FROM pa a JOIN dbk b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.id_a < b.vec_id
       |), approx AS (
       |  SELECT cand.id_a, cand.id_b
       |  FROM cand
       |  JOIN feats va ON cand.id_a = va.vec_id
       |  JOIN feats vb ON cand.id_b = vb.vec_id
       |  WHERE round(list_cosine_similarity(va.embedding::DOUBLE[], vb.embedding::DOUBLE[]), 4) >= 0.9
       |), exact AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM feats a JOIN feats b ON a.vec_id < b.vec_id
       |  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.9
       |), ident AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM corpus a JOIN corpus b ON a.text = b.text AND a.doc_id < b.doc_id
       |), ia AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_identical,
       |    CAST(SUM(CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_identical_found
       |  FROM ident i LEFT JOIN approx p ON i.id_a = p.id_a AND i.id_b = p.id_b
       |), ra AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       |    CAST(SUM(CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
       |  FROM exact e LEFT JOIN approx p ON e.id_a = p.id_a AND e.id_b = p.id_b
       |)
       |SELECT CAST($n AS BIGINT) AS n_media, $nbits AS nbits, $tables AS tables,
       |  n_exact, n_found,
       |  round(CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE), 4) AS recall,
       |  n_identical, n_identical_found,
       |  round(CAST(n_identical_found AS DOUBLE) / CAST(n_identical AS DOUBLE), 4) AS recall_identical
       |FROM ra, ia""".stripMargin
  }
  query("q54_media_dedup", q54MediaDedup, None)

  // ---------------------------------------------------------------- q52
  /** Deterministic stratified sampling: 10 docs per source in a
    * reproducible multiplicative-hash order (TextStats.stratifiedSample)
    * — the quota-sampling shape a training-data pipeline uses for
    * per-language / per-source balancing. The rank filter plans a
    * Partial WindowGroupLimit, so only ~groups×10 rows shuffle.
    */
  def q52StratifiedSample(s: SparkSession, dir: String): DataFrame =
    TextStats
      .stratifiedSample(
        Tables.documents(s, dir).select(col("source"), col("doc_id")),
        "source",
        "doc_id",
        perGroup = 10
      )
      .select(col("source"), col("doc_id"), col("rn"))
      .orderBy(col("source"), col("rn"))

  val q52Oracle: String =
    """SELECT source, doc_id, rn FROM (
      |  SELECT source, doc_id,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY source
      |      ORDER BY (doc_id * 2654435761) % 1000003, doc_id) AS rn
      |  FROM documents
      |) WHERE rn <= 10
      |ORDER BY source, rn""".stripMargin
  query("q52_stratified_sample", q52StratifiedSample, Some(q52Oracle))

  // ---------------------------------------------------------------- q53
  /** Text cleaning battery: deterministic dirty text (synthetic email +
    * phone derived from doc_id) pushed through PII redaction and
    * whitespace normalization (TextStats.redactPii / normalizeWs) —
    * pure map-side regexp work, oracled verbatim in DuckDB (shared
    * Java/RE2 regex subset).
    */
  def q53TextClean(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val dirty = concat(
      col("text"),
      lit("  contact user"), col("doc_id").cast("string"), lit("@example.com"),
      lit(" or +1 555 01"), lpad((col("doc_id") % 100).cast("string"), 2, "0"), lit(" 999  ")
    )
    d.select(
      col("doc_id"),
      TextStats.normalizeWs(TextStats.redactPii(dirty)).as("clean")
    ).orderBy(col("doc_id"))
  }

  val q53Oracle: String =
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        text || '  contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |             || ' or +1 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' 999  ',
      |        '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |      '\+?[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g'),
      |    '\s+', ' ', 'g')) AS clean
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  query("q53_text_clean", q53TextClean, Some(q53Oracle))

  // ---------------------------------------------------------------- q51
  /** Near-dup CLUSTERS: connected components over the exact-pair graph
    * of the q46 audit slice (ops.Components, iterative min-label
    * propagation — the closure dedupAssignments one-hops). Oracle:
    * DuckDB recursive CTE computing min-reachable-id per node — an
    * exact, independent formulation of the same closure.
    */
  def q51ConnectedComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.nearDupsExact(
      Tables.documents(s, dir).filter(col("doc_id") < 500),
      "doc_id",
      "text",
      threshold = 0.9
    )
    Components.connectedComponents(pairs).orderBy(col("id"))
  }

  val q51Oracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS tk
      |  FROM documents WHERE doc_id < 500
      |), edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
      |        CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) >= 0.9
      |), sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM edges
      |  UNION ALL
      |  SELECT id_b, id_a FROM edges
      |), reach(id, comp) AS (
      |  SELECT DISTINCT src, src FROM sym
      |  UNION
      |  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
      |)
      |SELECT id, MIN(comp) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin
  query("q51_connected_components", q51ConnectedComponents, Some(q51Oracle))

  // ---------------------------------------------------------------- q61
  /** Benchmark DECONTAMINATION — the n-gram collision check every LLM
    * pretraining pipeline runs before training (flag training docs that
    * share a long n-gram with an eval/benchmark set, the GPT-3/PaLM
    * decontamination shape). Benchmark = docs 0-49; corpus = the rest;
    * a 5-gram collision marks the doc contaminated. Scale shape: the
    * benchmark shingle set is SMALL by nature (eval sets are thousands
    * of docs, not billions) — it broadcasts, so the corpus side is one
    * map-side explode + hash-probe and one groupBy on doc_id; the
    * corpus never shuffles its text.
    */
  def q61Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ngrams = TextDedup.shingles(col("text"), 5)
    val bench = docs
      .filter(col("doc_id") < 50)
      .select(explode(ngrams).as("ng"))
      .distinct()
    val corpusNg = docs
      .filter(col("doc_id") >= 50)
      .select(col("doc_id"), explode(ngrams).as("ng"))
    val hits = corpusNg
      .join(broadcast(bench), Seq("ng"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("ng")).as("n_contaminated"))
    docs
      .filter(col("doc_id") >= 50)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).as("is_contaminated")
      )
      .orderBy(col("doc_id"))
  }

  val q61Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(0, greatest(len(toks) - 4, 1)),
      |    i -> array_to_string(toks[i+1:i+5], ' '))) AS ngs
      |  FROM d
      |), ex AS (
      |  SELECT doc_id, unnest(ngs) AS ng FROM sh
      |), bench AS (
      |  SELECT DISTINCT ng FROM ex WHERE doc_id < 50
      |), hits AS (
      |  SELECT e.doc_id, CAST(count(DISTINCT e.ng) AS BIGINT) AS n_contaminated
      |  FROM ex e JOIN bench b ON e.ng = b.ng
      |  WHERE e.doc_id >= 50 GROUP BY e.doc_id
      |)
      |SELECT d.doc_id,
      |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
      |  COALESCE(h.n_contaminated, 0) > 0 AS is_contaminated
      |FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id >= 50
      |ORDER BY d.doc_id""".stripMargin
  query("q61_decontaminate", q61Decontaminate, Some(q61Oracle))

  // ---------------------------------------------------------------- q64
  /** q61's decontamination with a BLOOM-PREFILTERED probe — the shape
    * for eval suites too big to broadcast raw: the benchmark shingle
    * set compresses to a constant-size Bloom filter (8 KiB at
    * log2bits=16 vs megabytes of strings), the corpus side drops
    * definitely-clean n-grams MAP-SIDE before any join, and the exact
    * join afterwards removes Bloom false positives — output is
    * row-identical to q61 and shares its oracle. Composition of
    * ops.BloomJoin with the decontamination semantics; at 100 TB the
    * probe shuffle carries only probable hits (~selectivity of the
    * contamination rate) instead of every corpus n-gram.
    */
  def q64DecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ngrams = TextDedup.shingles(col("text"), 5)
    val bench = docs
      .filter(col("doc_id") < 50)
      .select(explode(ngrams).as("bng"))
      .distinct()
    val corpusNg = docs
      .filter(col("doc_id") >= 50)
      .select(col("doc_id"), explode(ngrams).as("ng"))
    val hits = BloomJoin
      .join(corpusNg, bench, "ng", "bng", log2bits = 16)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("ng")).as("n_contaminated"))
    docs
      .filter(col("doc_id") >= 50)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).as("is_contaminated")
      )
      .orderBy(col("doc_id"))
  }
  query("q64_decontaminate_bloom", q64DecontaminateBloom, Some(q61Oracle))

  // ---------------------------------------------------------------- q62
  /** Data-MIXTURE weights: per-source token counts → temperature-scaled
    * sampling weights w_s ∝ (n_s/N)^α (α=0.7, the multilingual/
    * multi-corpus mixing rule) — the step that decides how often each
    * source is drawn during pretraining. Two tiny aggregates (one per
    * normalization constant) over a 10-row per-source frame; the corpus
    * is scanned once. Double sums accumulate in decimal so the
    * normalizers are order-independent.
    */
  def q62MixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val bySource = Tables
      .documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextStats.tokens(col("text"))).cast("long")).as("n_tokens")
      )
      .transform(Place.materialized) // eager: both normalizer consumers share this cache
    val total = bySource.agg(sum(col("n_tokens")).as("total_tokens"))
    val powed = bySource
      .crossJoin(broadcast(total))
      .withColumn("share", col("n_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("powed", pow(col("share"), lit(0.7)))
    val z = powed.agg(sum(col("powed").cast("decimal(38,18)")).cast("double").as("z"))
    powed
      .crossJoin(broadcast(z))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("powed") / col("z"), 6).as("weight")
      )
      .orderBy(col("source"))
  }

  val q62Oracle: String =
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), t AS (
      |  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM s
      |), p AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(n_tokens AS DOUBLE) / t.total AS share,
      |    pow(CAST(n_tokens AS DOUBLE) / t.total, 0.7) AS powed
      |  FROM s, t
      |), z AS (
      |  SELECT CAST(SUM(CAST(powed AS DECIMAL(38,18))) AS DOUBLE) AS z FROM p
      |)
      |SELECT source, n_docs, n_tokens,
      |  round(share, 6) AS share,
      |  round(powed / z.z, 6) AS weight
      |FROM p, z ORDER BY source""".stripMargin
  query("q62_mixture_weights", q62MixtureWeights, Some(q62Oracle))

  // ---------------------------------------------------------------- q63
  /** Context-window CHUNKING with overlap (window 16 tokens, stride 12)
    * — the chunker feeding RAG indexing and fixed-window pretraining:
    * per doc, overlapping token spans with offsets plus the
    * materialized chunk text. Generator shape: one map-side explode per
    * doc (the frameSample pattern on tokens instead of bytes), chunk
    * count from the exact integer ceil form so the tail tokens are
    * always covered. No shuffle at all until the output sort.
    */
  def q63Chunk(s: SparkSession, dir: String): DataFrame = {
    val win = 16
    val stride = 12
    val d = Tables
      .documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // integer ceil((n-win)/stride)+1, never a float: engines disagree
      // on float ceil edge cases, ints they agree on
      .withColumn(
        "n_chunks",
        when(col("n_tokens") <= win, lit(1L))
          .otherwise(expr(s"(n_tokens - $win + ${stride - 1}) div $stride + 1"))
      )
    d.select(
      col("doc_id"),
      col("n_tokens"),
      col("toks"),
      explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx")
    ).select(
        col("doc_id"),
        col("chunk_idx"),
        (col("chunk_idx") * stride).as("tok_start"),
        least(col("chunk_idx") * stride + win, col("n_tokens")).as("tok_end"),
        concat_ws(" ", slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"), lit(win)))
          .as("chunk_text")
      )
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val q63Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), c AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CASE WHEN len(toks) <= 16 THEN 1
      |         ELSE (len(toks) - 16 + 11) // 12 + 1 END AS n_chunks
      |  FROM d
      |), e AS (
      |  SELECT doc_id, toks, n_tokens, unnest(range(0, n_chunks)) AS i FROM c
      |)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |  CAST(i * 12 AS BIGINT) AS tok_start,
      |  CAST(least(i * 12 + 16, n_tokens) AS BIGINT) AS tok_end,
      |  array_to_string(toks[i*12+1 : i*12+16], ' ') AS chunk_text
      |FROM e
      |ORDER BY doc_id, chunk_idx""".stripMargin
  query("q63_chunking", q63Chunk, Some(q63Oracle))

  // ---------------------------------------------------------------- q60
  /** The SAME component closure as q51, computed by the O(log n)
    * large-star/small-star contraction (Components.largeStarSmallStar —
    * the planet-scale path, round count independent of component
    * diameter) instead of O(diameter) min-label propagation. Shares
    * q51's recursive-CTE oracle: both algorithms must land on the
    * identical (id, min-reachable-id) labelling, which gives the
    * log-round path driver-visible correctness evidence.
    */
  def q60ConnectedComponentsLogRounds(s: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.nearDupsExact(
      Tables.documents(s, dir).filter(col("doc_id") < 500),
      "doc_id",
      "text",
      threshold = 0.9
    )
    Components.largeStarSmallStar(pairs).orderBy(col("id"))
  }
  query("q60_cc_log_rounds", q60ConnectedComponentsLogRounds, Some(q51Oracle))

  // ---------------------------------------------------------------- q50
  /** Bloom-prefiltered fact×dim join (ops.BloomJoin): a 2^16-bit Bloom
    * filter built over the selective dim keys (p_size=1, ~2% of parts)
    * drops non-matching lineitem rows MAP-SIDE before the join; the
    * exact join then removes Bloom false positives, so the result — and
    * the DuckDB oracle — is the plain join. The artifact under test is
    * row-identity with the unfiltered join plus the prefilter plan shape
    * (asserted in BloomSpec).
    */
  def q50BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey", "l_quantity")
    val dims = Tables
      .part(s, dir)
      .filter(col("p_size") === 1)
      .select("p_partkey", "p_brand", "p_retailprice")
    BloomJoin
      .join(facts, dims, "l_partkey", "p_partkey", log2bits = 16)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("p_brand"), col("p_retailprice"))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("p_brand"), col("p_retailprice"))
  }

  val q50Oracle: String =
    """SELECT l_orderkey, l_partkey, l_quantity, p_brand, p_retailprice
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size = 1
      |ORDER BY l_orderkey, l_partkey, l_quantity, p_brand, p_retailprice""".stripMargin
  query("q50_bloom_join", q50BloomJoin, Some(q50Oracle))

  // ---------------------------------------------------------------- q49
  /** ANN with ADAPTIVE LSH parameters: (nbits, tables) derived from the
    * corpus size and cosine regime by Similarity.lshParams instead of
    * fixture-tuned constants — the policy that keeps recall stable from
    * sf0.001 to 1000× without retuning. Output is a one-row audit:
    * corpus size, derived params, and recall vs the exact brute-force
    * top-5 (q25's form). ORACLED since round 5 via the dynamic LshSql
    * replay ([[q49OracleFor]] — the recall arithmetic included, so the
    * audit figure itself is driver-certified).
    */
  def q49AnnAdaptiveRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val n = e.count()
    val (nbits, tables) = Similarity.lshParams(n, targetCosine = 0.4, probeHamming = 1)
    val queries = e.filter(col("vec_id") < 10)
    val exact = Similarity
      .bruteTopK(e, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Similarity
      .annTopK(e, queries, k = 5, nbits = nbits, tables = tables, probes = 1)
    Similarity
      .recallAudit(exact, approx, Seq("query_id", "neighbor_id"))
      .select(
        lit(n).as("n_vectors"),
        lit(nbits).as("nbits"),
        lit(tables).as("tables"),
        col("n_exact"),
        col("n_found"),
        col("recall")
      )
  }
  query("q49_ann_adaptive", q49AnnAdaptiveRecall, None)

  // ---------------------------------------------------------------- q47
  /** F8 DST path: naive local timestamps interpreted in Europe/Berlin and
    * converted to UTC across BOTH 2024 DST boundaries (spring-forward
    * 2024-03-31, fall-back 2024-10-27; reference app/main.py:184-206 —
    * localize then convert). Sample times avoid the nonexistent
    * (02:00-03:00 on 03-31) and ambiguous (02:00-03:00 on 10-27) local
    * hours, where engines legitimately disagree; everything else must
    * match DuckDB's ICU conversion exactly. Both naive formats ('T' and
    * space separated) exercised.
    */
  def q47Tz(s: SparkSession, dir: String): DataFrame = {
    val date = when(col("event_id") % 4 === 0, lit("2024-01-15"))
      .when(col("event_id") % 4 === 1, lit("2024-03-31"))
      .when(col("event_id") % 4 === 2, lit("2024-07-01"))
      .otherwise(lit("2024-10-27"))
    val hour = when(col("event_id") % 3 === 0, lit("01"))
      .when(col("event_id") % 3 === 1, lit("03"))
      .otherwise(lit("12"))
    val sep = when(col("event_id") % 2 === 0, lit("T")).otherwise(lit(" "))
    val raw = Tables
      .events(s, dir)
      .select(
        col("event_id"),
        concat(
          date, sep, hour,
          lit(":"), lpad((col("event_id") % 60).cast("string"), 2, "0"),
          lit(":"), lpad((col("user_id") % 60).cast("string"), 2, "0")
        ).as("ts_raw")
      )
    raw
      .select(
        col("event_id"),
        col("ts_raw"),
        date_format(
          Normalize.lenientTimestamp(col("ts_raw"), naiveZone = "Europe/Berlin"),
          "yyyy-MM-dd HH:mm:ss"
        ).as("utc")
      )
      .orderBy(col("event_id"))
  }

  val q47Oracle: String =
    """WITH raw AS (
      |  SELECT event_id,
      |    (CASE event_id % 4 WHEN 0 THEN '2024-01-15' WHEN 1 THEN '2024-03-31'
      |                       WHEN 2 THEN '2024-07-01' ELSE '2024-10-27' END)
      |    || (CASE WHEN event_id % 2 = 0 THEN 'T' ELSE ' ' END)
      |    || (CASE event_id % 3 WHEN 0 THEN '01' WHEN 1 THEN '03' ELSE '12' END)
      |    || ':' || lpad(CAST(event_id % 60 AS VARCHAR), 2, '0')
      |    || ':' || lpad(CAST(user_id % 60 AS VARCHAR), 2, '0') AS ts_raw
      |  FROM events
      |)
      |SELECT event_id, ts_raw,
      |  strftime(
      |    timezone('UTC', timezone('Europe/Berlin', COALESCE(
      |      TRY_STRPTIME(ts_raw, '%Y-%m-%dT%H:%M:%S'),
      |      TRY_STRPTIME(ts_raw, '%Y-%m-%d %H:%M:%S')))),
      |    '%Y-%m-%d %H:%M:%S') AS utc
      |FROM raw
      |ORDER BY event_id""".stripMargin
  query("q47_tz", q47Tz, Some(q47Oracle))

  // ---------------------------------------------------------------- q44
  /** HLL distinct sketch (graft.expr.HllSketch, TypedImperativeAggregate,
    * 4 KB state per group at any scale). Deterministic (xxhash64) but
    * approximate.
    *
    * ORACLED since round 6 ([[q44OracleFor]], dynamic): the round-5
    * "DuckDB has neither the hash nor the register semantics" claim
    * conceded too early — the q28 move applies. The per-value
    * xxhash64 dictionary (distinct l_partkey is bounded: the part
    * table) embeds as literals; DuckDB then replays the ENTIRE sketch
    * semantics relationally: register index = top-p bits
    * ((h >> 52) & 4095 — arithmetic shift + mask ≡ unsigned shift),
    * rank = leading zeros of the remaining 52 bits via the exact
    * integer form 53 − len(bin(h & (2⁵²−1))), per-group register maxima
    * as a group-max over a range(4096) scaffold, the harmonic/zeros
    * census, the estimator branch, and Flajolet linear counting
    * (m·ln(m/zeros) — integer zeros, so the one transcendental agrees
    * bitwise; probed). Regime note: at verify scale the
    * linear-counting branch decides the output with huge margin
    * (est ≈ 2k vs the 10,240 threshold), so harmonic-sum float-order
    * differences between the Java loop and DuckDB's aggregate cannot
    * flip anything; the branch condition itself is ulp-robust for the
    * same reason. Accuracy bounded in HllSketchSpec (<3% overall, <5%
    * per group vs exact). SELF-AUDITING: each group row carries the
    * exact distinct count and `audit_rel_err` = |approx−exact|/exact.
    */
  def q44HllSketch(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_hll")
    s.sql(
      """SELECT l_returnflag, approx_parts, exact_parts, n,
        |  round(abs(approx_parts - exact_parts) / exact_parts, 4) AS audit_rel_err
        |FROM (
        |  SELECT l_returnflag,
        |    hll_distinct(l_partkey) AS approx_parts,
        |    CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS exact_parts,
        |    COUNT(*) AS n
        |  FROM li_hll GROUP BY l_returnflag
        |) ORDER BY l_returnflag""".stripMargin
    )
  }
  query("q44_hll_sketch", q44HllSketch, None)

  // ---------------------------------------------------------------- q43
  /** Interval join: events vs per-user 3-day activity windows (derived
    * from the events themselves — each day's events open a [day, day+2d]
    * window carrying that day's count). Bucketized to an equi join
    * (ops.RangeJoin) vs the BETWEEN theta join DuckDB runs directly;
    * every event matches 1-3 windows. Aggregated per event.
    */
  def q43RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    val ranges = Tables
      .events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("start_ts"))
      .agg(count(lit(1)).as("day_n"))
      .withColumn("end_ts", col("start_ts") + expr("INTERVAL 2 DAYS"))
    RangeJoin
      .bucketed(ev, ranges, "user_id", "ts", "start_ts", "end_ts", bucketMs = 24L * 3600 * 1000)
      .groupBy(col("event_id"))
      .agg(
        count(lit(1)).as("n_active_windows"),
        sum(col("day_n")).as("sum_window_events")
      )
      .orderBy(col("event_id"))
  }

  val q43Oracle: String =
    """WITH r AS (
      |  SELECT user_id, date_trunc('day', ts) AS start_ts, COUNT(*) AS day_n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT e.event_id,
      |  COUNT(*) AS n_active_windows,
      |  CAST(SUM(r.day_n) AS BIGINT) AS sum_window_events
      |FROM events e
      |JOIN r ON e.user_id = r.user_id
      |      AND e.ts >= r.start_ts
      |      AND e.ts <= r.start_ts + INTERVAL 2 DAY
      |GROUP BY e.event_id
      |ORDER BY e.event_id""".stripMargin
  query("q43_range_join", q43RangeJoin, Some(q43Oracle))

  // ---------------------------------------------------------------- q42
  /** As-of join: each event picks up the most recent order state
    * (right.ts <= event.ts) of the same key — union + carry-forward, one
    * shuffle over |L|+|R| (ops.AsOf). Oracle: DuckDB's native ASOF JOIN.
    * Orders deduped to one row per (custkey, orderdate) for tie
    * determinism in both engines.
    */
  def q42AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables
      .orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .withColumnRenamed("o_custkey", "user_id")
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    AsOf
      .joinAsOf(ev, ord, key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
        rightCols = Seq("o_orderkey", "o_orderdate"))
      .select(
        col("event_id"),
        col("user_id"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od")
      )
      .orderBy(col("event_id"))
  }

  val q42Oracle: String =
    """WITH ord AS (
      |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate
      |)
      |SELECT e.event_id, e.user_id, o.o_orderkey,
      |  strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS od
      |FROM events e ASOF LEFT JOIN ord o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY event_id""".stripMargin
  query("q42_asof_join", q42AsofJoin, Some(q42Oracle))

  // ---------------------------------------------------------------- q41
  /** Exact percentiles (linear interpolation): Spark `percentile` vs
    * DuckDB `quantile_cont` — same definition, cross-checked bit-level.
    */
  def q41Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("median_price"),
        expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
        count(lit(1)).as("n")
      )
      .orderBy(col("l_returnflag"))

  val q41Oracle: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS median_price,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
  query("q41_percentiles", q41Percentiles, Some(q41Oracle))

  // ---------------------------------------------------------------- q59
  /** t-digest percentile SKETCH (graft.expr.TDigestQuantile,
    * TypedImperativeAggregate, ~2δ centroids ≈ 3 KB state per group at
    * any scale) — the streaming/100 TB complement to the exact q41,
    * whose `percentile` buffers every value per group.
    *
    * ORACLED VIA CONTRACT RESTRUCTURING (round 8). The raw sketch
    * values can never be statically replayed: a merging t-digest's
    * centroid list depends on partial-merge arrival order (shuffle
    * fetch order, nondeterministic run to run) — unlike q44's HLL
    * registers, which are a merge-order-independent MAX. So the
    * checked output carries only what IS replayable: the group key,
    * the exact percentiles (DuckDB `quantile_cont` — same linear
    * interpolation as Spark `percentile`, bit-parity proven by q41 on
    * this very column), the count, and the sketch's ACCURACY CONTRACT
    * as a boolean: `sketch_within_1pct` = worst relative error across
    * p50/p90/p99 < 1%. The oracle pins that literal TRUE, so any
    * sketch drift (centroid rule regression, merge bug, quantile
    * interpolation bug) turns the row red — the t-digest is inside the
    * correctness gate without its merge-order-dependent state ever
    * being compared. Tighter per-value bounds remain in TDigestSpec;
    * merge associativity is property-checked in PropsSpec.
    */
  def q59TdigestPercentiles(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_td")
    s.sql(
      """SELECT l_returnflag, exact_p50, exact_p90, exact_p99, n,
        |  greatest(
        |    abs(approx_p50 - exact_p50) / exact_p50,
        |    abs(approx_p90 - exact_p90) / exact_p90,
        |    abs(approx_p99 - exact_p99) / exact_p99) < 0.01
        |    AS sketch_within_1pct
        |FROM (
        |  SELECT l_returnflag,
        |    tdigest_quantile(l_extendedprice, 0.5) AS approx_p50,
        |    tdigest_quantile(l_extendedprice, 0.9) AS approx_p90,
        |    tdigest_quantile(l_extendedprice, 0.99) AS approx_p99,
        |    percentile(l_extendedprice, 0.5) AS exact_p50,
        |    percentile(l_extendedprice, 0.9) AS exact_p90,
        |    percentile(l_extendedprice, 0.99) AS exact_p99,
        |    COUNT(*) AS n
        |  FROM li_td GROUP BY l_returnflag
        |) ORDER BY l_returnflag""".stripMargin
    )
  }

  val q59Oracle: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS exact_p50,
      |  quantile_cont(l_extendedprice, 0.9) AS exact_p90,
      |  quantile_cont(l_extendedprice, 0.99) AS exact_p99,
      |  COUNT(*) AS n,
      |  TRUE AS sketch_within_1pct
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
  query("q59_tdigest", q59TdigestPercentiles, Some(q59Oracle))

  // ---------------------------------------------------------------- q39
  /** Native session windows (Spark's session_window generator) — the
    * declarative form of q37's LAG+cumsum sessionization. Both engines
    * compute boundaries on exact microseconds (Spark's ts is ns-truncated
    * micros; the oracle derives micros via epoch_ns//1000).
    */
  def q39SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"),
        col("sum_value")
      )
      .orderBy(col("user_id"), col("session_start"))

  val q39Oracle: String =
    """WITH e AS (
      |  SELECT user_id, "value", epoch_ns(ts) // 1000 AS us FROM events
      |), g AS (
      |  SELECT user_id, "value", us,
      |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e
      |), sess AS (
      |  SELECT user_id, "value", us,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
      |                      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g
      |)
      |SELECT user_id,
      |  strftime(make_timestamp(MIN(us)), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST("value" AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin
  query("q39_session_window", q39SessionWindow, Some(q39Oracle))

  // ---------------------------------------------------------------- q40
  /** Custom typed Aggregator: bounded top-k per group (a k-element
    * buffer per key — constant memory per group at any scale, unlike
    * sort-based ranking). Verified against the relational window form.
    */
  def q40TopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables
      .events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .as[(String, Long, Double)]
    val agg = new graft.expr.TopKByScore(3).toColumn
    ev.groupByKey(_._1)
      .agg(agg.name("topk"))
      .flatMap { case (et, topk) =>
        topk.zipWithIndex.map { case ((v, id), i) => (et, i + 1, id, v) }
      }
      .toDF("event_type", "rank", "event_id", "value")
      .orderBy(col("event_type"), col("rank"))
  }

  val q40Oracle: String =
    """SELECT event_type, rank, event_id, "value" FROM (
      |  SELECT event_type, event_id, "value",
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY "value" DESC, event_id) AS rank
      |  FROM events) t
      |WHERE rank <= 3
      |ORDER BY event_type, rank""".stripMargin
  query("q40_topk_per_group", q40TopkPerGroup, Some(q40Oracle))

  // ---------------------------------------------------------------- q36
  /** Grouping-set rollup + exact distinct aggregate: subtotal/grand-total
    * rows via ROLLUP (beyond the reference's flat aggregates — an engine
    * capability a downstream analyst expects).
    */
  def q36Rollup(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"),
        countDistinct(col("l_partkey")).as("nd_parts")
      )
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q36Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n,
      |  COUNT(DISTINCT l_partkey) AS nd_parts
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin
  query("q36_rollup", q36Rollup, Some(q36Oracle))

  // ---------------------------------------------------------------- q37
  /** Sessionization: a new session starts when the gap to the previous
    * event of the same user exceeds 30 minutes (LAG + cumulative sum —
    * the batch form of session windows). Gap math on the exact ns longs.
    */
  def q37Sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    Tables
      .events(s, dir)
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
      .withColumn(
        "is_new",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > 1800000000000L, 1L).otherwise(0L)
      )
      .groupBy(col("user_id"))
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q37Oracle: String =
    """WITH g AS (
      |  SELECT user_id,
      |    CASE WHEN lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > 1800000000000 THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |)
      |SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM g
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  query("q37_sessionize", q37Sessionize, Some(q37Oracle))

  // ---------------------------------------------------------------- q38
  /** Pivot: event counts per user wide by event type (groupBy.pivot with
    * an explicit value list — codegen'd conditional aggregation).
    */
  def q38Pivot(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na
      .fill(0L)
      .orderBy(col("user_id"))

  val q38Oracle: String =
    """SELECT user_id,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  query("q38_pivot", q38Pivot, Some(q38Oracle))

  // ---------------------------------------------------------------- q35
  /** IVF approximate nearest-neighbor: k-means coarse quantizer (fit as
    * DataFrame algebra), nprobe cell probing. Every row carries
    * `audit_recall_vs_brute`, the recall@5 of the probed search against
    * the exact brute-force top-5 on the same corpus — the honest figure
    * for scanning ~nprobe/k of the corpus per query.
    *
    * ORACLED since round 4 — the generated SQL replays the ENTIRE
    * pipeline including the trained quantizer: deterministic first-k
    * init, two Lloyd iterations (assignment argmax on UNROUNDED
    * cosines, decimal-staged means, natural empty-cell drop), the
    * double→float centroid truncation at assignment, nprobe cell
    * selection, and the rounded-cosine candidate ranking plus the
    * recall-audit arithmetic. The enabling probes: DuckDB list_reduce
    * is an ordered left fold, so the three accumulator streams of the
    * native cosine replay bit-exactly (960/960 pairs probed), and the
    * fit's means were decimal-staged this round — without that the
    * update step's double partial-merge order made centroids
    * irreproducible even run to run.
    */
  def q35Ivf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = Ivf.fitCentroids(e, k = 16, iters = 2)
    val queries = e.filter(col("vec_id") < 10)
    val ivf = Ivf
      .topK(e, queries, cents, k = 5, nprobe = 2)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .transform(Place.materialized) // eager: result + audit consumers share this cache
    val exact = Similarity
      .bruteTopK(e, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val audit = Similarity
      .recallAudit(exact, ivf, Seq("query_id", "neighbor_id"))
      .select(col("recall").as("audit_recall_vs_brute"))
    ivf.crossJoin(broadcast(audit)).orderBy(col("query_id"), col("rank"))
  }

  /** Generated oracle for q35 — replays Ivf end to end in SQL. The
    * cosine used for assignment/probing is UNROUNDED, so it must match
    * the native expression bit-for-bit: DuckDB `list_reduce` is an
    * ordered left fold, giving the same three accumulator streams
    * (dot, ‖a‖², ‖b‖²) as the expression's loop (probed bit-exact);
    * the centroid side passes through CAST(… AS REAL) to mirror the
    * double→float truncation `Ivf.assign` applies. Decimal-staged
    * means make each Lloyd update order-independent, and empty cells
    * drop naturally from the GROUP BY on both engines.
    */
  /** Shared SQL fragments for replaying graft.ops.Ivf in an oracle
    * (used by q35Oracle and q78Oracle): the bit-exact cosine folds
    * (DuckDB list_reduce is an ordered left fold — probed 960/960
    * against the native expression), the Lloyd assign/update CTE pair,
    * and the deterministic first-k init. Every unrounded comparison in
    * the pipeline (assignment argmax, probe ranking, τ filters) runs
    * on these folds, so a trained quantizer replays exactly.
    */
  private[graft] object IvfSql {
    /** cosine(float-array column, double-list column truncated to
      * float) — the arithmetic of Ivf.assign's centroid scoring. */
    def cosFloatDouble(e: String, cd: String): String =
      s"(list_reduce(list_transform(list_zip($e, $cd), p -> CAST(p[1] AS DOUBLE) * CAST(CAST(p[2] AS REAL) AS DOUBLE)), (x,y) -> x+y) / " +
        s"(sqrt(list_reduce(list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y)) * " +
        s"sqrt(list_reduce(list_transform($cd, x -> CAST(CAST(x AS REAL) AS DOUBLE) * CAST(CAST(x AS REAL) AS DOUBLE)), (x,y) -> x+y))))"

    /** cosine(float-array, float-array) — graft.expr.CosineSimilarity
      * verbatim (three ordered double accumulator folds). */
    def cosFloatFloat(a: String, b: String): String =
      s"(list_reduce(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x,y) -> x+y) / " +
        s"(sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y)) * " +
        s"sqrt(list_reduce(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x+y))))"

    /** Hard assignment under centroid CTE `cents`: nearest cell by
      * unrounded cosine, smaller cid on ties (Ivf.assign's argmax). */
    def assignCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosFloatDouble("e.embedding", "c.cd")} DESC, c.cid ASC) AS rn
         |    FROM e, $cents c
         |  ) WHERE rn = 1
         |)""".stripMargin

    /** Lloyd update: decimal-staged per-(cid, pos) means over the
      * assigned vectors; empty cells drop from the GROUP BY exactly as
      * they do in Ivf.fitCentroids. */
    def updateCte(name: String, assigned: String): String =
      s"""$name AS (
         |  SELECT cid, list(m ORDER BY pos) AS cd FROM (
         |    SELECT $assigned.cid, idx.i - 1 AS pos,
         |      CAST(SUM(CAST(CAST(e.embedding[idx.i] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
         |    FROM $assigned JOIN e USING (vec_id)
         |    CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
         |    GROUP BY $assigned.cid, idx.i
         |  ) GROUP BY cid
         |)""".stripMargin

    /** init (first k rows by id) + `iters` assign/update pairs; the
      * final centroid CTE is `c<iters>`. Emits "c0 AS (...), a1 AS
      * (...), c1 AS (...), …" for splicing after `e`. */
    def lloydChain(k: Int, iters: Int): String = {
      val init =
        s"""c0 AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cd
           |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $k)
           |)""".stripMargin
      init + ", " + (1 to iters)
        .map(i => assignCte(s"a$i", s"c${i - 1}") + ", " + updateCte(s"c$i", s"a$i"))
        .mkString(", ")
    }
  }

  val q35Oracle: String = {
    val (k, iters, nprobe, kTop) = (16, 2, 2, 5)
    s"""WITH e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), ${IvfSql.lloydChain(k, iters)}, ${IvfSql.assignCte("idx2", s"c$iters")}, qp AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${IvfSql.cosFloatDouble("e.embedding", "c.cd")} DESC, c.cid ASC) AS rn
       |    FROM e, c$iters c WHERE e.vec_id < 10
       |  ) WHERE rn <= $nprobe
       |), cand AS (
       |  SELECT q.query_id, i.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 4) AS sim
       |  FROM qp q JOIN idx2 i USING (cid)
       |  JOIN e ce ON ce.vec_id = i.vec_id
       |  JOIN e qe ON qe.vec_id = q.query_id
       |  WHERE i.vec_id <> q.query_id
       |), ivf AS (
       |  SELECT query_id, rank, neighbor_id, sim FROM (
       |    SELECT query_id, neighbor_id, sim,
       |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |    FROM cand
       |  ) WHERE rank <= $kTop
       |), ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, cvec.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(cvec.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
       |                 cvec.vec_id) AS rank
       |    FROM e cvec, e q WHERE q.vec_id < 10 AND cvec.vec_id <> q.vec_id
       |  ) WHERE rank <= $kTop
       |), aud AS (
       |  SELECT round(
       |    CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE), 4) AS audit_recall_vs_brute
       |  FROM ex LEFT JOIN (SELECT DISTINCT query_id, neighbor_id FROM ivf) i
       |    USING (query_id, neighbor_id)
       |)
       |SELECT ivf.query_id, ivf.rank, ivf.neighbor_id, ivf.sim, aud.audit_recall_vs_brute
       |FROM ivf, aud
       |ORDER BY ivf.query_id, ivf.rank""".stripMargin
  }
  query("q35_ivf", q35Ivf, Some(q35Oracle))

  // ---------------------------------------------------------------- q34
  /** Housekeeping retention predicate (reference app/housekeeping.py:15-17)
    * with a fixed cutoff: keep rows >= cutoff. The job form
    * (filter-and-overwrite) is jobs.Jobs.housekeeping.
    */
  def q34Retention(s: SparkSession, dir: String): DataFrame =
    graft.jobs.Jobs
      .retention(Tables.events(s, dir), "ts", java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  val q34Oracle: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
      |ORDER BY event_id""".stripMargin
  query("q34_retention", q34Retention, Some(q34Oracle))

  // ---------------------------------------------------------------- q33
  /** The linear-output dedup shape for 100 TB: per-doc KEEP/DROP
    * assignment via one-hop min-propagation over LSH buckets (no
    * quadratic pair materialization). ORACLED since round 5 via the
    * generated signature-literal replay ([[q33OracleFor]]).
    * SELF-AUDITING: every row carries the corpus-level violation counts
    * of the two assignment invariants — a representative is never a
    * larger id than its member (min-propagation law), and an
    * identical-token-set class is never split across representatives
    * (the exact-dup-collapse law the 2-3× LSH speedup rests on). Both
    * audit_* columns must be 0.
    */
  def q33DedupAssign(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val assign = TextDedup
      .dedupAssignments(docs, "doc_id", "text")
      .transform(Place.materialized) // eager: audit consumers share this cache
    val repOrder = assign.agg(
      coalesce(sum(when(col("rep_id") > col("doc_id"), 1).otherwise(0)), lit(0))
        .as("audit_rep_gt_id")
    )
    val fp = docs.select(
      col("doc_id"),
      xxhash64(concat_ws("\u0000", sort_array(TextDedup.tokenSet(col("text"))))).as("fp")
    )
    val splitClasses = assign
      .join(fp, "doc_id")
      .groupBy(col("fp"))
      .agg(countDistinct(col("rep_id")).as("nreps"))
      .agg(
        coalesce(sum(when(col("nreps") > 1, 1).otherwise(0)), lit(0))
          .as("audit_split_dup_classes")
      )
    assign
      .crossJoin(broadcast(repOrder))
      .crossJoin(broadcast(splitClasses))
      .orderBy(col("doc_id"))
  }

  /** Generated oracle for q33 (round 5). The banded signature rows are
    * engine-native (murmur3 token hash + xxhash64 band key — no DuckDB
    * equivalent), so they enter the oracle as a generated VALUES table
    * (TextDedup.repBandedSigs, one row per (distinct-set rep, band));
    * the oracle then replays the DETERMINISTIC RELATIONAL CORE in SQL:
    * exact-dup collapse from the raw documents table, bucket-min
    * propagation, rep→member expansion, and both corpus audits. What
    * this certifies: everything downstream of the signatures. What
    * grounds the signatures themselves: the q46/q48 exact-pair recall
    * chain — the same split as q94's trained-codebook replay.
    */
  /** The banded-signature rows of [[TextDedup.repBandedSigs]] (the
    * engine-native murmur3/xxhash64 half of the minhash pipeline) as a
    * SQL VALUES literal block — the shared seam of the q33/q27/q48
    * generated oracles. Driver-side collect by design: this is oracle
    * GENERATION (n_distinct_sets × bands narrow rows at verify scale),
    * not a query path.
    */
  private[graft] def bandedSigLiterals(df: DataFrame): String =
    TextDedup
      .repBandedSigs(df, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
      .map { case (id, band, bsig) => s"($id, $band, CAST($bsig AS BIGINT))" }
      .mkString(",\n    ")

  /** q44 generated oracle (round 6): embed the per-value xxhash64
    * dictionary over distinct l_partkey; DuckDB replays the full HLL
    * register/estimator law (see the q44 scaladoc for the bit-exact
    * derivation and the linear-counting regime argument). Driver-side
    * collect by design: oracle GENERATION over the bounded distinct
    * key set (|part| rows at verify scale), not a query path.
    */
  def q44OracleFor(s: SparkSession, dir: String): String = {
    val mask52 = (1L << 52) - 1
    val dictRows = Tables
      .lineitem(s, dir)
      .select(col("l_partkey"))
      .distinct()
      .withColumn("h", xxhash64(col("l_partkey")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
      .map { case (pk, h) => s"($pk, CAST($h AS BIGINT))" }
      .mkString(",\n    ")
    s"""WITH dict(pk, h) AS (VALUES
       |    $dictRows
       |), rk AS MATERIALIZED (
       |  SELECT pk, CAST((h >> 52) & 4095 AS INT) AS idx,
       |    53 - CASE WHEN (h & $mask52) = 0 THEN 0 ELSE len(bin(h & $mask52)) END AS rank
       |  FROM dict
       |), grp AS (
       |  SELECT DISTINCT l_returnflag AS flag, l_partkey AS pk FROM lineitem
       |), regs AS (
       |  SELECT g.flag, r.idx, MAX(r.rank) AS mr
       |  FROM grp g JOIN rk r USING (pk) GROUP BY g.flag, r.idx
       |), reg_stats AS (
       |  SELECT f.flag,
       |    CAST(SUM(CASE WHEN reg.mr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS zeros,
       |    SUM(CAST(1 AS DOUBLE) / CAST(1::BIGINT << CAST(COALESCE(reg.mr, 0) AS INT) AS DOUBLE)) AS hsum
       |  FROM (SELECT DISTINCT flag FROM grp) f
       |  CROSS JOIN range(4096) t(i)
       |  LEFT JOIN regs reg ON reg.flag = f.flag AND reg.idx = t.i
       |  GROUP BY f.flag
       |), est AS (
       |  SELECT flag,
       |    CASE WHEN (CAST('0.7213' AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST('1.079' AS DOUBLE) / 4096)) * 4096 * 4096 / hsum <= 2.5 * 4096 AND zeros > 0
       |      THEN 4096 * ln(CAST(4096 AS DOUBLE) / zeros)
       |      ELSE (CAST('0.7213' AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST('1.079' AS DOUBLE) / 4096)) * 4096 * 4096 / hsum
       |    END AS e
       |  FROM reg_stats
       |), base AS (
       |  SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS exact_parts, COUNT(*) AS n
       |  FROM lineitem GROUP BY l_returnflag
       |)
       |SELECT b.l_returnflag, CAST(round(e.e) AS BIGINT) AS approx_parts, b.exact_parts, b.n,
       |  round(abs(CAST(round(e.e) AS BIGINT) - b.exact_parts) / b.exact_parts, 4) AS audit_rel_err
       |FROM base b JOIN est e ON e.flag = b.l_returnflag
       |ORDER BY b.l_returnflag""".stripMargin
  }

  /** q28 generated oracle (round 6): embed the engine's per-token
    * xxhash64 dictionary as literals; DuckDB independently replays the
    * whole SimHash algorithm — explode-distinct tokenization, the 64
    * per-bit ±1 votes ((h >> b) & 1 — arithmetic shift on both
    * engines), packing votes into one BIGINT (disjoint bits, so the
    * engine's OR-fold is a SUM here; bit 63 contributes −2⁶³ to stay
    * in signed range), then the bounded-slice audit: pairwise
    * bit_count(xor) Hamming vs exact token-set Jaccard, Pearson corr
    * rounded to 4. Driver-side collect by design: oracle GENERATION
    * over the distinct vocabulary (31 rows at verify scale), not a
    * query path.
    */
  def q28OracleFor(s: SparkSession, dir: String): String = {
    val dictRows = Tables
      .documents(s, dir)
      .select(explode(TextDedup.tokenSet(col("text"))).as("tok"))
      .distinct()
      .withColumn("h", xxhash64(col("tok")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
      .map { case (t, h) => s"('${t.replace("'", "''")}', CAST($h AS BIGINT))" }
      .mkString(",\n    ")
    s"""WITH dict(tok, h) AS (
       |  VALUES
       |    $dictRows
       |), toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
       |  FROM documents
       |), votes AS (
       |  SELECT t.doc_id, r.b,
       |    SUM(CASE WHEN ((d.h >> r.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM toks t JOIN dict d USING (tok) CROSS JOIN range(64) r(b)
       |  GROUP BY t.doc_id, r.b
       |), sig AS (
       |  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN
       |      CASE WHEN b = 63 THEN (-9223372036854775807 - 1)
       |           ELSE (1::BIGINT << CAST(b AS INT)) END
       |      ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id
       |), slice AS (
       |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS tk
       |  FROM documents WHERE doc_id < 500
       |), audit AS (
       |  SELECT round(corr(
       |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS DOUBLE),
       |    CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
       |    CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE)
       |  ), 4) AS audit_ham_jac_corr
       |  FROM slice a JOIN slice b ON a.doc_id < b.doc_id
       |  JOIN sig sa ON sa.doc_id = a.doc_id
       |  JOIN sig sb ON sb.doc_id = b.doc_id
       |)
       |SELECT sig.doc_id, sig.simhash, audit.audit_ham_jac_corr
       |FROM sig, audit ORDER BY sig.doc_id""".stripMargin
  }

  def q33OracleFor(s: SparkSession, dir: String): String = {
    val sigRows = bandedSigLiterals(Tables.documents(s, dir))
    s"""WITH bs(doc_id, band, bsig) AS (
       |  VALUES
       |    $sigRows
       |), toks AS (
       |  SELECT doc_id, list_sort(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tk
       |  FROM documents
       |), reps AS (
       |  SELECT tk, MIN(doc_id) AS rep FROM toks GROUP BY tk
       |), members AS (
       |  SELECT r.rep AS grp, t.doc_id FROM toks t JOIN reps r USING (tk)
       |), bucket_min AS (
       |  SELECT band, bsig, MIN(doc_id) AS bucket_min FROM bs GROUP BY band, bsig
       |), rep_assign AS (
       |  SELECT bs.doc_id AS grp, MIN(bm.bucket_min) AS rep_id
       |  FROM bs JOIN bucket_min bm USING (band, bsig)
       |  GROUP BY bs.doc_id
       |), assign AS (
       |  SELECT m.doc_id, ra.rep_id, ra.rep_id = m.doc_id AS is_kept
       |  FROM members m JOIN rep_assign ra USING (grp)
       |), a1 AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN rep_id > doc_id THEN 1 ELSE 0 END), 0) AS BIGINT)
       |    AS audit_rep_gt_id
       |  FROM assign
       |), a2 AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN nreps > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
       |    AS audit_split_dup_classes
       |  FROM (
       |    SELECT t.tk, COUNT(DISTINCT a.rep_id) AS nreps
       |    FROM assign a JOIN toks t USING (doc_id)
       |    GROUP BY t.tk
       |  )
       |)
       |SELECT assign.doc_id, assign.rep_id, assign.is_kept,
       |  a1.audit_rep_gt_id, a2.audit_split_dup_classes
       |FROM assign, a1, a2
       |ORDER BY assign.doc_id""".stripMargin
  }

  /** Shared replay body for the q27/q48 generated oracles: from the
    * embedded banded-signature literals, rebuild EXACTLY the minhash
    * pair stream `TextDedup.nearDupsMinhash(threshold=0.9, 16×16)`
    * emits — exact-dup collapse (sorted distinct-token sets keyed by
    * value), intra-class pairs at jac = 1.0, LSH candidate self-join on
    * (band, bsig) over class representatives, the size-ratio prefilter,
    * exact-Jaccard verification at >= 0.9, and member-pair expansion.
    * `docFilter` bounds the corpus (q48 replays the doc_id<500 slice).
    */
  private[graft] def minhashPairsReplay(sigRows: String, docFilter: String): String =
    s"""WITH bs(doc_id, band, bsig) AS (
       |  VALUES
       |    $sigRows
       |), toks AS (
       |  SELECT doc_id, list_sort(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tk
       |  FROM documents $docFilter
       |), reps AS (
       |  SELECT tk, MIN(doc_id) AS rep FROM toks GROUP BY tk
       |), members AS (
       |  SELECT r.rep AS grp, t.doc_id FROM toks t JOIN reps r USING (tk)
       |), repsz AS (
       |  SELECT rep, tk, len(tk) AS sz FROM reps
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b
       |  FROM bs a JOIN bs b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
       |), reppairs AS (
       |  SELECT c.rep_a, c.rep_b,
       |    CAST(len(list_filter(ra.tk, x -> list_contains(rb.tk, x))) AS DOUBLE) /
       |    CAST(ra.sz + rb.sz - len(list_filter(ra.tk, x -> list_contains(rb.tk, x))) AS DOUBLE) AS jac
       |  FROM cand c
       |  JOIN repsz ra ON c.rep_a = ra.rep
       |  JOIN repsz rb ON c.rep_b = rb.rep
       |  WHERE CAST(LEAST(ra.sz, rb.sz) AS DOUBLE) >= CAST(GREATEST(ra.sz, rb.sz) AS DOUBLE) * 0.9
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jac
       |  FROM members a JOIN members b ON a.grp = b.grp AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT LEAST(ma.doc_id, mb.doc_id) AS id_a,
       |         GREATEST(ma.doc_id, mb.doc_id) AS id_b, rp.jac
       |  FROM reppairs rp
       |  JOIN members ma ON ma.grp = rp.rep_a
       |  JOIN members mb ON mb.grp = rp.rep_b
       |  WHERE rp.jac >= 0.9
       |)""".stripMargin

  /** q27 generated oracle (round 6): the q33 signature-literal move
    * extended to the census form — replay the full minhash pair stream
    * from the embedded banded signatures, then the same linear census
    * aggregate (counts split on jac = 1, decimal-staged mean).
    */
  def q27OracleFor(s: SparkSession, dir: String): String = {
    val sigRows = bandedSigLiterals(Tables.documents(s, dir))
    s"""${minhashPairsReplay(sigRows, "")}
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(CASE WHEN jac = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_pairs,
       |  CAST(SUM(CASE WHEN jac < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup_pairs,
       |  CASE WHEN COUNT(*) > 0
       |    THEN round(CAST(SUM(CAST(jac AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) END AS mean_jac,
       |  CASE WHEN COUNT(*) > 0 THEN round(MIN(jac), 6) END AS min_jac
       |FROM pairs""".stripMargin
  }

  /** q48 generated oracle (round 6 stretch): replay the found-pair set
    * from the SLICE's banded signatures and score it against the exact
    * pair list (q46's oracle body) relationally — recall stops being a
    * recorded-only audit figure and becomes a checked one.
    */
  def q48OracleFor(s: SparkSession, dir: String): String = {
    val sigRows =
      bandedSigLiterals(Tables.documents(s, dir).filter(col("doc_id") < 500))
    s"""${minhashPairsReplay(sigRows, "WHERE doc_id < 500")},
       |exact AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
       |        CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) >= 0.9
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       |  round(CAST(SUM(CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |        CAST(COUNT(*) AS DOUBLE), 4) AS recall
       |FROM exact e
       |LEFT JOIN pairs p ON e.id_a = p.id_a AND e.id_b = p.id_b""".stripMargin
  }
  query("q33_dedup_assign", q33DedupAssign, None)

  // ---------------------------------------------------------------- q32
  /** Multimodal pipeline, REAL codec since round 6: documents →
    * [[Multimodal.renderPng]] (payload bytes rasterized under the
    * closed-form raster law, PNG-encoded via javax.imageio) →
    * [[Multimodal.decodeImage]] (ImageIO.read back — header dims, pixel
    * (0,0) channels, integer-exact luminance sum, grid-mean pixel
    * features) → frame-sample explode over the PNG bytes → per-media
    * rollup with the frame-law audits.
    *
    * ORACLED since round 6 (static SQL, [[q32Oracle]]): the raster law
    * makes every decoded value a closed form over the raw text bytes —
    * width = 8+len%9, height = 8+len%7, px00_r = byte 0,
    * px00_g = byte 7%len, px00_b = byte 13%len, and lum_sum the sum of
    * all three channel formulas over every pixel index. DuckDB
    * recomputes them from `documents.text` (ASCII at every SF, so
    * ascii(substr()) = byte); a hash match therefore certifies the
    * whole ImageIO encode → PNG → ImageIO decode round trip
    * end-to-end, pixel-exactly — plus the frame-law and feature-law
    * audit zeros. What stays engine-only (PNG byte LENGTH, and so the
    * absolute frame count) is deliberately kept out of the checked
    * output and asserted in MultimodalSpec instead.
    */
  def q32Multimodal(s: SparkSession, dir: String): DataFrame = {
    val rendered = Multimodal.renderPng(Tables.documents(s, dir), "doc_id", "text")
    val media = Multimodal.asMedia(rendered, "doc_id", "png", "image")
    val decoded = Multimodal.decodeImage(media, dim = 8)
    val frames = Multimodal.frameSample(decoded, frameBytes = 64, stride = 48)
    // Audit laws (violation counts must be 0, pinned by the oracle):
    // every frame's length equals min(frameBytes, n_bytes − idx·stride),
    // the frame count matches the generator's closed form, every decode
    // succeeded, and the feature vector is fixed-dim with values in
    // (−1, 1). width/height/px00/lum_sum come from the REAL decoded
    // pixels and are constant per media (max = the value).
    frames
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        max(col("meta.n_bytes")).as("n_bytes"),
        max(col("width")).as("width"),
        max(col("height")).as("height"),
        max(col("px00_r")).as("px00_r"),
        max(col("px00_g")).as("px00_g"),
        max(col("px00_b")).as("px00_b"),
        max(col("lum_sum")).as("lum_sum"),
        max(when(!col("decode_ok"), 1).otherwise(0)).as("audit_undecoded"),
        sum(
          when(
            length(col("frame_bytes")) =!=
              least(lit(64), col("meta.n_bytes") - col("frame_idx") * 48),
            1
          ).otherwise(0)
        ).as("audit_bad_frame_len"),
        max(
          when(
            size(col("features")) =!= 8 ||
              exists(col("features"), v => v <= -1.0f || v >= 1.0f),
            1
          ).otherwise(0)
        ).as("audit_bad_features")
      )
      .withColumn(
        "audit_bad_frame_count",
        when(
          col("n_frames") =!=
            greatest(floor((col("n_bytes") - 64).cast("double") / 48).cast("int") + 1, lit(1)),
          1
        ).otherwise(0)
      )
      // n_frames/n_bytes depend on the PNG encoder's byte output — real
      // codec artifacts with no relational closed form; they feed the
      // frame-count audit above and stay out of the checked columns
      .select(
        col("media_id"),
        col("width"),
        col("height"),
        col("px00_r"),
        col("px00_g"),
        col("px00_b"),
        col("lum_sum"),
        col("audit_undecoded"),
        col("audit_bad_frame_len").cast("long").as("audit_bad_frame_len"),
        col("audit_bad_frame_count"),
        col("audit_bad_features")
      )
      .orderBy(col("media_id"))
  }

  /** q32's static oracle: replay the raster law + audit zeros from the
    * raw text (see q32Multimodal scaladoc; len(text) = byte length —
    * the corpus is ASCII at every SF, probed).
    */
  val q32Oracle: String =
    """SELECT doc_id AS media_id,
      |  CAST(8 + length(text) % 9 AS INT) AS width,
      |  CAST(8 + length(text) % 7 AS INT) AS height,
      |  ascii(substr(text, 1, 1)) AS px00_r,
      |  ascii(substr(text, (7 % length(text)) + 1, 1)) AS px00_g,
      |  ascii(substr(text, (13 % length(text)) + 1, 1)) AS px00_b,
      |  CAST(list_sum(list_transform(range((8 + length(text) % 9) * (8 + length(text) % 7)), i ->
      |    ascii(substr(text, (i % length(text)) + 1, 1)) +
      |    ascii(substr(text, ((i * 31 + 7) % length(text)) + 1, 1)) +
      |    ascii(substr(text, ((i * 131 + 13) % length(text)) + 1, 1)))) AS BIGINT) AS lum_sum,
      |  0 AS audit_undecoded,
      |  CAST(0 AS BIGINT) AS audit_bad_frame_len,
      |  0 AS audit_bad_frame_count,
      |  0 AS audit_bad_features
      |FROM documents
      |ORDER BY media_id""".stripMargin
  query("q32_multimodal", q32Multimodal, Some(q32Oracle))

  // ---------------------------------------------------------------- q108
  /** Audio pipeline, REAL codec (round 6): documents →
    * [[Multimodal.renderWav]] (payload synthesized into mono 16-bit PCM
    * under the closed-form audio law, RIFF/WAV-encoded via
    * javax.sound.sampled) → [[Multimodal.decodeAudio]]
    * (AudioSystem.getAudioInputStream back — header rate, frame count,
    * first decoded sample, integer-exact Σ|sample|, envelope bins from
    * the actual PCM) → per-media checked row.
    *
    * ORACLED (static SQL, [[q108Oracle]]): like q32, the audio law
    * makes every decoded value a closed form over the raw text bytes —
    * a hash match certifies the WAV encode → RIFF → decode round trip
    * sample-exactly. The envelope stays engine-side (float bins),
    * pinned by its audit zero + MultimodalSpec.
    */
  def q108AudioDecode(s: SparkSession, dir: String): DataFrame = {
    val rendered = Multimodal.renderWav(Tables.documents(s, dir), "doc_id", "text")
    val media = Multimodal.asMedia(rendered, "doc_id", "wav", "audio")
    Multimodal
      .decodeAudio(media, dim = 8)
      .select(
        col("media_id"),
        col("sample_rate"),
        col("n_samples"),
        col("first_sample"),
        col("amp_sum"),
        when(!col("decode_ok"), 1).otherwise(0).as("audit_undecoded"),
        // −1.0 exactly is legal (an all-silent bin); only out-of-range
        // or wrong-dim vectors are violations
        when(
          size(col("envelope")) =!= 8 ||
            exists(col("envelope"), v => v < -1.0f || v >= 1.0f),
          1
        ).otherwise(0).as("audit_bad_envelope")
      )
      .orderBy(col("media_id"))
  }

  /** q108's static oracle: replay the audio law from the raw text (the
    * signed-16 CASE never fires on this ASCII corpus — hi < 128 — but
    * the replay keeps the general form).
    */
  val q108Oracle: String = {
    def sample(hiIdx: String, loIdx: String): String =
      s"""CASE WHEN ascii(substr(text, ($hiIdx) + 1, 1)) >= 128
         |    THEN ascii(substr(text, ($hiIdx) + 1, 1)) * 256 + ascii(substr(text, ($loIdx) + 1, 1)) - 65536
         |    ELSE ascii(substr(text, ($hiIdx) + 1, 1)) * 256 + ascii(substr(text, ($loIdx) + 1, 1)) END""".stripMargin
    s"""SELECT doc_id AS media_id,
       |  CAST(8000 + (length(text) % 8) * 1000 AS INT) AS sample_rate,
       |  CAST(length(text) * 4 AS BIGINT) AS n_samples,
       |  ${sample("3 % length(text)", "0")} AS first_sample,
       |  CAST(list_sum(list_transform(range(length(text) * 4), i ->
       |    abs(${sample("(i * 17 + 3) % length(text)", "i % length(text)")}))) AS BIGINT) AS amp_sum,
       |  0 AS audit_undecoded,
       |  0 AS audit_bad_envelope
       |FROM documents
       |ORDER BY media_id""".stripMargin
  }
  query("q108_audio_decode", q108AudioDecode, Some(q108Oracle))

  // ---------------------------------------------------------------- q110
  /** CCNet-style statistical LM quality scoring (ops/LmScore): a
    * word-bigram add-one LM trained on the doc_id % 10 == 0 reference
    * slice scores every held-out doc's mean per-bigram negative
    * log-likelihood plus its unseen-bigram rate — the
    * perplexity-proxy filter signal real web-corpus pipelines rank
    * and threshold on, complementing q21's rule-based heuristics with
    * a DISTRIBUTION-relative score. Model aggregates shuffle on gram
    * keys with map-side partials; the fitted model broadcasts to the
    * scorers (a model artifact, shipped like CCNet's KenLM binary);
    * candidates are touched once map-side + one doc-keyed aggregate.
    *
    * Oracle: static full replay — gram construction, both count
    * tables, V, the smoothed nll terms (one `ln` of an integer ratio
    * per bigram, bitwise-identical cross-engine) and the
    * decimal(38,12)-staged per-doc sum (order-independent AND immune
    * to sub-1e-12 ulp drift) all recompute in DuckDB from raw text.
    */
  def q110LmScore(s: SparkSession, dir: String): DataFrame =
    LmScore
      .scoreHeldOut(
        Tables.documents(s, dir),
        "doc_id",
        "text",
        refPred = col("doc_id") % 10 === 0
      )
      .orderBy(col("doc_id"))

  /** The q110 scoring law as a reusable CTE chain ending in `scored`
    * (doc_id, n_bigrams, avg_nll, oov_bigram_rate) — q110's final select
    * and q117's bucketing both append to it, so the two oracles share
    * the LM definition by construction (the q96 unrolled-rounds
    * precedent).
    */
  private[graft] def lmScoredChainSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
      |), bi AS (
      |  SELECT doc_id, tk[u.i] AS u, tk[u.i + 1] AS w
      |  FROM toks, LATERAL unnest(range(1, len(tk))) AS u(i)
      |), big AS (
      |  SELECT u, w, CAST(COUNT(*) AS BIGINT) AS cuw
      |  FROM bi WHERE doc_id % 10 = 0 GROUP BY u, w
      |), uni AS (
      |  SELECT u, CAST(COUNT(*) AS BIGINT) AS cu
      |  FROM bi WHERE doc_id % 10 = 0 GROUP BY u
      |), vv AS (
      |  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
      |  FROM (SELECT unnest(tk) AS tok FROM toks WHERE doc_id % 10 = 0)
      |), terms AS (
      |  SELECT h.doc_id,
      |    -ln(CAST(COALESCE(big.cuw, 0) + 1 AS DOUBLE) /
      |        CAST(COALESCE(uni.cu, 0) + vv.v AS DOUBLE)) AS nll,
      |    CASE WHEN big.cuw IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM bi h
      |  LEFT JOIN big ON h.u = big.u AND h.w = big.w
      |  LEFT JOIN uni ON h.u = uni.u, vv
      |  WHERE h.doc_id % 10 <> 0
      |), scored AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    round(CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS avg_nll,
      |    round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_bigram_rate
      |  FROM terms GROUP BY doc_id
      |)""".stripMargin

  val q110Oracle: String =
    lmScoredChainSql +
      """
        |SELECT doc_id, n_bigrams, avg_nll, oov_bigram_rate
        |FROM scored ORDER BY doc_id""".stripMargin
  query("q110_lm_score", q110LmScore, Some(q110Oracle))

  // ---------------------------------------------------------------- q65
  /** Salted equi-join in-registry (ops.Skew spec-only until now): the
    * static skew remedy for a hot join key — fact rows get a uniform
    * content-hash salt, the dim side is replicated `salt` times, and the
    * join key becomes (key, salt), spreading one hot key over `salt`
    * reducers. The fact side carries a SHUFFLE_MERGE hint so the query
    * exercises the shuffle-join regime salting exists for (a broadcast
    * join has no reducer hotspot to spread). Output provably equals the
    * plain join — the oracle is the unsalted SQL join.
    */
  def q65SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables
      .lineitem(s, dir)
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
      .hint("shuffle_merge")
    val dim = Tables.part(s, dir).select(col("p_partkey").as("l_partkey"), col("p_name"))
    Skew
      .saltedJoin(fact, dim, "l_partkey", salt = 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"), col("p_name"))
      .orderBy(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_partkey"),
        col("l_quantity"),
        col("p_name")
      )
  }

  val q65Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, p_name
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, p_name""".stripMargin
  query("q65_salted_join", q65SaltedJoin, Some(q65Oracle))

  // ---------------------------------------------------------------- q66
  /** TF-IDF top-3 terms per document — the classic text-weighting shape:
    * one shuffle on (doc_id, term) for term frequency, a tiny term-level
    * aggregate for document frequency (broadcast back), and a windowed
    * top-k that Catalyst executes with a map-side Partial
    * WindowGroupLimit. Scores round to 6 decimals BEFORE ranking so both
    * engines rank identical keys (ties break on term).
    */
  def q66Tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables
      .documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val tf = d
      .select(col("doc_id"), col("n_tokens"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("n_tokens"), col("term"))
      .agg(count(lit(1)).as("tc"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).cast("double").as("n_docs"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "tfidf",
        round(
          (col("tc").cast("double") / col("n_tokens").cast("double")) *
            log(col("n_docs") / col("df").cast("double")),
          6
        )
      )
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tc"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val q66Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), t AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, unnest(toks) AS term FROM d
      |), tf AS (
      |  SELECT doc_id, n_tokens, term, CAST(count(*) AS BIGINT) AS tc FROM t GROUP BY 1, 2, 3
      |), n AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
      |), df AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |), sc AS (
      |  SELECT tf.doc_id, tf.term, tf.tc,
      |    round((CAST(tf.tc AS DOUBLE) / CAST(tf.n_tokens AS DOUBLE)) *
      |          ln(n.n_docs / CAST(df.df AS DOUBLE)), 6) AS tfidf
      |  FROM tf JOIN df USING (term), n
      |), r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM sc
      |)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tc, tfidf
      |FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin
  query("q66_tfidf", q66Tfidf, Some(q66Oracle))

  // ---------------------------------------------------------------- q67
  /** End-to-end C4-style CLEANING PIPELINE — the composition the whole
    * text-extension exists for, as ONE declarative plan: language-ID
    * gate → quality-score gate → length gate → exact dedup (first-wins
    * per fingerprint) → PII redaction + whitespace normalization. All
    * map-side except the dedup window's one shuffle on the 32-char
    * fingerprint; Catalyst fuses every gate into the scan's
    * WholeStageCodegen span. At 100 TB the filters run BEFORE the
    * shuffle, so the dedup exchange carries only survivors.
    */
  def q67CleanPipeline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored =
      TextStats.withLangId(TextStats.withQuality(Tables.documents(s, dir), "text"), "text")
    val kept = scored
      .filter(
        col("lang_pred") === "en" && col("quality_score") >= 0.55 && col("n_tokens") >= 20
      )
      .withColumn("fp", TextStats.fingerprint(col("text")))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    kept
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("doc_id"),
        col("source"),
        col("n_tokens"),
        round(col("quality_score"), 6).as("quality"),
        TextStats.normalizeWs(TextStats.redactPii(col("text"))).as("clean_text")
      )
      .orderBy(col("doc_id"))
  }

  val q67Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, source, text, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), f AS (
      |  SELECT doc_id, source, text,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
      |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS BIGINT) AS stop_count,
      |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS cnt_en,
      |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS BIGINT) AS cnt_es,
      |    CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS cnt_de
      |  FROM t
      |), q AS (
      |  SELECT *,
      |    0.4 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
      |    0.3 * (1.0 - CAST(stop_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
      |    0.3 * least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) AS quality_score,
      |    CASE WHEN cnt_en >= cnt_es AND cnt_en >= cnt_de AND cnt_en > 0 THEN 'en'
      |         WHEN cnt_es >= cnt_de AND cnt_es > 0 THEN 'es'
      |         WHEN cnt_de > 0 THEN 'de'
      |         ELSE 'unknown' END AS lang_pred
      |  FROM f
      |), kept AS (
      |  SELECT *, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
      |  FROM q
      |  WHERE lang_pred = 'en' AND quality_score >= 0.55 AND n_tokens >= 20
      |), dedup AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM kept
      |)
      |SELECT doc_id, source, n_tokens, round(quality_score, 6) AS quality,
      |  trim(regexp_replace(
      |    regexp_replace(
      |      regexp_replace(text,
      |        '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |      '\+?[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g'),
      |    '\s+', ' ', 'g')) AS clean_text
      |FROM dedup WHERE rn = 1
      |ORDER BY doc_id""".stripMargin
  query("q67_clean_pipeline", q67CleanPipeline, Some(q67Oracle))

  // ---------------------------------------------------------------- q68
  /** Per-source DEDUPLICATION STATS — the corpus-curation dashboard
    * numbers: per source, document count, distinct-fingerprint count,
    * within-source duplicate count/rate, and how many of its documents
    * also appear (by fingerprint) in at least one other source
    * (cross-source contamination). Two aggregates over the fingerprint
    * frame plus one fp-keyed join; the text itself never shuffles — only
    * 32-char fingerprints move.
    */
  def q68SourceDedupStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables
      .documents(s, dir)
      .select(col("source"), col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
      .transform(Place.materialized) // eager: three consumers share this cache
    val perSrc = d
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_distinct"))
    val fpSources = d.groupBy(col("fp")).agg(countDistinct(col("source")).as("n_sources"))
    val crossDocs = d
      .join(fpSources, Seq("fp"))
      .filter(col("n_sources") > 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_cross_docs"))
    perSrc
      .join(crossDocs, Seq("source"), "left")
      .select(
        col("source"),
        col("n_docs"),
        col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dup_docs"),
        round(
          (col("n_docs") - col("n_distinct")).cast("double") / col("n_docs").cast("double"),
          6
        ).as("dup_rate"),
        coalesce(col("n_cross_docs"), lit(0L)).as("n_cross_docs")
      )
      .orderBy(col("source"))
  }

  val q68Oracle: String =
    """WITH d AS (
      |  SELECT source, doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
      |  FROM documents
      |), per_src AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct
      |  FROM d GROUP BY source
      |), fps AS (
      |  SELECT fp, COUNT(DISTINCT source) AS n_sources FROM d GROUP BY fp
      |), cross_docs AS (
      |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_cross_docs
      |  FROM d JOIN fps USING (fp) WHERE fps.n_sources > 1 GROUP BY d.source
      |)
      |SELECT p.source, p.n_docs, p.n_distinct,
      |  p.n_docs - p.n_distinct AS n_dup_docs,
      |  round(CAST(p.n_docs - p.n_distinct AS DOUBLE) / CAST(p.n_docs AS DOUBLE), 6) AS dup_rate,
      |  COALESCE(c.n_cross_docs, CAST(0 AS BIGINT)) AS n_cross_docs
      |FROM per_src p LEFT JOIN cross_docs c ON p.source = c.source
      |ORDER BY p.source""".stripMargin
  query("q68_source_dedup_stats", q68SourceDedupStats, Some(q68Oracle))

  // ---------------------------------------------------------------- q69
  /** CUBE analytics over events: all four grouping sets of (event_type,
    * day) in one pass — Spark expands the grouping sets and aggregates
    * once (no four-scan union). Null group members are disambiguated
    * from real values via grouping() (rolled-up slots render '<all>'),
    * the sum accumulates in decimal for order-independence, and gid
    * orders the sets deterministically in both engines.
    */
  def q69Cube(s: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .events(s, dir)
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
    e.cube(col("event_type"), col("day"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("sum_value"),
        (grouping(col("event_type")) * 2 + grouping(col("day"))).cast("long").as("gid")
      )
      .select(
        col("gid"),
        coalesce(col("event_type"), lit("<all>")).as("event_type"),
        coalesce(col("day"), lit("<all>")).as("day"),
        col("n"),
        round(col("sum_value"), 6).as("sum_value")
      )
      .orderBy(col("gid"), col("event_type"), col("day"))
  }

  val q69Oracle: String =
    """SELECT CAST(GROUPING(event_type) * 2 + GROUPING(day_s) AS BIGINT) AS gid,
      |  COALESCE(event_type, '<all>') AS event_type,
      |  COALESCE(day_s, '<all>') AS day,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
      |FROM (
      |  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_s, value
      |  FROM events
      |)
      |GROUP BY CUBE (event_type, day_s)
      |ORDER BY gid, event_type, day""".stripMargin
  query("q69_cube", q69Cube, Some(q69Oracle))

  // ---------------------------------------------------------------- q70
  /** Corpus token frequencies via the Misra–Gries HEAVY-HITTERS sketch
    * (expr.MisraGries): ≤ k counters of aggregation state per group no
    * matter how many rows stream through — the mergeable-summary shape
    * for tracking dominant tokens/domains/URLs at 100 TB without
    * shuffling the item universe. This corpus' vocabulary (31 terms)
    * fits inside k=64, so no decrement ever fires and every estimate is
    * provably exact — the oracle is a plain GROUP BY count. The lossy
    * regime (k below the distinct count) is property-checked in
    * FreqSketchSpec against the n/(k+1) error bound.
    */
  def q70HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShim
    val toks = Tables
      .documents(s, dir)
      .select(explode(TextStats.tokens(col("text"))).as("tok"))
    val sketch = toks.agg(
      GraftShim
        .column(
          graft.expr
            .MisraGries(GraftShim.expression(col("tok")), GraftShim.expression(lit(64)))
            .toAggregateExpression()
        )
        .as("hh")
    )
    sketch
      .select(explode(col("hh")).as(Seq("tok", "est_count")))
      .orderBy(col("tok"))
  }

  val q70Oracle: String =
    """SELECT tok, CAST(count(*) AS BIGINT) AS est_count
      |FROM (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
      |)
      |GROUP BY tok
      |ORDER BY tok""".stripMargin
  query("q70_heavy_hitters", q70HeavyHitters, Some(q70Oracle))

  // ---------------------------------------------------------------- q71
  /** MIXTURE MATERIALIZATION — the step after q62's weights: given a
    * token budget (half the corpus here), convert per-source sampling
    * weights into per-source EPOCH counts (capped at 4, the usual
    * repeat-harm ceiling) and emit the actual epoch-expanded training
    * corpus: each doc repeated floor(epochs) times plus one more with
    * probability frac(epochs), decided by the same engine-portable
    * multiplicative hash as q52 (rand() would be engine-private and
    * unreplayable). Generator shape: per-source scalars broadcast onto
    * the corpus, one map-side explode — the only shuffles are the two
    * tiny per-source aggregates; the corpus scans once.
    */
  def q71MixtureExpand(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_toks")
      )
      .transform(Place.materialized) // eager: the per-source agg and the final join share this
    val bySource = docs
      .groupBy(col("source"))
      .agg(sum(col("n_toks")).as("n_tokens"))
    val total = bySource.agg(sum(col("n_tokens")).as("total_tokens"))
    val powed = bySource
      .crossJoin(broadcast(total))
      .withColumn("share", col("n_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("powed", pow(col("share"), lit(0.7)))
    val z = powed.agg(sum(col("powed").cast("decimal(38,18)")).cast("double").as("z"))
    val weights = powed
      .crossJoin(broadcast(z))
      .withColumn(
        "epochs",
        least(
          lit(4.0),
          expr("total_tokens div 2").cast("double") * (col("powed") / col("z")) /
            col("n_tokens").cast("double")
        )
      )
      .select(col("source"), col("epochs"))
    docs
      .join(broadcast(weights), Seq("source"))
      .withColumn(
        "hash_frac",
        TextStats.portableHash(col("doc_id")).cast("double") / lit(1000003.0)
      )
      .withColumn(
        "n_repeats",
        (floor(col("epochs")) +
          when(col("hash_frac") < col("epochs") - floor(col("epochs")), 1).otherwise(0))
          .cast("long")
      )
      .filter(col("n_repeats") > 0)
      .select(
        col("doc_id"),
        col("source"),
        col("n_repeats"),
        explode(sequence(lit(1L), col("n_repeats"))).as("copy_idx")
      )
      .orderBy(col("doc_id"), col("copy_idx"))
  }

  val q71Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
      |  FROM documents
      |), s AS (
      |  SELECT source, CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM d GROUP BY source
      |), t AS (
      |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM s
      |), p AS (
      |  SELECT source, n_tokens,
      |    pow(CAST(n_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE), 0.7) AS powed,
      |    t.total_tokens
      |  FROM s, t
      |), z AS (
      |  SELECT CAST(SUM(CAST(powed AS DECIMAL(38,18))) AS DOUBLE) AS z FROM p
      |), w AS (
      |  SELECT source,
      |    least(4.0, CAST(total_tokens // 2 AS DOUBLE) * (powed / z.z) / CAST(n_tokens AS DOUBLE)) AS epochs
      |  FROM p, z
      |), r AS (
      |  SELECT d.doc_id, d.source,
      |    CAST(floor(w.epochs) +
      |      CASE WHEN (CAST((d.doc_id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0)
      |                < w.epochs - floor(w.epochs)
      |           THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
      |  FROM d JOIN w USING (source)
      |)
      |SELECT doc_id, source, n_repeats,
      |  CAST(unnest(range(1, n_repeats + 1)) AS BIGINT) AS copy_idx
      |FROM r WHERE n_repeats > 0
      |ORDER BY doc_id, copy_idx""".stripMargin
  query("q71_mixture_expand", q71MixtureExpand, Some(q71Oracle))

  // ---------------------------------------------------------------- q72
  /** INCREMENTAL-INGEST dedup: a new batch (docs 0-99) checked against
    * the historical fingerprint store (everything else) — the daily
    * shape of a continuously-growing corpus, where re-fingerprinting or
    * re-shuffling the history per batch would be ruinous. ops.BloomJoin
    * .antiJoin: history compresses to one constant-size Bloom filter
    * (built with one aggregate, planted as a literal); batch rows whose
    * fingerprint is DEFINITELY new bypass the anti-join shuffle
    * entirely, and only probable duplicates (~dup rate + fpr) shuffle
    * into the exact anti join that clears Bloom false positives. Output
    * is row-identical to the plain anti join — which is the oracle.
    */
  def q72IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    // token-SET fingerprint (bag-of-words key): the corpus has no exact
    // text duplicates, but ~20% of docs share an identical token set —
    // the content-defined key is what incremental dedup would really use
    val fp = TextStats.tokenSetFingerprint(col("text"))
    val d = Tables
      .documents(s, dir)
      .select(col("doc_id"), fp.as("fp"))
      .transform(Place.materialized) // eager: the Bloom build, the anti join, and both bypass
    // branches all read the fingerprint frame — one tokenize+md5 pass,
    // not four
    val history = d.filter(col("doc_id") >= 100).select(col("fp").as("hfp"))
    val batch = d.filter(col("doc_id") < 100)
    BloomJoin
      .antiJoin(batch, history, "fp", "hfp", log2bits = 16)
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  val q72Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' ')) AS fp
      |  FROM documents
      |)
      |SELECT n.doc_id, n.fp FROM d n
      |WHERE n.doc_id < 100
      |  AND NOT EXISTS (SELECT 1 FROM d h WHERE h.doc_id >= 100 AND h.fp = n.fp)
      |ORDER BY n.doc_id""".stripMargin
  query("q72_incremental_dedup", q72IncrementalDedup, Some(q72Oracle))

  // ---------------------------------------------------------------- q73
  /** COMPRESSIBILITY quality signal (expr.DeflateRatio): compressed/raw
    * size per document — the corpus-filter signal that catches template
    * spam and boilerplate token-level heuristics miss (highly repetitive
    * text deflates far below prose). Map-side native expression, zero
    * shuffles until the audit aggregate.
    *
    * ORACLED VIA CONTRACT RESTRUCTURING (round 8, the q59 pattern).
    * DuckDB has no DEFLATE function, so the raw byte ratios can never
    * be replayed — but the signal's BEHAVIORAL LAW can be pinned as
    * literals (the q44-style law note): on a corpus with template spam
    * planted on every 5th doc, (1) deflate ratio must correlate
    * strongly negatively (< -0.5) with the independent dup-3-gram
    * repetition signal, (2) the planted class must separate cleanly —
    * the most-compressible clean doc still deflates worse than the
    * least-compressible spam doc, (3) every ratio must lie in (0, 2],
    * and (4) the replayable corpus counts must match. The checked
    * output carries ONLY those verdicts; DuckDB asserts them as
    * literals (TRUE / TRUE / 0) plus the exact counts, so a kernel
    * regression (codec change, ratio definition drift, planting bug)
    * flips a verdict and turns the row red. The per-byte kernel is
    * certified in DeflateRatioSpec; measured corr at sf0.01 is -0.855,
    * so the -0.5 law threshold has 70% headroom.
    */
  def q73CompressQuality(s: SparkSession, dir: String): DataFrame = {
    // plant template boilerplate on every 5th doc (the q53/q54 planted-
    // defect pattern): the corpus itself is near-uniform 31-word text
    // with almost no 3-gram repetition, so without a planted spam class
    // both signals are flat and the correlation audit certifies nothing
    val spam = " " + Seq.fill(40)("click here to subscribe now").mkString(" ")
    val dirty = Tables
      .documents(s, dir)
      .withColumn(
        "text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(spam))).otherwise(col("text"))
      )
    val scored = TextStats
      .withRepetition(dirty, "text")
      .select(
        col("doc_id"),
        expr("deflate_ratio(text)").as("compress_ratio"),
        col("dup_ngram_ratio")
      )
    scored.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("doc_id") % 5 === 0, 1L).otherwise(0L)).as("n_spam"),
      (corr(col("compress_ratio"), col("dup_ngram_ratio")) < -0.5)
        .as("corr_strong_negative"),
      sum(
        when(col("compress_ratio") <= 0.0 || col("compress_ratio") > 2.0, 1L).otherwise(0L)
      ).as("bad_range_count"),
      // the planted class must separate cleanly: the most-compressible
      // clean doc still deflates worse than the least-compressible
      // spam doc
      (max(when(col("doc_id") % 5 === 0, col("compress_ratio"))) <
        min(when(col("doc_id") % 5 =!= 0, col("compress_ratio")))).as("spam_separated")
    )
  }

  val q73Oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spam,
      |  TRUE AS corr_strong_negative,
      |  CAST(0 AS BIGINT) AS bad_range_count,
      |  TRUE AS spam_separated
      |FROM documents""".stripMargin
  query("q73_compress_quality", q73CompressQuality, Some(q73Oracle))

  // ---------------------------------------------------------------- q74
  /** CDC APPLY (ops.Upsert.applyCdc): fold an I/U/D change batch into a
    * snapshot — the Delta/Iceberg MERGE INTO semantic as plain DataFrame
    * algebra (anti join + union, one shuffle per side, no full-outer
    * wide rows). The change batch is derived deterministically from the
    * snapshot itself (deletes for keys ≡0 mod 10, balance updates for
    * ≡1, fresh-key inserts for ≡4) so the oracle replays it exactly.
    */
  def q74CdcApply(s: SparkSession, dir: String): DataFrame = {
    val snap = Tables
      .customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val changes = snap
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), lit("D").as("op"))
      .unionByName(
        snap
          .filter(col("c_custkey") % 10 === 1)
          .select(
            col("c_custkey"),
            col("c_name"),
            (col("c_acctbal") + 100).as("c_acctbal"),
            lit("U").as("op")
          )
      )
      .unionByName(
        snap
          .filter(col("c_custkey") % 10 === 4)
          .select(
            (col("c_custkey") + 10000000L).as("c_custkey"),
            concat(lit("new_"), col("c_name")).as("c_name"),
            lit(0.0).as("c_acctbal"),
            lit("I").as("op")
          )
      )
    Upsert
      .applyCdc(snap, changes, "c_custkey", "op")
      .orderBy(col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  val q74Oracle: String =
    """WITH snap AS (
      |  SELECT c_custkey, c_name, c_acctbal FROM customer
      |), changes AS (
      |  SELECT c_custkey, c_name, c_acctbal, 'D' AS op FROM snap WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal, 'U' AS op FROM snap WHERE c_custkey % 10 = 1
      |  UNION ALL
      |  SELECT c_custkey + 10000000 AS c_custkey, 'new_' || c_name AS c_name,
      |         0.0 AS c_acctbal, 'I' AS op
      |  FROM snap WHERE c_custkey % 10 = 4
      |)
      |SELECT c_custkey, c_name, c_acctbal FROM (
      |  SELECT s.c_custkey, s.c_name, s.c_acctbal FROM snap s
      |  WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.c_custkey = s.c_custkey)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal FROM changes WHERE op IN ('I', 'U')
      |)
      |ORDER BY c_custkey, c_name, c_acctbal""".stripMargin
  query("q74_cdc_apply", q74CdcApply, Some(q74Oracle))

  // ---------------------------------------------------------------- q75
  /** BPE FIRST-MERGE candidates: corpus-wide adjacent-token-pair counts,
    * top 10 — the inner statistic of byte-pair-encoding vocabulary
    * construction (each BPE round merges the argmax pair and recounts).
    * Map-side pair explode → one groupBy on the pair string →
    * TakeOrderedAndProject top-k (no global sort); ties break on the
    * pair text so both engines rank identically.
    */
  def q75BpePairs(s: SparkSession, dir: String): DataFrame = {
    val toks = TextStats.tokens(col("text"))
    val pairs = TextStats.ngrams(toks, 2)
    Tables
      .documents(s, dir)
      // ngrams' greatest() guard would fabricate a 1-token "pair" from a
      // 1-token doc — exclude them (min doc length here is 10 anyway)
      .filter(size(toks) >= 2)
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(10)
  }

  val q75Oracle: String =
    """WITH d AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 2
      |), i AS (
      |  SELECT toks, unnest(range(0, len(toks) - 1)) AS i FROM d
      |), p AS (
      |  SELECT toks[i + 1] || ' ' || toks[i + 2] AS pair FROM i
      |)
      |SELECT pair, CAST(count(*) AS BIGINT) AS n
      |FROM p GROUP BY pair
      |ORDER BY n DESC, pair
      |LIMIT 10""".stripMargin
  query("q75_bpe_pairs", q75BpePairs, Some(q75Oracle))

  // ---------------------------------------------------------------- q76
  /** WINDOW-FRAME feature engineering over the event stream: per-user
    * 3-row moving average (ROWS frame, decimal-accumulated then divided
    * so the value is reduction-order-exact) and a trailing-1-hour event
    * count (RANGE frame over exact ns — peer-inclusive semantics match
    * DuckDB's). The per-user window is one hash-partition sort — the
    * shape that scales by user cardinality, never by total history.
    */
  def q76MovingFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRows = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(-2, 0)
    val wRange = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_ns"))
      .rangeBetween(-3600L * 1000 * 1000 * 1000, 0)
    Tables
      .events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"), col("ts_ns"))
      .withColumn("mov_sum", sum(col("value").cast("decimal(38,6)")).over(wRows))
      .withColumn("mov_n", count(lit(1)).over(wRows))
      .withColumn("n_1h", count(lit(1)).over(wRange))
      .select(
        col("event_id"),
        col("user_id"),
        round(col("mov_sum").cast("double") / col("mov_n").cast("double"), 6).as("mov_avg"),
        col("mov_n"),
        col("n_1h")
      )
      .orderBy(col("event_id"))
  }

  val q76Oracle: String =
    """SELECT event_id, user_id,
      |  round(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w_rows AS DOUBLE) /
      |        CAST(COUNT(*) OVER w_rows AS DOUBLE), 6) AS mov_avg,
      |  CAST(COUNT(*) OVER w_rows AS BIGINT) AS mov_n,
      |  CAST(COUNT(*) OVER w_range AS BIGINT) AS n_1h
      |FROM events
      |WINDOW
      |  w_rows AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      |  w_range AS (PARTITION BY user_id ORDER BY ts
      |              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin
  query("q76_moving_features", q76MovingFeatures, Some(q76Oracle))

  // ---------------------------------------------------------------- q77
  /** Embedding QUANTIZATION for vector storage at scale: per-vector
    * symmetric int8 (scale = max |x|, q = round(x/scale·127)) with the
    * reconstruction error audited in the same pass. 4× smaller vectors
    * is the difference between an in-memory and a spilling ANN index at
    * 100 TB. Map-side array expressions only; every lambda touches its
    * own argument (scale/ed stay multi-referenced attributes, so
    * CollapseProject cannot inline the aggregates into the lambdas —
    * the q73 lesson). `within_bound` asserts err ≤ scale/254, the exact
    * half-ulp bound of the quantizer.
    */
  def q77Quantize(s: SparkSession, dir: String): DataFrame = {
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("ed", transform(col("embedding"), x => x.cast("double")))
      .withColumn("scale", array_max(transform(col("ed"), x => abs(x))))
      .withColumn("qv", transform(col("ed"), x => round(x / col("scale") * 127)))
      .withColumn(
        "max_err",
        array_max(zip_with(col("ed"), col("qv"), (x, q) => abs(x - q * col("scale") / lit(127))))
      )
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale"),
        round(col("max_err"), 6).as("max_err"),
        (col("max_err") <= col("scale") / 254 * 1.0000001).as("within_bound")
      )
      .orderBy(col("vec_id"))
  }

  val q77Oracle: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings
      |), s AS (
      |  SELECT vec_id, ed, list_max(list_transform(ed, x -> abs(x))) AS scale FROM e
      |), qt AS (
      |  SELECT vec_id, ed, scale,
      |    list_transform(ed, x -> round(x / scale * 127)) AS qv
      |  FROM s
      |), err AS (
      |  SELECT vec_id, scale,
      |    list_max(list_transform(list_zip(ed, qv),
      |      p -> abs(struct_extract(p, 1) - struct_extract(p, 2) * scale / 127))) AS max_err
      |  FROM qt
      |)
      |SELECT vec_id, round(scale, 6) AS scale, round(max_err, 6) AS max_err,
      |  max_err <= scale / 254 * 1.0000001 AS within_bound
      |FROM err
      |ORDER BY vec_id""".stripMargin
  query("q77_quantize", q77Quantize, Some(q77Oracle))

  // ---------------------------------------------------------------- q78
  /** SEMANTIC dedup (ops.SemanticDedup — the SemDeDup shape): IVF
    * k-means cells with SOFT top-3 assignment + shared-cell
    * drop-against-lower-id at cosine ≥ τ. Pairwise work is O(Σ cᵢ²)
    * confined to cells, never O(n²) — the production semantic-dedup
    * geometry at 100 TB (k grows with n, cell size stays bounded, the
    * only data shuffle is keyed by cluster_id; overlap costs 2m²/k of
    * brute force). Hard assignment measured 0.27 co-cluster recall on
    * this corpus — its τ-pairs straddle cell boundaries — so the
    * overlap is what makes the cell trick honest here. ORACLED since
    * round 4 (the IvfSql replay — trained quantizer, soft top-m
    * assignment, τ keep rule and all three audits re-derived in SQL);
    * the three exact figures every row carries remain the readable
    * contract: `audit_kept_violations` (kept τ-close pairs sharing a
    * cell — 0 by the keep-rule proof), `audit_rep_violations` (a rep
    * that is not a smaller id — 0 by construction), and
    * `audit_cocluster_recall` (fraction of the exact τ-pair set — since
    * round 5 the lower-id < 500 slice of it, the q46 bounding pattern;
    * full-corpus at the sf0.01 gate — whose endpoints share a cell: the
    * quantizer's honest miss budget, the number SemDeDup trades for the
    * O(n²) escape).
    */
  def q78SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val tau = 0.35
    val e = Tables.embeddings(s, dir)
    // 2 Lloyd rounds (round 5; was 4): the quantizer only has to bound
    // the cell-confined pair work and hold co-cluster recall — both
    // audit figures are recorded either way, and rounds 3-4 bought no
    // recall at twice the fit jobs (q35's k-means uses 2 for the same
    // reason). The generated oracle replays the same 2-round chain.
    val cents = Ivf.fitCentroids(e, k = 8, iters = 2)
    val assigned = Ivf
      .assignTopM(e, cents, m = 3)
      .transform(Place.materialized) // eager: dedup + three audit consumers share this cache
    // hotCellThreshold stays at the 1<<16 default: forcing fixture-sized
    // cells hot (threshold 512) was measured SLOWER here (+0.4 s — the
    // ×16 build-side replication costs more than the extra parallelism
    // buys on 8 small cells); the salt is a skew remedy, not a
    // parallelism knob.
    val deduped = SemanticDedup
      .assignReps(assigned, tau)
      .transform(Place.materialized)
    val keptViol = SemanticDedup
      .keptViolations(assigned, deduped, tau)
      .select(col("violations").as("audit_kept_violations"))
    val repViol = deduped
      .agg(
        sum(when(col("rep_id") > col("vec_id"), 1).otherwise(0))
          .as("audit_rep_violations")
      )
    // exact τ-pairs scored for shared-cell membership: quantizer recall,
    // the figure the cell trick trades. Bounded to the lower-id < 500
    // slice of the exact pair set (the q46 pattern) since round 5: the
    // corpus-wide 2M-pair version dominated q78's bench cost while the
    // recall estimate is statistically identical on the slice. At
    // sf0.01 (the correctness gate) 500 IS the whole corpus, so the
    // oracle certifies full coverage; the corpus-wide exactness
    // contract stays on audit_kept_violations below, which remains
    // slice-free.
    val cells = deduped.select(col("vec_id"), col("cells"))
    val va = e
      .filter(col("vec_id") < 500)
      .join(cells, Seq("vec_id"))
      .select(col("vec_id").as("id_a"), col("embedding").as("va"), col("cells").as("ca"))
    val vb = e
      .join(cells, Seq("vec_id"))
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("cells").as("cb"))
    val cocluster = va
      .crossJoin(vb)
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= tau)
      .agg(
        round(
          avg(when(arrays_overlap(col("ca"), col("cb")), 1.0).otherwise(0.0)),
          4
        ).as("audit_cocluster_recall")
      )
    deduped
      .crossJoin(broadcast(keptViol))
      .crossJoin(broadcast(repViol))
      .crossJoin(broadcast(cocluster))
      .select(
        col("vec_id"),
        concat_ws(",", transform(col("cells"), _.cast("string"))).as("cells"),
        col("kept"),
        col("rep_id"),
        col("audit_kept_violations"),
        col("audit_rep_violations"),
        col("audit_cocluster_recall")
      )
      .orderBy(col("vec_id"))
  }

  /** Generated oracle for q78 — the IvfSql replay extended through the
    * whole SemDeDup pipeline: trained quantizer (k=8, 4 Lloyd rounds),
    * soft top-3 assignment, the τ keep rule (min lower-id τ-close
    * shared-cell neighbor), and all three audit figures. Unrounded τ
    * filters run on the bit-exact cosine folds; the hot-cell salting in
    * the Spark side is output-invariant by construction (spec-pinned),
    * so the unsalted SQL join is the correct reference.
    */
  val q78Oracle: String = {
    val cosFF = IvfSql.cosFloatFloat("ae.embedding", "be.embedding")
    s"""WITH e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), ${IvfSql.lloydChain(8, 2)}, atm AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${IvfSql.cosFloatDouble("e.embedding", "c.cd")} DESC, c.cid ASC) AS rn
       |    FROM e, c2 c
       |  ) WHERE rn <= 3
       |), reps AS (
       |  SELECT l.vec_id AS vec_id, MIN(r.vec_id) AS rep
       |  FROM atm l JOIN atm r ON l.cid = r.cid AND r.vec_id < l.vec_id
       |  JOIN e ae ON ae.vec_id = l.vec_id
       |  JOIN e be ON be.vec_id = r.vec_id
       |  WHERE $cosFF >= CAST(0.35 AS DOUBLE)
       |  GROUP BY l.vec_id
       |), cellsArr AS (
       |  SELECT vec_id, list_sort(list_distinct(list(cid))) AS ca
       |  FROM atm GROUP BY vec_id
       |), ded AS (
       |  SELECT c.vec_id, c.ca, r.rep IS NULL AS kept, COALESCE(r.rep, c.vec_id) AS rep_id
       |  FROM cellsArr c LEFT JOIN reps r USING (vec_id)
       |), ka AS (
       |  SELECT atm.vec_id, atm.cid FROM atm JOIN ded ON atm.vec_id = ded.vec_id AND ded.kept
       |), kv AS (
       |  SELECT CAST(count(*) AS BIGINT) AS audit_kept_violations FROM (
       |    SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |    FROM ka a JOIN ka b ON a.cid = b.cid AND b.vec_id < a.vec_id
       |    JOIN e ae ON ae.vec_id = a.vec_id
       |    JOIN e be ON be.vec_id = b.vec_id
       |    WHERE $cosFF >= CAST(0.35 AS DOUBLE)
       |  )
       |), rv AS (
       |  SELECT CAST(SUM(CASE WHEN rep_id > vec_id THEN 1 ELSE 0 END) AS BIGINT) AS audit_rep_violations
       |  FROM ded
       |), cc AS (
       |  SELECT round(AVG(CASE WHEN list_has_any(a.ca, b.ca)
       |    THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 4) AS audit_cocluster_recall
       |  FROM ded a JOIN ded b ON a.vec_id < b.vec_id AND a.vec_id < 500
       |  JOIN e ae ON ae.vec_id = a.vec_id
       |  JOIN e be ON be.vec_id = b.vec_id
       |  WHERE $cosFF >= CAST(0.35 AS DOUBLE)
       |)
       |SELECT ded.vec_id, array_to_string(ded.ca, ',') AS cells, ded.kept, ded.rep_id,
       |  kv.audit_kept_violations, rv.audit_rep_violations, cc.audit_cocluster_recall
       |FROM ded, kv, rv, cc
       |ORDER BY ded.vec_id""".stripMargin
  }
  query("q78_semantic_dedup", q78SemanticDedup, Some(q78Oracle))

  // ---------------------------------------------------------------- q79
  /** Token-budget ALPHA SWEEP: the data-mixture temperature curve. For
    * each α in {0.3, 0.5, 0.7, 1.0}, per-source sampling weight
    * wᵢ ∝ shareᵢ^α (α=1 is natural sampling, α→0 flattens toward
    * uniform), plus the effective epochs each source runs when a token
    * budget of half the corpus is drawn under wᵢ — the up-sampling
    * multiplier the mixture implies. One aggregate over the corpus,
    * then arithmetic on a |sources|×|alphas| frame (broadcast-scale):
    * the sweep costs nothing more than the single-α q62.
    */
  def q79AlphaSweep(s: SparkSession, dir: String): DataFrame = {
    val bySource = Tables
      .documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(size(TextStats.tokens(col("text"))).cast("long")).as("n_tokens"))
      .transform(Place.materialized) // eager: normalizer consumers share this cache
    val total = bySource.agg(sum(col("n_tokens")).as("total_tokens"))
    val powed = bySource
      .crossJoin(broadcast(total))
      .withColumn("alpha", explode(array(Seq(0.3, 0.5, 0.7, 1.0).map(lit): _*)))
      .withColumn("share", col("n_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("powed", pow(col("share"), col("alpha")))
      .transform(Place.materialized)
    // powed carries total_tokens as a column, so nothing downstream
    // reads bySource again — release at the barrier that supersedes it
    // (r15, the SparseSim postingsReleasable discipline)
    bySource.unpersist()
    val z = powed
      .groupBy(col("alpha"))
      .agg(sum(col("powed").cast("decimal(38,18)")).cast("double").as("z"))
    powed
      .join(broadcast(z), Seq("alpha"))
      .withColumn("weight", col("powed") / col("z"))
      .select(
        col("source"),
        col("alpha"),
        col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("weight"), 6).as("weight"),
        // half-corpus budget drawn under w: epochs = w·B / n_tokens
        round(
          col("weight") * (col("total_tokens").cast("double") * 0.5) /
            col("n_tokens").cast("double"),
          6
        ).as("eff_epochs")
      )
      .orderBy(col("source"), col("alpha"))
  }

  val q79Oracle: String =
    """WITH s AS (
      |  SELECT source,
      |    CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), t AS (
      |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM s
      |), p AS (
      |  SELECT source, alpha, n_tokens, total_tokens,
      |    CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
      |    pow(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), alpha) AS powed
      |  FROM s, t, (SELECT unnest([0.3::DOUBLE, 0.5::DOUBLE, 0.7::DOUBLE, 1.0::DOUBLE]) AS alpha)
      |), z AS (
      |  SELECT alpha, CAST(SUM(CAST(powed AS DECIMAL(38,18))) AS DOUBLE) AS z FROM p GROUP BY alpha
      |)
      |SELECT p.source, p.alpha, p.n_tokens,
      |  round(p.share, 6) AS share,
      |  round(p.powed / z.z, 6) AS weight,
      |  round(p.powed / z.z * (CAST(p.total_tokens AS DOUBLE) * 0.5) /
      |        CAST(p.n_tokens AS DOUBLE), 6) AS eff_epochs
      |FROM p JOIN z USING (alpha)
      |ORDER BY source, alpha""".stripMargin
  query("q79_alpha_sweep", q79AlphaSweep, Some(q79Oracle))

  // ---------------------------------------------------------------- q80
  /** DUPLICATED-SPAN coverage — the scalable proxy for suffix-array
    * substring dedup (Lee et al., 2022, arXiv:2107.06499): per document,
    * the fraction of its 8-gram spans that occur at least twice in the
    * corpus. Catches cross-document boilerplate passages that document-
    * level fingerprints miss. Shape: linear gram build (TextStats.ngrams,
    * the zip-of-shifts form) → one groupBy on the gram (the only data
    * shuffle; at 100 TB hash the gram to 8 bytes first) → shuffle join
    * back → per-doc aggregate. No windows, no pair materialization.
    */
  def q80DupSpans(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val toks = TextStats.tokens(col("text"))
    // Join-free complement form (round 4): a gram instance is "dup" iff
    // its gram occurs ≥ 2 times corpus-wide, so
    //   n_dup(doc) = n_grams(doc) − #(instances of corpus-SINGLETON grams in doc)
    // and a singleton gram names its one owning doc via min(doc_id).
    // That turns the old  gram-count ⋈ 1M-instance-rows  join-back into
    // one aggregate on the gram key plus one per-doc aggregate over the
    // (much smaller) singleton set. The shuffle key is the 8-byte
    // xxhash64 of the gram, not the ~70-byte string (the q101 scale
    // note, implemented): a hash collision merges two gram classes with
    // probability ≈ D²·2⁻⁶⁵ over D distinct grams — ~10⁻⁹ at 10⁵ grams.
    val docs = Tables
      .documents(s, dir)
      .filter(size(toks) >= n)
      .select(
        col("doc_id"),
        (size(toks) - (n - 1)).cast("long").as("n_grams"),
        TextStats.ngrams(toks, n).as("grams")
      )
    // deliberately NOT persisted: the two consumers need different
    // projections (gram arrays vs just n_grams), so a cache would
    // materialize the ~8× gram blow-up corpus-wide to save only a
    // column-pruned re-scan + split — measured 2.6× slower here, and
    // the wrong trade at scale too (IO pass vs n-gram-sized memory)
    val singletons = docs
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_total"), min(col("doc_id")).as("doc_id"))
      .filter(col("n_total") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_uniq"))
    docs
      .select(col("doc_id"), col("n_grams"))
      .join(singletons, Seq("doc_id"), "left") // per-doc rows both sides: shuffle join at scale, AQE broadcasts when small
      .select(
        col("doc_id"),
        col("n_grams"),
        (col("n_grams") - coalesce(col("n_uniq"), lit(0L))).as("n_dup"),
        round(
          (col("n_grams") - coalesce(col("n_uniq"), lit(0L))).cast("double") /
            col("n_grams").cast("double"),
          6
        ).as("dup_frac")
      )
      .orderBy(col("doc_id"))
  }

  val q80Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), f AS (
      |  SELECT doc_id, toks FROM d WHERE len(toks) >= 8
      |), i AS (
      |  SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS i FROM f
      |), g AS (
      |  SELECT doc_id,
      |    toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' ||
      |    toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8] AS gram
      |  FROM i
      |), c AS (
      |  SELECT gram, count(*) AS n_total FROM g GROUP BY gram
      |)
      |SELECT g.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN c.n_total >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  round(CAST(SUM(CASE WHEN c.n_total >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
      |        CAST(count(*) AS DOUBLE), 6) AS dup_frac
      |FROM g JOIN c USING (gram)
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""".stripMargin
  query("q80_dup_spans", q80DupSpans, Some(q80Oracle))

  // ---------------------------------------------------------------- q81
  /** Quality-signal AUC against a PLANTED spam class (the q73 planting
    * pattern: template boilerplate appended to every 5th doc): the
    * Mann-Whitney AUC of two filter signals — distinct-token ratio and
    * raw char length — at telling spam from clean. This is the
    * validation step a production quality filter ships with: a signal
    * you can't score against labels is a signal you can't threshold.
    * WINDOW-FREE AUC: group by (signal, score) into a distribution
    * table (bounded by distinct score values), then one broadcast-scale
    * distribution×distribution join computes P(score⁺<score⁻)+½ ties —
    * no global rank window, nothing single-partition. All pair terms
    * are integer-or-half multiples, so the double sum is exact in any
    * addition order (oracle-safe without decimal staging).
    */
  def q81QualityAuc(s: SparkSession, dir: String): DataFrame = {
    val spam = " " + Seq.fill(40)("click here to subscribe now").mkString(" ")
    val toks = TextStats.tokens(col("text"))
    val scored = Tables
      .documents(s, dir)
      .withColumn(
        "text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(spam)))
          .otherwise(col("text"))
      )
      .withColumn("label", col("doc_id") % 5 === 0)
      .select(
        col("label"),
        explode(
          array(
            struct(
              lit("uniq_ratio").as("signal"),
              round(
                size(array_distinct(toks)).cast("double") /
                  size(toks).cast("double"),
                6
              ).as("score")
            ),
            struct(
              lit("len_chars").as("signal"),
              length(col("text")).cast("double").as("score")
            )
          )
        ).as("sg")
      )
      .select(col("label"), col("sg.signal").as("signal"), col("sg.score").as("score"))
    val dist = scored
      .groupBy(col("signal"), col("score"))
      .agg(
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("n_neg")
      )
      .transform(Place.materialized) // eager: both sides of the pair join share this cache
    val totals = dist
      .groupBy(col("signal"))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"))
    val pos = dist.select(col("signal"), col("score").as("s_pos"), col("n_pos"))
    val neg = dist.select(col("signal"), col("score").as("s_neg"), col("n_neg"))
    val num = pos
      .join(neg, Seq("signal"))
      .groupBy(col("signal"))
      .agg(
        sum(
          col("n_pos").cast("double") * col("n_neg").cast("double") *
            (when(col("s_pos") < col("s_neg"), 1.0)
              .when(col("s_pos") === col("s_neg"), 0.5)
              .otherwise(0.0))
        ).as("num")
      )
    num
      .join(broadcast(totals), Seq("signal"))
      .select(
        col("signal"),
        col("n_pos"),
        col("n_neg"),
        round(
          col("num") / (col("n_pos").cast("double") * col("n_neg").cast("double")),
          6
        ).as("auc")
      )
      .orderBy(col("signal"))
  }

  val q81Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0
      |         THEN text || repeat(' click here to subscribe now', 40)
      |         ELSE text END AS text,
      |    doc_id % 5 = 0 AS label
      |  FROM documents
      |), sc AS (
      |  SELECT label, 'uniq_ratio' AS signal,
      |    round(CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE) /
      |          CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 6) AS score
      |  FROM d
      |  UNION ALL
      |  SELECT label, 'len_chars' AS signal, CAST(len(text) AS DOUBLE) AS score FROM d
      |), dist AS (
      |  SELECT signal, score,
      |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      |  FROM sc GROUP BY signal, score
      |), totals AS (
      |  SELECT signal, CAST(SUM(n_pos) AS BIGINT) AS n_pos,
      |         CAST(SUM(n_neg) AS BIGINT) AS n_neg
      |  FROM dist GROUP BY signal
      |), num AS (
      |  SELECT a.signal,
      |    SUM(CAST(a.n_pos AS DOUBLE) * CAST(b.n_neg AS DOUBLE) *
      |        (CASE WHEN a.score < b.score THEN 1.0
      |              WHEN a.score = b.score THEN 0.5
      |              ELSE 0.0 END)) AS num
      |  FROM dist a JOIN dist b ON a.signal = b.signal
      |  GROUP BY a.signal
      |)
      |SELECT t.signal, t.n_pos, t.n_neg,
      |  round(n.num / (CAST(t.n_pos AS DOUBLE) * CAST(t.n_neg AS DOUBLE)), 6) AS auc
      |FROM num n JOIN totals t USING (signal)
      |ORDER BY signal""".stripMargin
  query("q81_quality_auc", q81QualityAuc, Some(q81Oracle))

  // ---------------------------------------------------------------- q82
  /** CROSS-SOURCE duplicate-overlap matrix: for every source pair, how
    * many distinct content fingerprints (sorted-distinct-token md5, the
    * q72 fp) appear in BOTH — the contamination census that decides
    * which sources actually add novel data to a mixture. Shape: per-doc
    * map-side fingerprint → distinct (source, fp) → one self-join keyed
    * by fp (classes are tiny; the join shuffles 8-byte-hashable keys) →
    * count per ordered pair. No pair explosion outside real classes.
    */
  def q82SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val fps = Tables
      .documents(s, dir)
      .select(col("source"), TextStats.tokenSetFingerprint(col("text")).as("fp"))
      .distinct()
      .transform(Place.materialized) // eager: both join sides share this cache
    val a = fps.select(col("source").as("src_a"), col("fp"))
    val b = fps.select(col("source").as("src_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q82Oracle: String =
    """WITH fp AS (
      |  SELECT DISTINCT source,
      |    md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' ')) AS fp
      |  FROM documents
      |)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  CAST(count(*) AS BIGINT) AS n_shared_fp
      |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
      |GROUP BY a.source, b.source
      |ORDER BY src_a, src_b""".stripMargin
  query("q82_source_overlap", q82SourceOverlap, Some(q82Oracle))

  // ---------------------------------------------------------------- q83
  /** Quality DECILE binning — the curriculum/filter-threshold step: exact
    * decile cut points of the q21 composite quality score, broadcast as
    * a 9-double constant, then MAP-SIDE binning and a per-bin profile.
    * The at-scale shape: quantiles are one aggregate (or a t-digest at
    * 100 TB — q59's sketch is the drop-in), the binning pass never
    * shuffles anything but the final 10-row aggregate. No global sort,
    * no ntile window (which would single-partition the corpus).
    */
  def q83QualityBins(s: SparkSession, dir: String): DataFrame = {
    val scored = TextStats
      .withQuality(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("quality_score"))
      .transform(Place.materialized) // eager: cuts + binning consumers share this cache
    val cuts = scored.agg(
      expr(
        "percentile(quality_score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
      ).as("cuts")
    )
    scored
      .crossJoin(broadcast(cuts))
      // bin = #cuts strictly below the score: 0..9, upper-inclusive bins
      .withColumn("bin", size(filter(col("cuts"), c => col("quality_score") > c)).cast("long"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(
          dsum(col("quality_score")) / count(lit(1)).cast("double"),
          6
        ).as("mean_score"),
        round(min(col("quality_score")), 6).as("min_score"),
        round(max(col("quality_score")), 6).as("max_score")
      )
      .orderBy(col("bin"))
  }

  val q83Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), f AS (
      |  SELECT doc_id,
      |    0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) AS quality_score
      |  FROM t
      |), c AS (
      |  SELECT quantile_cont(quality_score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts FROM f
      |), b AS (
      |  SELECT f.doc_id, f.quality_score,
      |    CAST(len(list_filter(c.cuts, x -> f.quality_score > x)) AS BIGINT) AS bin
      |  FROM f, c
      |)
      |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(CAST(SUM(CAST(quality_score AS DECIMAL(38,6))) AS DOUBLE) /
      |        CAST(count(*) AS DOUBLE), 6) AS mean_score,
      |  round(min(quality_score), 6) AS min_score,
      |  round(max(quality_score), 6) AS max_score
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin
  query("q83_quality_bins", q83QualityBins, Some(q83Oracle))

  // ---------------------------------------------------------------- q84
  /** Quality-aware CANONICAL selection: near-dup clusters (the q51
    * min-label components on the bounded exact-pair slice) where the
    * kept representative is the HIGHEST-QUALITY member (ties → smallest
    * id), not the smallest id — what a production dedup actually ships
    * when docs differ in cleanliness. The argmax is expressed as
    * max-score-per-component + equality join + min-id (identical
    * structure in the oracle, so double-equality ties resolve the same
    * way in both engines). Scale: component ids come from the CC
    * contraction; the argmax adds two tiny keyed aggregates — nothing
    * beyond the component column ever shuffles with the text.
    */
  def q84CanonicalPick(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.documents(s, dir).filter(col("doc_id") < 300)
    val pairs = TextDedup.nearDupsExact(slice, "doc_id", "text", threshold = 0.9)
    val comps = Components.connectedComponents(pairs)
    val quality = TextStats
      .withQuality(slice, "text")
      .select(col("doc_id").as("id"), col("quality_score"))
    val joined = comps
      .join(quality, Seq("id"))
      .transform(Place.materialized) // eager: best-score + canonical consumers share this cache
    val best = joined
      .groupBy(col("component"))
      .agg(max(col("quality_score")).as("best_score"))
    val canon = joined
      .join(best, Seq("component"))
      .filter(col("quality_score") === col("best_score"))
      .groupBy(col("component"))
      .agg(min(col("id")).as("canon_id"))
    joined
      .join(broadcast(canon), Seq("component"))
      .select(
        col("id"),
        col("component"),
        round(col("quality_score"), 6).as("quality_score"),
        (col("id") === col("canon_id")).as("is_canonical")
      )
      .orderBy(col("id"))
  }

  val q84Oracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS tk
      |  FROM documents WHERE doc_id < 300
      |), edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
      |        CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) >= 0.9
      |), sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM edges
      |  UNION ALL
      |  SELECT id_b, id_a FROM edges
      |), reach(id, comp) AS (
      |  SELECT DISTINCT src, src FROM sym
      |  UNION
      |  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
      |), comps AS (
      |  SELECT id, MIN(comp) AS component FROM reach GROUP BY id
      |), q AS (
      |  SELECT doc_id AS id,
      |    0.4 * (CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)) +
      |    0.3 * (1.0 - CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)) +
      |    0.3 * least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 200.0, 1.0) AS quality_score
      |  FROM documents WHERE doc_id < 300
      |), j AS (
      |  SELECT c.id, c.component, q.quality_score FROM comps c JOIN q USING (id)
      |), best AS (
      |  SELECT component, MAX(quality_score) AS best_score FROM j GROUP BY component
      |), canon AS (
      |  SELECT j.component, MIN(j.id) AS canon_id
      |  FROM j JOIN best USING (component)
      |  WHERE j.quality_score = best.best_score
      |  GROUP BY j.component
      |)
      |SELECT j.id, j.component,
      |  round(j.quality_score, 6) AS quality_score,
      |  j.id = c.canon_id AS is_canonical
      |FROM j JOIN canon c USING (component)
      |ORDER BY j.id""".stripMargin
  query("q84_canonical_pick", q84CanonicalPick, Some(q84Oracle))

  // ---------------------------------------------------------------- q85
  /** Deterministic TRAIN/VAL/TEST split + LEAKAGE census. The split is
    * the engine-portable multiplicative hash (TextStats.portableHash —
    * reproducible across engines, reruns, and cluster sizes, unlike
    * rand()): 80/10/10 by hash range, entirely map-side. The leakage
    * audit is the check every split ships with: token-set-fingerprint
    * classes that span more than one split (identical content in train
    * AND eval = contamination); one fp-keyed aggregate, counted once
    * corpus-wide and broadcast onto the per-(source, split) profile.
    */
  def q85HashSplit(s: SparkSession, dir: String): DataFrame = {
    val h = TextStats.portableHash(col("doc_id"))
    val d = Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        TextStats.tokenSetFingerprint(col("text")).as("fp"),
        when(h < 800000, "train").when(h < 900000, "val").otherwise("test").as("split")
      )
      .transform(Place.materialized) // eager: profile + leakage consumers share this cache
    val leaky = d
      .groupBy(col("fp"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .agg(count(lit(1)).as("n_leaky_classes"))
    d.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(leaky))
      .select(col("source"), col("split"), col("n_docs"), col("n_leaky_classes"))
      .orderBy(col("source"), col("split"))
  }

  val q85Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' ')) AS fp,
      |    CASE WHEN (doc_id * 2654435761) % 1000003 < 800000 THEN 'train'
      |         WHEN (doc_id * 2654435761) % 1000003 < 900000 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents
      |), l AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_leaky_classes FROM (
      |    SELECT fp FROM d GROUP BY fp HAVING count(DISTINCT split) > 1
      |  )
      |)
      |SELECT d.source, d.split, CAST(count(*) AS BIGINT) AS n_docs, l.n_leaky_classes
      |FROM d, l
      |GROUP BY d.source, d.split, l.n_leaky_classes
      |ORDER BY source, split""".stripMargin
  query("q85_hash_split", q85HashSplit, Some(q85Oracle))

  // ---------------------------------------------------------------- q86
  /** Vocabulary COVERAGE / OOV rate: derive the top-16 corpus vocabulary
    * (count desc, token asc — deterministic at the boundary) and score
    * every document's out-of-vocabulary token fraction against it — the
    * tokenizer-coverage check run before committing a vocab. The vocab
    * is a broadcast-scale constant (16 strings — the same class as LSH
    * planes / IVF centroids), so the scoring pass is pure map-side HOF
    * arithmetic: the corpus text never shuffles; the only exchange is
    * the token-count aggregate that built the vocab.
    */
  def q86OovRate(s: SparkSession, dir: String): DataFrame = {
    val toks = TextStats.tokens(col("text"))
    val docs = Tables.documents(s, dir)
    val vocab = docs
      .select(explode(toks).as("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t"))
      .limit(16)
      .collect()
      .map(_.getString(0))
    val vocabLit = array(vocab.map(lit).toIndexedSeq: _*)
    docs
      .select(col("doc_id"), toks.as("tk"))
      .select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(filter(col("tk"), t => !array_contains(vocabLit, t))).cast("long").as("n_oov")
      )
      .withColumn(
        "oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
      )
      .orderBy(col("doc_id"))
  }

  val q86Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents
      |), cnt AS (
      |  SELECT t, count(*) AS n FROM tok GROUP BY t
      |), vocab AS (
      |  SELECT t FROM cnt ORDER BY n DESC, t LIMIT 16
      |)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN tok.t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
      |  round(CAST(SUM(CASE WHEN tok.t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END) AS DOUBLE) /
      |        CAST(count(*) AS DOUBLE), 6) AS oov_rate
      |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin
  query("q86_oov_rate", q86OovRate, Some(q86Oracle))

  // ---------------------------------------------------------------- q87
  /** Exact duplicated-substring REMOVAL — q80 detects, this one edits:
    * every token position covered by a corpus-duplicated 8-gram span is
    * cut, and the surviving tokens are reassembled in order (the actual
    * dedup step of Lee et al. 2022, arXiv:2107.06499, re-expressed from
    * suffix arrays to DataFrame algebra). Shapes, all linear: positioned
    * grams (map-side posexplode) → one groupBy on the gram (at 100 TB
    * hash grams to 8 bytes first) → span explode to covered positions →
    * anti join against token positions → ordered reassembly keyed by
    * doc_id. Nothing is ever pairwise; the corpus text crosses the wire
    * only inside the per-doc reassembly aggregate. Docs shorter than
    * the gram width carry no span and pass through verbatim (modulo
    * whitespace normalization, which both engines apply by
    * construction).
    */
  def q87DupSpanRemoval(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val toksX = TextStats.tokens(col("text"))
    val base = Tables
      .documents(s, dir)
      .select(col("doc_id"), toksX.as("toks"))
      .transform(Place.materialized) // eager: gram, token-position, and output consumers share it
    val grams = base
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(TextStats.ngrams(col("toks"), n)))
      .select(col("doc_id"), col("pos"), col("col").as("gram"))
      .transform(Place.materialized) // eager: count + join consumers share this cache
    val counts = grams.groupBy(col("gram")).agg(count(lit(1)).as("n_total"))
    val covered = grams
      .join(counts.filter(col("n_total") >= 2), Seq("gram"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val tokPos = base.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos").as("p"), col("col").as("tok"))
    val kept = tokPos.join(covered, Seq("doc_id", "p"), "left_anti")
    val clean = kept
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("p"), col("tok")))),
            e => e.getField("tok")
          )
        ).as("clean_text")
      )
    base
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(clean, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text")
      )
      .orderBy(col("doc_id"))
  }

  val q87Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), g AS (
      |  SELECT doc_id, i,
      |    toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' ||
      |    toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8] AS gram
      |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS i FROM d WHERE len(toks) >= 8)
      |), c AS (
      |  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
      |), cov AS (
      |  SELECT DISTINCT g.doc_id, g.i + u.u AS p
      |  FROM g JOIN c USING (gram), (SELECT unnest(range(0, 8)) AS u) u
      |), tok AS (
      |  SELECT doc_id, i AS p, toks[i+1] AS tok
      |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM d)
      |), kept AS (
      |  SELECT t.doc_id, t.p, t.tok FROM tok t
      |  WHERE NOT EXISTS (SELECT 1 FROM cov WHERE cov.doc_id = t.doc_id AND cov.p = t.p)
      |), cl AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY p) AS clean_text
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  CAST(len(d.toks) AS BIGINT) AS n_tokens,
      |  CAST(len(d.toks) AS BIGINT) - COALESCE(cl.n_kept, 0) AS n_removed,
      |  COALESCE(cl.clean_text, '') AS clean_text
      |FROM d LEFT JOIN cl USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
  query("q87_dup_span_removal", q87DupSpanRemoval, Some(q87Oracle))

}
