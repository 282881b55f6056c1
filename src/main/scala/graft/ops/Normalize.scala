package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record normalization (SURVEY.md §2.2 P1-P8, §2.8 F7/F8/F13).
  *
  * The reference normalizes three unstable upstream schemas into one flat
  * measurement record with fallback chains, null-on-error numeric
  * coercion, lower-cased enum values, an allowlist filter, and three
  * timestamp normalization paths. All of that is column-level expression
  * composition here — fully codegen'd, no UDFs.
  */
object Normalize {

  /** The pollutant allowlist (reference app/main.py:1051). */
  val pollutants: Seq[String] = Seq("pm25", "pm10", "no2", "o3", "nox", "no", "co", "so2")

  /** F7: lenient multi-format timestamp parse (reference
    * app/main.py:166-181). Accepts, in priority order:
    *   ISO-8601 with offset or 'Z' (app/main.py:175-176),
    *   ISO-8601 'T'-separated naive,
    *   space-separated 'yyyy-MM-dd HH:mm:ss' (PL format,
    *     app/main.py:1134).
    * Naive inputs are interpreted in `naiveZone` then converted to UTC
    * (the reference's localize-then-convert path, app/main.py:184-206).
    * Unparseable → null (fail-open callers decide what to do).
    *
    * Expression tree of built-in `to_timestamp`/`coalesce` — ANSI off
    * makes each failed format yield null instead of raising.
    *
    * REQUIRES a UTC session timezone (graft.Sessions sets it; Tables
    * hardens foreign sessions): `to_timestamp` parses naive strings in
    * the SESSION zone, so a non-UTC session would double-shift the
    * naive paths.
    */
  def lenientTimestamp(c: Column, naiveZone: String = "UTC"): Column = {
    val iso = to_timestamp(c, "yyyy-MM-dd'T'HH:mm:ssXXX")
    val isoMicros = to_timestamp(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    val naiveT = to_utc_timestamp(to_timestamp(c, "yyyy-MM-dd'T'HH:mm:ss"), naiveZone)
    val naiveSpace = to_utc_timestamp(to_timestamp(c, "yyyy-MM-dd HH:mm:ss"), naiveZone)
    coalesce(iso, isoMicros, naiveT, naiveSpace)
  }

  /** P3: numeric coercion with null on error (`float(str(x))` else null,
    * reference app/main.py:395-399). ANSI-off cast gives exactly this.
    */
  def toDoubleOrNull(c: Column): Column = c.cast("string").cast("double")

  /** P1: raw API shape → 11-field measurement record. Expects raw columns
    * (possibly null / string-typed): station_id, pollutant, value, city,
    * location_name, lat, lon, ts_raw, plus constants per source. Applies:
    *  - fallback chains via coalesce (F13),
    *  - pollutant lower-case normalization + pm2.5→pm25 rewrite + allowlist
    *    (P6, reference app/main.py:1045-1052),
    *  - null-value drop (P5), null-island drop is station-side (P4),
    *  - lenient UTC timestamp normalization (F7/F8).
    */
  def toMeasurements(raw: DataFrame, source: String, country: String, naiveZone: String): DataFrame =
    raw
      .select(
        col("station_id").cast("string").as("station_id"),
        regexp_replace(lower(trim(col("pollutant"))), "pm2\\.5", "pm25").as("pollutant"),
        toDoubleOrNull(col("value")).as("value"),
        lit("ug/m3").as("unit"),
        lit(country).as("country"),
        col("city").cast("string").as("city"),
        coalesce(col("location_name"), col("city")).cast("string").as("location_name"),
        toDoubleOrNull(col("lat")).as("lat"),
        toDoubleOrNull(col("lon")).as("lon"),
        lenientTimestamp(col("ts_raw"), naiveZone).as("timestamp"),
        lit(source).as("source")
      )
      .filter(col("value").isNotNull)
      .filter(col("pollutant").isin(pollutants: _*))
      .filter(col("timestamp").isNotNull)

  /** P4: drop stations without coordinates (reference app/main.py:400-401). */
  def dropNullIsland(stations: DataFrame): DataFrame =
    stations.filter(col("lat").isNotNull && col("lon").isNotNull)

  /** P7: PL "automatic stations only" predicate (reference
    * app/main.py:592-595).
    */
  def onlyAutomatic(stations: DataFrame): DataFrame =
    stations.filter(lower(col("station_type")).contains("automat"))

  /** S4 payload decode: the DE measures endpoint keys POSITIONAL arrays
    * `[component_id, scope, value, next_ts, valid_flag]` by a local
    * timestamp string (reference app/main.py:747-783). Reference
    * semantics as codegen'd column algebra, one output row per
    * surviving payload:
    *  - arrays shorter than 3 are dropped (the malformed-payload guard,
    *    app/main.py:749-750);
    *  - `value` is null-on-error coerced, null values dropped
    *    (app/main.py:751-753 + the P3 coercion);
    *  - component id → pollutant via the fixed comp_map {1→pm10,
    *    2→pm25, 5→no2, 7→o3}; unknown ids FALL THROUGH as themselves
    *    (comp_map.get default, app/main.py:761-767); unit is the
    *    constant ug/m3;
    *  - the key string is Berlin-naive → UTC via the F7/F8 lenient
    *    chain (app/main.py:754-760);
    *  - `valid_flag` reads position 5 — null when the payload is the
    *    short-but-valid 3/4-element shape (ANSI-off element_at).
    * Non-payload input columns pass through; `payloadCol`/`tsCol` are
    * consumed.
    *
    * Two INTENTIONAL deviations from the reference (both stricter —
    * this is a curation engine, not a re-poller):
    *  - non-numeric `value` strings are DROPPED by the P3 coercion;
    *    the reference keeps any non-None payload[2] verbatim
    *    (app/main.py:751-753), admitting strings into a numeric
    *    column. A caller wanting reference behavior keeps the raw
    *    payload column alongside.
    *  - an unparseable key timestamp yields a null `ts_utc` (and the
    *    row survives with null time); the reference substitutes
    *    fetch-time `now` (app/main.py:756-760), which is
    *    non-reproducible — a rerun would stamp different times.
    */
  def decodeDePayload(
      df: DataFrame,
      payloadCol: String = "payload",
      tsCol: String = "ts_str"
  ): DataFrame = {
    val p = col(payloadCol)
    val comp = element_at(p, 1)
    df.filter(size(p) >= 3)
      .withColumn(
        "pollutant",
        when(comp === "1", lit("pm10"))
          .when(comp === "2", lit("pm25"))
          .when(comp === "5", lit("no2"))
          .when(comp === "7", lit("o3"))
          .otherwise(comp)
      )
      .withColumn("scope", element_at(p, 2))
      .withColumn("value", toDoubleOrNull(element_at(p, 3)))
      .withColumn("unit", lit("ug/m3"))
      .withColumn("ts_utc", lenientTimestamp(col(tsCol), naiveZone = "Europe/Berlin"))
      .withColumn("valid_flag", element_at(p, 5))
      .withColumn("source", lit("de"))
      .filter(col("value").isNotNull)
      .drop(payloadCol, tsCol)
  }

  // ------------------------------------------------------------------
  // S1-S3 raw catalog decoders: each national API's CAPTURED page rows
  // carry the station entry as a raw JSON string (`rawCol`); these turn
  // that string into the unified station record (station_id, source,
  // country, city, location_name, lat, lon) with the reference's exact
  // fallback chains — so the paged source + HTTP transport + decode
  // composes into the reference's full catalog path. All column
  // algebra (from_json + coalesce + the P3 coercion); catalogs are
  // dimension-side (10^3-10^4 rows), so the non-codegen JsonToStructs
  // node is never on a fact-table hot path.

  /** DE/UBA `/stations/json` entry (reference app/main.py:383-399): a
    * POSITIONAL list `[id, code, name, city, ..., lon@7, lat@8]`, or a
    * dict `{latitude, longitude, name, city}` for the non-list shape.
    * Both shapes are tried; float-or-null coercion; null lat/lon rows
    * DROPPED (the `continue`, app/main.py:400-401); location_name
    * falls back to city (`name or city`).
    */
  def decodeDeCatalog(df: DataFrame, rawCol: String = "raw"): DataFrame = {
    import org.apache.spark.sql.types.DataType
    val asList = from_json(col(rawCol), DataType.fromDDL("array<string>"))
    val asDict = from_json(
      col(rawCol),
      DataType.fromDDL("struct<latitude:string, longitude:string, name:string, city:string>"))
    val lat = toDoubleOrNull(coalesce(element_at(asList, 9), asDict("latitude")))
    val lon = toDoubleOrNull(coalesce(element_at(asList, 8), asDict("longitude")))
    val name = coalesce(element_at(asList, 3), asDict("name"))
    val city = coalesce(element_at(asList, 4), asDict("city"))
    df.select(
        col("station_id").cast("string").as("station_id"),
        lit("de").as("source"),
        lit("DE").as("country"),
        city.cast("string").as("city"),
        coalesce(name, city).cast("string").as("location_name"),
        lat.as("lat"),
        lon.as("lon")
      )
      .filter(col("lat").isNotNull && col("lon").isNotNull)
  }

  /** NL/Luchtmeetnet station detail (reference app/main.py:529-545):
    * lat/lon from `geometry.coordinates` = [lon, lat] when present,
    * else flat `lat`/`lon`; city = municipality else locality;
    * location_name = location else the station number.
    */
  def decodeNlCatalog(df: DataFrame, rawCol: String = "raw"): DataFrame = {
    val d = from_json(
      col(rawCol),
      org.apache.spark.sql.types.DataType.fromDDL(
        "struct<geometry: struct<coordinates: array<string>>, " +
          "municipality:string, locality:string, location:string, " +
          "lat:string, lon:string>"))
    val coords = d("geometry")("coordinates")
    df.select(
        col("station_id").cast("string").as("station_id"),
        lit("luchtmeetnet").as("source"),
        lit("NL").as("country"),
        coalesce(d("municipality"), d("locality")).cast("string").as("city"),
        coalesce(d("location"), col("station_id")).cast("string").as("location_name"),
        toDoubleOrNull(coalesce(element_at(coords, 2), d("lat"))).as("lat"),
        toDoubleOrNull(coalesce(element_at(coords, 1), d("lon"))).as("lon")
      )
      .filter(col("lat").isNotNull && col("lon").isNotNull)
  }

  /** PL/GIOS `findAll` entry (reference app/main.py:577-618): Polish
    * production keys with English fallbacks — id = `Identyfikator
    * stacji` else `id` else `stationId`; type = `Typ stacji` else
    * `stationType`; lat = `gegrLat` else the `WGS84 φ N` key; the
    * station_type column rides along so [[onlyAutomatic]] (P7) can
    * apply the reference's pl_only_auto predicate downstream.
    */
  def decodePlCatalog(df: DataFrame, rawCol: String = "raw"): DataFrame = {
    val d = from_json(
      col(rawCol),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("Identyfikator stacji", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("stationId", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("Typ stacji", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("stationType", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("Nazwa miasta", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("Nazwa stacji", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("gegrLat", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("gegrLon", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("WGS84 φ N", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("WGS84 λ E", org.apache.spark.sql.types.StringType)
      )))
    df.select(
        coalesce(d("Identyfikator stacji"), d("id"), d("stationId"))
          .cast("string").as("station_id"),
        lit("gios").as("source"),
        lit("PL").as("country"),
        d("Nazwa miasta").cast("string").as("city"),
        d("Nazwa stacji").cast("string").as("location_name"),
        toDoubleOrNull(coalesce(d("gegrLat"), d("WGS84 φ N"))).as("lat"),
        toDoubleOrNull(coalesce(d("gegrLon"), d("WGS84 λ E"))).as("lon"),
        coalesce(d("Typ stacji"), d("stationType")).cast("string").as("station_type")
      )
      .filter(col("station_id").isNotNull)
      .filter(col("lat").isNotNull && col("lon").isNotNull)
  }

  // -------------------------------------------------- page envelopes
  // The decoders above consume ONE RAW JSON ENTRY per row; a live
  // deployment receives whole response BODIES. These explode each
  // API's page envelope into (station_id, raw) rows as pure column
  // algebra — get_json_object returns the raw JSON SUBTREE as a
  // string, so the entry text reaches the decoder byte-identical to
  // what the reference's Python iteration sees. Catalog pages are
  // dimension-sized; the per-row JsonPath parse is never on a fact
  // path. Exercised against the real endpoints by LiveApiSmokeSpec
  // (env-gated) and against fixture envelopes unconditionally.

  /** DE/UBA `/stations/json` body: `data` is a DICT of station_id →
    * positional list (reference app/main.py:377-383) — enumerate its
    * keys, then pull each entry subtree. Station ids are alnum; keys
    * that are NOT (a quote/bracket would break the interpolated
    * JsonPath) are dropped by an explicit shape filter rather than
    * decaying to null raw downstream (r14, ADVICE fix).
    */
  def explodeDeCatalogPage(pages: DataFrame, pageCol: String = "page"): DataFrame =
    pages
      .select(
        col(pageCol),
        explode(json_object_keys(get_json_object(col(pageCol), "$.data"))).as("station_id"))
      .filter(col("station_id").rlike("^[A-Za-z0-9]+$"))
      .select(
        col("station_id"),
        call_function(
          "get_json_object",
          col(pageCol),
          concat(lit("$.data['"), col("station_id"), lit("']"))).as("raw"))

  /** Explode a JSON ARRAY column into its raw element subtrees (the
    * shared NL/PL page shape): index explode + per-index JsonPath.
    */
  private def explodeJsonArray(pages: DataFrame, arr: Column): DataFrame =
    pages
      .select(arr.as("__arr"))
      .filter(col("__arr").isNotNull && json_array_length(col("__arr")) > 0)
      .select(
        col("__arr"),
        explode(sequence(lit(0), json_array_length(col("__arr")) - 1)).as("__i"))
      .select(
        call_function(
          "get_json_object",
          col("__arr"),
          concat(lit("$["), col("__i"), lit("]"))).as("raw"))

  /** NL/Luchtmeetnet `/stations?page=N` body: `data` is an array of
    * `{number, ...}` rows (reference app/main.py:482-491) — the
    * station NUMBER is the id and the key for the per-station detail
    * request whose `data` subtree feeds [[decodeNlCatalog]].
    */
  def explodeNlStationList(pages: DataFrame, pageCol: String = "page"): DataFrame =
    explodeJsonArray(pages, get_json_object(col(pageCol), "$.data"))
      .select(get_json_object(col("raw"), "$.number").as("station_id"), col("raw"))
      .filter(col("station_id").isNotNull)

  /** PL/GIOS `/station/findAll` body: the station array under the
    * Polish production key, else `stations`, else the body itself
    * (reference app/main.py:579-584); per-entry id fallbacks mirror
    * [[decodePlCatalog]]'s.
    */
  def explodePlCatalogPage(pages: DataFrame, pageCol: String = "page"): DataFrame =
    explodeJsonArray(
      pages,
      coalesce(
        get_json_object(col(pageCol), "$['Lista stacji pomiarowych']"),
        get_json_object(col(pageCol), "$.stations"),
        col(pageCol)))
      .select(
        coalesce(
          get_json_object(col("raw"), "$['Identyfikator stacji']"),
          get_json_object(col("raw"), "$.id"),
          get_json_object(col("raw"), "$.stationId")).as("station_id"),
        col("raw"))
      .filter(col("station_id").isNotNull)
}
