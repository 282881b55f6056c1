package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness parquet tables (TESTDATA.md).
  *
  * All tables are driver-generated star-schema parquet at
  * `/root/testdata/sf{0.001,0.01,0.1}/`. Loading goes through one place so
  * every query benefits from the same scan discipline: parquet vectorized
  * reader, column pruning and predicate pushdown happen automatically when
  * callers `.select`/`.filter` on the returned DataFrame.
  */
object Tables {

  /** Defensive hardening for sessions NOT built via graft.Sessions (e.g.
    * a harness-created vanilla session): these three confs are
    * runtime-settable and required for correct reads/oracle parity —
    * nanosAsLong (events was TIMESTAMP(NANOS) parquet in early testdata
    * generations; harmless for the current timestamp[us] shape), UTC
    * session TZ, ANSI off (null-on-error casts). Idempotent, cheap.
    */
  private def harden(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    harden(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.ts has shipped as two physical parquet types across testdata
    * generations: TIMESTAMP(NANOS) (read as int64 nanos via
    * legacy.parquet.nanosAsLong, see Sessions) and timestamp[us]
    * (read as TIMESTAMP / TIMESTAMP_NTZ). This loader adapts on the
    * SCANNED type — the schema-fallback-chain discipline the reference
    * applies to every upstream payload (reference app/main.py:384-394,
    * 588) applied to our own scan — and always yields the same contract:
    *  - `ts_ns` (long, epoch nanos) for every ordering /
    *    strict-comparison / dedup-key purpose — bit-identical to DuckDB's
    *    `epoch_ns(ts)` on the same parquet (µs data ⇒ ns = µs·1000);
    *  - `ts` (TimestampType, µs) for calendar operations (date_trunc,
    *    date_format) where sub-µs precision is irrelevant.
    * Both shapes are pinned by EventsSchemaSpec against tiny fixtures so
    * a testdata regeneration cannot silently break the contract again.
    */
  def events(s: SparkSession, d: String): DataFrame =
    withEventTime(table(s, d, "events"))

  /** The ts-shape adaptation itself, reusable on any frame carrying a
    * raw events `ts`. The match is on the STATIC schema, so it is
    * streaming-safe: StreamingSpec applies it to a MemoryStream of each
    * shape and gets the batch frame's `ts`/`ts_ns`.
    */
  def withEventTime(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType | IntegerType => // int64 epoch-nanos (TIMESTAMP(NANOS) parquet)
        raw
          .withColumn("ts_ns", col("ts").cast(LongType))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType | TimestampNTZType => // µs timestamp parquet
        // NTZ→LTZ cast under the UTC session TZ is a wall-clock identity;
        // downstream code sees the same TimestampType it always has.
        raw
          .withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other (expected int64 nanos or timestamp)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
