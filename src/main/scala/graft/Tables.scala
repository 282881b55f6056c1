package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the harness parquet tables (TESTDATA.md).
  *
  * All tables are driver-generated star-schema parquet at
  * `/root/testdata/sf{0.001,0.01,0.1}/`. Loading goes through one place so
  * every query benefits from the same scan discipline: parquet vectorized
  * reader, column pruning and predicate pushdown happen automatically when
  * callers `.select`/`.filter` on the returned DataFrame.
  *
  * '''Schema memo.''' A parquet read with no schema starts one Spark job
  * to infer it from the footers (60-100 ms per read on a warm 4-core
  * local session, most of a short query's construction). [[table]] lets
  * Spark infer each table's schema once per session and passes it to
  * every later read of the same table through `.schema(...)`, which
  * starts no job. The memo is private
  * driver state, one small `StructType` per table path:
  *  - held per `SparkSession` (weakly), because inference depends on
  *    session confs such as `nanosAsLong`;
  *  - keyed by the table's qualified path, and tagged with the path's
  *    listing when inferred: every file under it, with its length and
  *    modification time, so it covers a single file and a directory of
  *    part files alike;
  *  - a read infers again, and replaces the entry, when the table is new
  *    to the session or its listing has moved since (a table rewritten
  *    under the same path). A missing path reads unmemoized and fails as
  *    Spark's own read does.
  * [[events]] and [[withEventTime]] adapt on whatever schema the read
  * carries, so they see the same types either way (`TablesSpec`).
  */
object Tables {

  private type Listing = Seq[(String, Long, Long)]

  /** Per session: qualified table path -> (its listing, its inferred schema). */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Listing, StructType)]]())

  /** The qualified `path` and every file under it (the path itself when
    * it is a file), sorted; None when the path does not exist. */
  private def listing(spark: SparkSession, path: Path): Option[(String, Listing)] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(path, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
      Some((fs.makeQualified(path).toString, files))
    } catch { case _: java.io.FileNotFoundException => None }
  }

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

  /** Table `name` of `dir`, read with its held schema while its listing
    * is the one Spark inferred that schema from in this session. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    harden(spark)
    val path = s"$dir/$name.parquet"
    listing(spark, new Path(path)) match {
      case None => spark.read.parquet(path)
      case Some((key, files)) =>
        val held = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
        Option(held.get(key)).filter(_._1 == files) match {
          case Some((_, schema)) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            held.put(key, (files, df.schema))
            df
        }
    }
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
