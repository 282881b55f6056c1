package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.JdbcStore
import graft.ops.Rollup

/** S9/S10/S12 EXECUTED: the relational state path run through a real
  * JDBC engine (embedded Derby — it ships on Spark's own classpath), not
  * the parquet-snapshot stand-in. Each query stages its update batch
  * with Spark's parallel JDBC writer, applies ONE server-side ANSI MERGE
  * (COALESCE catalog rule, app/main.py:636-645; advance-only cursor
  * rule, app/main.py:257-270), reads the table back with
  * `spark.read.jdbc`, and must hash-match the SAME DuckDB oracle as the
  * pure-Spark merge queries (q10/q11) — the transport may not change the
  * relation. In production the URL swaps to Postgres; the statements are
  * already ANSI (see [[graft.jobs.JdbcStore]]).
  */
private[graft] trait QueriesJdbc extends QueryRegistration {
  this: QueriesCore =>

  private def freshDerby(tag: String): String =
    s"jdbc:derby:memory:$tag${java.util.UUID.randomUUID().toString.replace("-", "")};create=true"

  /** q10's two catalog snapshots COALESCE-upserted into a fresh Derby
    * table, then read back by `read(url)` and cast to the staged schema,
    * so the relation (values AND types) is bit-identical to the
    * pure-Spark q10 plan the oracle certifies.
    *
    * The read-back is materialized and the in-memory database then
    * FREED (r13, ADVICE fix — un-dropped memory DBs are heap leaks
    * across Bench reps): Checkpoints.cut is eager, so the returned frame
    * no longer touches Derby when the harness runs its actions. The
    * state table is bounded (the reference's catalog dimension), so
    * holding its blocks is the same contract as any cached dim.
    */
  private def upsertedCatalog(s: SparkSession, dir: String, tag: String)(read: String => DataFrame): DataFrame = {
    val (base, updates) = catalogSnapshots(s, dir)
    val url = freshDerby(tag)
    JdbcStore.coalesceUpsert(base, url, "catalog", Seq("c_custkey"))
    JdbcStore.coalesceUpsert(updates, url, "catalog", Seq("c_custkey"))
    val back = graft.ops.Checkpoints.cut(
      read(url).select(base.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*))
    JdbcStore.dropInMemoryDerby(url)
    back.orderBy(col("c_custkey"))
  }

  // ---------------------------------------------------------------- q321
  /** A5 over the wire: q10's COALESCE catalog merge executed as
    * stage + MERGE in Derby, then read back ([[upsertedCatalog]]).
    */
  def q321JdbcUpsert(s: SparkSession, dir: String): DataFrame =
    upsertedCatalog(s, dir, "q321")(JdbcStore.readTable(s, _, "catalog"))

  // same relation as q10: the JDBC transport must be invisible in the result
  query("q321_jdbc_upsert", q321JdbcUpsert, Some(q10Oracle))

  // ---------------------------------------------------------------- q322
  /** A4/A6 over the wire: q11's GREATEST cursor merge executed as
    * stage + MERGE (the portable CASE form — Derby has no GREATEST), on
    * the µs event timestamps; Derby TIMESTAMP carries nanosecond
    * precision so the round trip is exact at micros.
    */
  def q322JdbcCursor(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val keys = Seq("user_id", "event_type")
    def cursorOf(half: DataFrame): DataFrame = Rollup.maxTsPerKey(half, keys, "ts")
    val oldCur = cursorOf(ev.filter(col("event_id") < 5000L))
    val newCur = cursorOf(ev.filter(col("event_id") >= 5000L))
    val url = freshDerby("q322")
    JdbcStore.greatestUpsert(oldCur, url, "ingestion_cursors", keys, "last_observed_at")
    JdbcStore.greatestUpsert(newCur, url, "ingestion_cursors", keys, "last_observed_at")
    // eager read-back + drop: see upsertedCatalog
    val back = graft.ops.Checkpoints.cut(
      JdbcStore
        .readTable(s, url, "ingestion_cursors")
        .select(
          col("user_id").cast("long").as("user_id"),
          col("event_type"),
          date_format(col("last_observed_at"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_observed")
        ))
    JdbcStore.dropInMemoryDerby(url)
    back.orderBy(col("user_id"), col("event_type"))
  }

  // same relation as q11 (the merge of the two half-cursors), as for q321
  query("q322_jdbc_cursor", q322JdbcCursor, Some(q11Oracle))

  // ---------------------------------------------------------------- q323
  /** S9's BIG-TABLE re-entry shape EXECUTED and oracle-certified (r13,
    * verdict task 2): the same COALESCE-merged catalog as q321, read
    * back through [[JdbcStore.readTablePartitioned]] — a 4-way range
    * split on the numeric key with bounds from the cheap server-side
    * MIN/MAX ([[JdbcStore.columnBounds]]), so every executor opens its
    * own cursor instead of funneling the table through one connection
    * (reference reads its state tables over a single DB-API connection,
    * app/main.py:63-85; the partitioned scan is what that becomes on a
    * cluster). Spark's range partitioning makes the first/last
    * partitions unbounded, so the union of the 4 range predicates is
    * exactly the table — which is the thing the shared q10 oracle now
    * certifies: the PARTITIONED transport may not change the relation.
    */
  def q323JdbcPartitionedScan(s: SparkSession, dir: String): DataFrame =
    upsertedCatalog(s, dir, "q323") { url =>
      val (lo, hi) = JdbcStore.columnBounds(url, "catalog", "c_custkey")
      JdbcStore.readTablePartitioned(s, url, "catalog", "c_custkey", lo, hi, numParts = 4)
    }

  // same relation as q10/q321: the partition split must be invisible in the result
  query("q323_jdbc_partitioned_scan", q323JdbcPartitionedScan, Some(q10Oracle))
}
