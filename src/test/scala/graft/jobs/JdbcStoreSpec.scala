package graft.jobs

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Upsert

/** The executed JDBC transport (embedded Derby — on Spark's own
  * classpath) must reproduce the pure-Spark merge semantics of
  * [[graft.ops.Upsert]] exactly: same COALESCE column rule
  * (reference app/main.py:636-645), same advance-only cursor rule
  * (app/main.py:257-270), plus the commit-after-emit crash contract
  * (app/main.py:1342-1347) that the parquet seam can only document.
  */
class JdbcStoreSpec extends SparkSpec {
  import spark.implicits._

  System.setProperty("derby.system.home", tempDir("derbyhome"))

  private def freshUrl(): String =
    s"jdbc:derby:memory:t${java.util.UUID.randomUUID().toString.replace("-", "")};create=true"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("coalesceUpsert bootstrap + update ≡ Upsert.coalesceMerge") {
    val url = freshUrl()
    val base = Seq(
      ("s1", Some("Berlin"), Some(52.5), Some(13.4)),
      ("s2", None: Option[String], Some(51.2), Some(6.8)),
      ("s3", Some("Krakow"), Some(50.1), Some(19.9))
    ).toDF("station_id", "city", "lat", "lon")
    val updates = Seq(
      ("s1", None: Option[String], Some(99.0), None: Option[Double]), // null keeps Berlin/13.4
      ("s2", Some("Duesseldorf"), None: Option[Double], Some(6.9)),
      ("s9", Some("Utrecht"), Some(52.1), Some(5.1)) // new key inserts
    ).toDF("station_id", "city", "lat", "lon")

    JdbcStore.coalesceUpsert(base, url, "stations", Seq("station_id"))
    JdbcStore.coalesceUpsert(updates, url, "stations", Seq("station_id"))

    val viaJdbc = JdbcStore.readTable(spark, url, "stations")
    val viaSpark = Upsert.coalesceMerge(base, updates, "station_id")
    assert(viaJdbc.columns.toSeq == base.columns.toSeq)
    assert(sortedRows(viaJdbc) == sortedRows(viaSpark))
  }

  test("greatestUpsert never regresses, inserts new keys ≡ Upsert.greatestMerge") {
    val url = freshUrl()
    val t = (s: String) => Timestamp.valueOf(s)
    val base = Seq(
      ("de", "s1", "no2", t("2024-01-02 00:00:00")),
      ("de", "s1", "pm10", t("2024-02-01 00:00:00"))
    ).toDF("source", "station_id", "pollutant", "last_observed_at")
    val updates = Seq(
      ("de", "s1", "no2", t("2024-01-01 00:00:00")), // older: must NOT regress
      ("de", "s1", "pm10", t("2024-03-01 12:34:56")), // newer: advances
      ("nl", "s7", "o3", t("2024-03-02 00:00:00")) // new key inserts
    ).toDF("source", "station_id", "pollutant", "last_observed_at")

    val keys = Seq("source", "station_id", "pollutant")
    JdbcStore.greatestUpsert(base, url, "ingestion_cursors", keys, "last_observed_at")
    JdbcStore.greatestUpsert(updates, url, "ingestion_cursors", keys, "last_observed_at")

    val viaJdbc = JdbcStore.readTable(spark, url, "ingestion_cursors")
    val viaSpark = Upsert.greatestMerge(base, updates, keys, "last_observed_at")
    assert(sortedRows(viaJdbc) == sortedRows(viaSpark))
  }

  test("within-batch duplicates: catalog first-wins, cursors per-key max") {
    val url = freshUrl()
    val dupCat = Seq(
      ("s1", Some("first"), Some(1.0)),
      ("s1", Some("second"), Some(2.0))
    ).toDF("station_id", "city", "lat")
    JdbcStore.coalesceUpsert(dupCat, url, "stations", Seq("station_id"))
    val cat = JdbcStore.readTable(spark, url, "stations").collect()
    assert(cat.length == 1 && cat(0).getString(1) == "first")

    val dupCur = Seq(
      ("de", Timestamp.valueOf("2024-01-05 00:00:00")),
      ("de", Timestamp.valueOf("2024-01-09 00:00:00"))
    ).toDF("source", "last_observed_at")
    JdbcStore.greatestUpsert(dupCur, url, "cur", Seq("source"), "last_observed_at")
    val cur = JdbcStore.readTable(spark, url, "cur").collect()
    assert(cur.length == 1 && cur(0).getTimestamp(1) == Timestamp.valueOf("2024-01-09 00:00:00"))
  }

  test("readStations pushes source + coord-presence filters into the JDBC scan") {
    val url = freshUrl()
    val cat = Seq(
      ("s1", "de", Some(52.5), Some(13.4)),
      ("s2", "de", None: Option[Double], Some(6.8)), // null lat: filtered
      ("s3", "nl", Some(52.1), Some(5.1)) // wrong source: filtered
    ).toDF("station_id", "source", "lat", "lon")
    JdbcStore.coalesceUpsert(cat, url, "stations", Seq("station_id"))

    val out = JdbcStore.readStations(spark, url, "de")
    assert(out.collect().map(_.getString(0)).toSeq == Seq("s1"))
    // the remote scan itself carries the predicates (reference does this
    // filtering in the SQL, app/main.py:66-70 — so must the JDBC scan)
    val scan = out.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters"))
    assert(scan.contains("IsNotNull") && (scan.contains("EqualTo") || scan.contains("source")))
  }

  test("partitioned read: range-split remote scan, same relation") {
    val url = freshUrl()
    val rows = (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
    JdbcStore.coalesceUpsert(rows, url, "big", Seq("k"))
    val part = JdbcStore.readTablePartitioned(spark, url, "big", "k", 1L, 201L, 4)
    assert(part.rdd.getNumPartitions == 4) // four range cursors, not one
    assert(sortedRows(part) == sortedRows(JdbcStore.readTable(spark, url, "big")))
    assert(part.count() == 200)
  }

  test("deleteOlderThan executes retention server-side") {
    val url = freshUrl()
    val rows = Seq(
      ("a", Timestamp.valueOf("2024-01-01 00:00:00")),
      ("b", Timestamp.valueOf("2024-01-08 00:00:00")),
      ("c", Timestamp.valueOf("2024-01-09 00:00:00"))
    ).toDF("k", "observed_at")
    JdbcStore.coalesceUpsert(rows, url, "measurements", Seq("k"))
    val n = JdbcStore.deleteOlderThan(url, "measurements", "observed_at", Timestamp.valueOf("2024-01-08 00:00:00"))
    assert(n == 1)
    assert(sortedRows(JdbcStore.readTable(spark, url, "measurements").select("k")) == Seq("b", "c"))
  }

  test("processBatchJdbc: watermark filter against DB cursors, commit-after-emit crash window") {
    val url = freshUrl()
    val base = tempDir("jdbcloop")
    val sink = base + "/sink"
    val t = (s: String) => Timestamp.valueOf(s)

    // batch 1: two keys, cursor table created on demand
    val b1 = Seq(
      ("de", "s1", t("2024-01-01 10:00:00"), 1L),
      ("de", "s2", t("2024-01-01 11:00:00"), 2L)
    ).toDF("source", "station_id", "observed_at", "arrival")
    JdbcStore.processBatchJdbc(b1, Seq("source", "station_id"), "observed_at", "arrival", sink, url)
    assert(spark.read.parquet(sink).count() == 2)

    // batch 2: one stale row (≤ cursor: dropped), one fresh (emitted)
    val b2 = Seq(
      ("de", "s1", t("2024-01-01 10:00:00"), 3L), // duplicate of committed cursor
      ("de", "s2", t("2024-01-01 12:00:00"), 4L)
    ).toDF("source", "station_id", "observed_at", "arrival")
    JdbcStore.processBatchJdbc(b2, Seq("source", "station_id"), "observed_at", "arrival", sink, url)
    val emitted = spark.read.parquet(sink)
    assert(emitted.count() == 3)

    // cursors advanced only to emitted maxima
    val cur = JdbcStore
      .readTable(spark, url, "ingestion_cursors")
      .orderBy("station_id")
      .collect()
    assert(cur.map(_.getTimestamp(2)).toSeq ==
      Seq(t("2024-01-01 10:00:00"), t("2024-01-01 12:00:00")))

    // crash window: emit succeeds, the cursor MERGE fails (a CHECK
    // constraint the new watermark violates stands in for the dying
    // database). The cursor must NOT advance — the batch re-emits next
    // run (at-least-once + downstream dedup, the reference's contract).
    JdbcStore.withConnection(url)(c =>
      c.createStatement().executeUpdate(
        """ALTER TABLE "ingestion_cursors" ADD CONSTRAINT "boom"
          |CHECK ("last_observed_at" <= TIMESTAMP('2024-01-01 12:00:00'))""".stripMargin))
    val b3 = Seq(("de", "s2", t("2024-01-01 13:00:00"), 5L))
      .toDF("source", "station_id", "observed_at", "arrival")
    intercept[Exception] {
      JdbcStore.processBatchJdbc(
        b3, Seq("source", "station_id"), "observed_at", "arrival", sink, url)
    }
    assert(spark.read.parquet(sink).count() == 4) // emit happened ...
    val curAfter = JdbcStore
      .readTable(spark, url, "ingestion_cursors")
      .filter(col("station_id") === "s2")
      .collect()
    assert(curAfter(0).getTimestamp(2) == t("2024-01-01 12:00:00")) // ... commit did not

    // re-run lands the cursor; the duplicate emit is the documented cost
    JdbcStore.withConnection(url)(c =>
      c.createStatement().executeUpdate("""ALTER TABLE "ingestion_cursors" DROP CONSTRAINT "boom""""))
    JdbcStore.processBatchJdbc(b3, Seq("source", "station_id"), "observed_at", "arrival", sink, url)
    assert(spark.read.parquet(sink).count() == 5)
    val curFinal = JdbcStore
      .readTable(spark, url, "ingestion_cursors")
      .filter(col("station_id") === "s2")
      .collect()
    assert(curFinal(0).getTimestamp(2) == t("2024-01-01 13:00:00"))
  }

  // ------------------------------------------------------------ r13:
  // golden-SQL portability + stage hygiene + metadata-pattern escaping

  test("golden ANSI SQL: byte-identical statements for Derby and Postgres URLs") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("station_id", StringType),
      StructField("city", StringType),
      StructField("lat", DoubleType)
    ))
    val curSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("last_observed_at", TimestampType)
    ))
    val urls = Seq("jdbc:derby:memory:g;create=true", "jdbc:postgresql://db:5432/state")
    val planned = urls.map(u =>
      JdbcStore.plannedUpsertSql(u, "stations", "stations_stage_x", schema, Seq("station_id"), None))
    val plannedCur = urls.map(u =>
      JdbcStore.plannedUpsertSql(
        u, "cur", "cur_stage_x", curSchema, Seq("source"), Some("last_observed_at")))
    // one ANSI statement set serves both engines — the URL-swap claim
    assert(planned.distinct.size == 1)
    assert(plannedCur.distinct.size == 1)
    // golden strings: a future Derby-only (or Postgres-only) spelling —
    // GREATEST, ON CONFLICT, engine-specific types — breaks here, not
    // in production against the other engine
    assert(planned.head == Seq(
      """CREATE TABLE "stations" ("station_id" VARCHAR(1024) NOT NULL, "city" VARCHAR(32672), "lat" DOUBLE, PRIMARY KEY ("station_id"))""",
      """MERGE INTO "stations" t USING "stations_stage_x" s ON t."station_id" = s."station_id" """ +
        """WHEN MATCHED THEN UPDATE SET "city" = COALESCE(s."city", t."city"), "lat" = COALESCE(s."lat", t."lat") """ +
        """WHEN NOT MATCHED THEN INSERT ("station_id", "city", "lat") VALUES (s."station_id", s."city", s."lat")""",
      """DROP TABLE "stations_stage_x""""
    ))
    assert(plannedCur.head == Seq(
      """CREATE TABLE "cur" ("source" VARCHAR(1024) NOT NULL, "last_observed_at" TIMESTAMP, PRIMARY KEY ("source"))""",
      """MERGE INTO "cur" t USING "cur_stage_x" s ON t."source" = s."source" """ +
        """WHEN MATCHED THEN UPDATE SET "last_observed_at" = CASE WHEN t."last_observed_at" IS NULL """ +
        """OR s."last_observed_at" > t."last_observed_at" THEN s."last_observed_at" ELSE t."last_observed_at" END """ +
        """WHEN NOT MATCHED THEN INSERT ("source", "last_observed_at") VALUES (s."source", s."last_observed_at")""",
      """DROP TABLE "cur_stage_x""""
    ))
  }

  test("stage tables are batch-unique and dropped after the merge") {
    val url = freshUrl()
    val rows = Seq(("s1", Some("a"))).toDF("station_id", "city")
    JdbcStore.coalesceUpsert(rows, url, "stations", Seq("station_id"))
    JdbcStore.coalesceUpsert(rows, url, "stations", Seq("station_id"))
    // no *_stage* table may outlive its upsert (storage leak + the
    // concurrent-writer race of a FIXED stage name, both ADVICE-flagged)
    val leftover = JdbcStore.withConnection(url) { conn =>
      val rs = conn.getMetaData.getTables(null, null, "%stage%", null)
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) names += rs.getString("TABLE_NAME")
      rs.close()
      names.toSeq
    }
    assert(leftover.isEmpty, s"leaked stage tables: $leftover")
  }

  test("concurrent upserts into one target: disjoint batches both land (unique stages)") {
    // the ADVICE-flagged race: with a FIXED stage name, one batch's
    // rows could be merged by the other's MERGE or the drop could fail
    // mid-write. With batch-unique stages the only shared object is
    // the target table, which the engine serializes transactionally.
    val url = freshUrl()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future {
      (1 to 12).foreach { i =>
        val rows = Seq((s"a$i", Some(i.toDouble))).toDF("station_id", "lat")
        JdbcStore.coalesceUpsert(rows, url, "stations", Seq("station_id"))
      }
    }
    val b = Future {
      (1 to 12).foreach { i =>
        val rows = Seq((s"b$i", Some(i.toDouble))).toDF("station_id", "lat")
        JdbcStore.coalesceUpsert(rows, url, "stations", Seq("station_id"))
      }
    }
    Await.result(a, 10.minutes)
    Await.result(b, 10.minutes)
    assert(JdbcStore.readTable(spark, url, "stations").count() == 24)
    val leftover = JdbcStore.withConnection(url) { conn =>
      val rs = conn.getMetaData.getTables(null, null, "%stage%", null)
      try { var n = 0; while (rs.next()) n += 1; n } finally rs.close()
    }
    assert(leftover == 0)
  }

  test("tableExists treats _ literally, not as a LIKE wildcard") {
    val url = freshUrl()
    // only the X-variant exists; the underscore name must NOT match it
    val rows = Seq(("k1", Some(1.0))).toDF("k", "v")
    JdbcStore.coalesceUpsert(rows, url, "ingestionXcursors", Seq("k"))
    assert(JdbcStore.tableExists(url, "ingestionXcursors"))
    assert(!JdbcStore.tableExists(url, "ingestion_cursors"))
    JdbcStore.coalesceUpsert(rows, url, "ingestion_cursors", Seq("k"))
    assert(JdbcStore.tableExists(url, "ingestion_cursors"))
  }

  test("long text survives the stage (VARCHAR width is Derby's max, not 1024)") {
    val url = freshUrl()
    val long = "x" * 8000 // would 22001-truncate at VARCHAR(1024)
    val rows = Seq(("d1", Some(long))).toDF("doc_id", "text")
    JdbcStore.coalesceUpsert(rows, url, "docs", Seq("doc_id"))
    val back = JdbcStore.readTable(spark, url, "docs").collect()
    assert(back.length == 1 && back(0).getString(1) == long)
  }

  test("columnBounds: server-side MIN/MAX, empty-table and single-key fallbacks") {
    val url = freshUrl()
    val rows = Seq((7L, "a"), (42L, "b")).toDF("k", "v")
    JdbcStore.coalesceUpsert(rows, url, "b1", Seq("k"))
    assert(JdbcStore.columnBounds(url, "b1", "k") == ((7L, 42L)))
    JdbcStore.coalesceUpsert(rows.limit(0), url, "b2", Seq("k"))
    assert(JdbcStore.tableExists(url, "b2"))
    assert(JdbcStore.columnBounds(url, "b2", "k") == ((0L, 1L)))
    // single key: bounds widened so lower < upper always holds (the
    // partitioned read rejects equal bounds) — and the read still
    // returns the row (edge partitions are unbounded)
    JdbcStore.coalesceUpsert(Seq((5L, "x")).toDF("k", "v"), url, "b3", Seq("k"))
    val (lo, hi) = JdbcStore.columnBounds(url, "b3", "k")
    assert(lo == 5L && hi == 6L)
    assert(JdbcStore.readTablePartitioned(spark, url, "b3", "k", lo, hi, 4).count() == 1)
  }

  test("dropInMemoryDerby frees the database") {
    val url = freshUrl()
    val rows = Seq(("k1", Some(1.0))).toDF("k", "v")
    JdbcStore.coalesceUpsert(rows, url, "t", Seq("k"))
    assert(JdbcStore.tableExists(url, "t"))
    JdbcStore.dropInMemoryDerby(url)
    // a re-connect with ;create=true builds a FRESH database — the old
    // tables are gone, proving the heap copy was released
    assert(!JdbcStore.tableExists(url, "t"))
  }
}
