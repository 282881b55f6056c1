package graft


import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.types._

/** Pins `Tables.table`'s per-session schema memo: Spark infers a table's
  * schema on its first read in a session (one job), later reads get the
  * same schema supplied and start no job, and a table rewritten under
  * the same path is inferred again. */
class TablesSpec extends SparkSpec {

  private def writeEvents(dir: String, tsType: DataType): Unit = {
    val ts: Any = tsType match {
      case LongType      => 1000000000000000000L // epoch nanos
      case TimestampType => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1000000000L))
      case other         => fail(s"unhandled fixture type $other")
    }
    val schema = StructType(Seq(StructField("event_id", LongType), StructField("ts", tsType)))
    spark.createDataFrame(Seq(Row(1L, ts)).asJava, schema)
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("the first read of a table infers its schema with 1 job, a second read starts none") {
    val dir = tempDir("tables_memo_")
    writeEvents(dir, LongType)
    assert(jobsDuring(Tables.table(spark, dir, "events")) == 1)
    assert(jobsDuring(Tables.table(spark, dir, "events")) == 0)
    assert(jobsDuring(Tables.events(spark, dir)) == 0)
  }

  test("the held schema is Spark's own inferred schema, for every fixture table") {
    val dir = tempDir("tables_fixtures_")
    val tables = Map(
      // three part files: a directory listing, not a single file
      "lineitem" -> spark.range(0, 30, 1, 3).selectExpr("id AS l_orderkey",
        "CAST(id * 1.25 AS DECIMAL(12,2)) AS l_price", "date_add(DATE'1995-01-01', CAST(id AS INT)) AS l_date",
        "CAST(id AS STRING) AS l_comment"),
      "events" -> spark.range(0, 3).selectExpr("id AS event_id",
        "CAST(timestamp_micros(1000000000000000 + id) AS TIMESTAMP_NTZ) AS ts", "'view' AS event_type"),
      "nanos" -> spark.range(0, 3).selectExpr("id AS event_id", "1000000000000000000 + id AS ts"),
      "embeddings" -> spark.range(0, 3).selectExpr("id AS doc_id",
        "array(CAST(id AS FLOAT), CAST(0.5 AS FLOAT)) AS vec", "map('k', id) AS tags"))
    for ((n, df) <- tables) {
      df.write.parquet(s"$dir/$n.parquet")
      assert(jobsDuring(Tables.table(spark, dir, n)) == 1, n)
      var held: StructType = null
      assert(jobsDuring { held = Tables.table(spark, dir, n).schema } == 0, n)
      assert(held == spark.read.parquet(s"$dir/$n.parquet").schema, n)
    }
  }

  test("a table rewritten under the same path with another schema is read with its new schema") {
    val dir = tempDir("tables_rewrite_")
    writeEvents(dir, LongType)
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
    writeEvents(dir, TimestampType)
    assert(jobsDuring(Tables.table(spark, dir, "events")) == 1, "a moved listing must infer again")
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == TimestampType)
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select("ts_ns").head().getLong(0) == 1000000000000000000L)
  }

  test("a missing table fails as Spark's own read does") {
    val dir = tempDir("tables_missing_")
    intercept[AnalysisException](Tables.table(spark, dir, "absent"))
  }

  /** Files that may read parquet without a supplied schema, and why. */
  private val unsuppliedReads: Map[String, String] = Map(
    "graft/Tables.scala" -> "the one table read; infers once per session and table, then supplies",
    "graft/jobs/Jobs.scala" -> "readSnapshot supplies its schema when the caller has one")

  test("an unsupplied-schema parquet read appears only in Tables.scala and jobs/Jobs.scala") {
    val found = for {
      (file, n, line) <- SourceScan.linesOutside(unsuppliedReads.keys.toSeq: _*) if line.contains("read.parquet(")
    } yield s"$file:$n"
    assert(found.isEmpty, found.mkString("read tables through graft.Tables instead:\n", "\n", ""))
  }
}
