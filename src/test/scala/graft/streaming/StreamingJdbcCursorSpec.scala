package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.jobs.JdbcStore
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener

/** T1 + T3 + S10 EXECUTED TOGETHER: a real Structured Streaming query
  * whose foreachBatch runs [[JdbcStore.processBatchJdbc]] — per
  * micro-batch: watermark-filter against the DATABASE cursor table,
  * in-batch dedup, emit, then the commit-after-emit GREATEST MERGE into
  * the database (the reference's producer loop against Postgres,
  * app/main.py:1326-1347). The parquet-snapshot twin of this test is
  * StreamingSpec's ProducerLoop case; this one proves the cursor state
  * survives micro-batch boundaries in a transactional store.
  */
class StreamingJdbcCursorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Ev(source: String, station_id: String, observed_at: Timestamp, value: Double, arrival: Long)

  test("foreachBatch producer loop with the cursor table in the database") {
    implicit val sqlCtx = spark.sqlContext
    val url =
      s"jdbc:derby:memory:stream${java.util.UUID.randomUUID().toString.replace("-", "")};create=true"
    val base = tempDir("jdbcstream")
    val sink = base + "/sink"
    val keys = Seq("source", "station_id")

    val input = MemoryStream[Ev]
    val q = input
      .toDF()
      .writeStream
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        JdbcStore.processBatchJdbc(batch, keys, "observed_at", "arrival", sink, url)
      }
      .start()
    try {
      // micro-batch 1: both rows fresh (cursor table created on demand)
      input.addData(
        Ev("de", "s1", ts("2024-01-01 10:00:00"), 1.0, 1),
        Ev("de", "s2", ts("2024-01-01 11:00:00"), 2.0, 2)
      )
      q.processAllAvailable()
      assert(spark.read.parquet(sink).count() == 2)

      // micro-batch 2: s1 replay (≤ committed cursor → dropped), s1
      // newer (passes), s2 in-batch duplicate pair (first-wins keeps one)
      input.addData(
        Ev("de", "s1", ts("2024-01-01 10:00:00"), 3.0, 3),
        Ev("de", "s1", ts("2024-01-01 12:00:00"), 4.0, 4),
        Ev("de", "s2", ts("2024-01-01 13:00:00"), 5.0, 5),
        Ev("de", "s2", ts("2024-01-01 13:00:00"), 6.0, 6)
      )
      q.processAllAvailable()
      val emitted = spark.read.parquet(sink)
      assert(emitted.count() == 4)

      // cursor table holds exactly the per-key max of everything emitted
      val cur = JdbcStore
        .readTable(spark, url, "ingestion_cursors")
        .orderBy("station_id")
        .collect()
      assert(cur.length == 2)
      assert(cur.map(_.getTimestamp(2)).toSeq ==
        Seq(ts("2024-01-01 12:00:00"), ts("2024-01-01 13:00:00")))
    } finally q.stop()
  }

  test("processBatchJdbc: the cursor commit stages the observed maxima as they are, with no aggregate") {
    val url =
      s"jdbc:derby:memory:commit${java.util.UUID.randomUUID().toString.replace("-", "")};create=true"
    val sink = tempDir("jdbccommit") + "/sink"
    val keys = Seq("source", "station_id")
    // the plan of every JDBC stage write, which only the upsert makes
    val staged = new java.util.concurrent.LinkedBlockingQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.foreach {
          case c: SaveIntoDataSourceCommand if c.options.get("dbtable").exists(_.contains("_stage_")) =>
            staged.put(c.query)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val batch = Seq(
        ("de", "s1", ts("2024-01-01 10:00:00"), 1.0, 1L),
        ("de", "s1", ts("2024-01-01 12:00:00"), 2.0, 2L),
        ("de", "s2", ts("2024-01-01 11:00:00"), 3.0, 3L)
      ).toDF("source", "station_id", "observed_at", "value", "arrival")
      JdbcStore.processBatchJdbc(batch, keys, "observed_at", "arrival", sink, url)
      val plan = Option(staged.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail("the cursor commit's stage write was not seen"))
      assert(plan.collect { case a: Aggregate => a }.isEmpty, s"the commit re-aggregates:\n$plan")
      val cur = JdbcStore.readTable(spark, url, "ingestion_cursors").orderBy("station_id").collect()
      assert(cur.map(_.getTimestamp(2)).toSeq == Seq(ts("2024-01-01 12:00:00"), ts("2024-01-01 11:00:00")))
    } finally spark.listenerManager.unregister(listener)
  }
}
