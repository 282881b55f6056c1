package graft.streaming

import java.sql.Timestamp
import java.nio.file.Files
import graft.SparkSpec
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.Trigger

/** Streaming semantics (SURVEY.md §2.9): per-key watermark state across
  * micro-batches, strict `>`, commit-after-emit cursor ordering.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Ev(station_id: String, pollutant: String, ts: Timestamp, value: Double, arrival: Long)

  test("PerKeyWatermark: state survives batches; equal ts dropped; per-key independence") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = PerKeyWatermark.filterNew(input.toDF(), Seq("station_id", "pollutant"), "ts")
    val q = out.writeStream
      .format("memory")
      .queryName("pkw_out")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("pkw_ckpt").toString)
      .start()
    try {
      // batch 1: st1 advances to 12:00; st2 advances to 10:00
      input.addData(
        Ev("st1", "pm25", ts("2024-01-01 12:00:00"), 1.0, 1),
        Ev("st2", "pm25", ts("2024-01-01 10:00:00"), 2.0, 2)
      )
      q.processAllAvailable()
      // batch 2: equal ts for st1 → drop; newer for st1 → pass;
      // st2 older → drop; st3 unseen ancient → pass (fail-open)
      input.addData(
        Ev("st1", "pm25", ts("2024-01-01 12:00:00"), 3.0, 3),
        Ev("st1", "pm25", ts("2024-01-01 12:30:00"), 4.0, 4),
        Ev("st2", "pm25", ts("2024-01-01 09:00:00"), 5.0, 5),
        Ev("st3", "o3", ts("2000-01-01 00:00:00"), 6.0, 6)
      )
      q.processAllAvailable()
      val vals = spark.table("pkw_out").select("value").as[Double].collect().sorted.toSeq
      assert(vals == Seq(1.0, 2.0, 4.0, 6.0))
    } finally q.stop()
  }

  test("PerKeyWatermark: concatenation-colliding key tuples are independent keys") {
    // ("ab","c") and ("a","bc") concatenate identically; ("x",null) skips
    // the null under concat_ws. The JSON-struct key must keep all three
    // as separate watermarks (regression for the concat_ws key).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = PerKeyWatermark.filterNew(input.toDF(), Seq("station_id", "pollutant"), "ts")
    val q = out.writeStream
      .format("memory")
      .queryName("pkw_collide")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("pkw_ckpt2").toString)
      .start()
    try {
      input.addData(Ev("ab", "c", ts("2024-01-01 12:00:00"), 1.0, 1))
      q.processAllAvailable()
      // same concat, different tuple, OLDER ts: must still pass
      input.addData(
        Ev("a", "bc", ts("2024-01-01 09:00:00"), 2.0, 2),
        Ev("ab", "c", ts("2024-01-01 11:00:00"), 3.0, 3), // genuinely older same-key → drop
        Ev("a", null, ts("2024-01-01 08:00:00"), 4.0, 4), // null part ≠ ("a","bc")
        Ev("ab", "c", null, 5.0, 5) // null ts: fail-open, no state advance
      )
      q.processAllAvailable()
      val vals = spark.table("pkw_collide").select("value").as[Double].collect().sorted.toSeq
      assert(vals == Seq(1.0, 2.0, 4.0, 5.0))
    } finally q.stop()
  }

  test("ProducerLoop.processBatch: emit-then-commit, watermark enforced across batches") {
    val dir = Files.createTempDirectory("producer").toString
    val sink = s"$dir/sink"
    val cursors = s"$dir/cursors"
    val keys = Seq("station_id", "pollutant")

    val b1 = Seq(
      ("st1", "pm25", ts("2024-01-01 12:00:00"), 1.0, 1L),
      ("st1", "pm25", ts("2024-01-01 12:00:00"), 99.0, 2L), // in-batch dup (same key+ts) → dropped
      ("st2", "o3", ts("2024-01-01 10:00:00"), 2.0, 3L)
    ).toDF("station_id", "pollutant", "ts", "value", "arrival")
    ProducerLoop.processBatch(b1, keys, "ts", "arrival", sink, cursors)

    val emitted1 = spark.read.parquet(sink).count()
    assert(emitted1 == 2) // dup dropped in-batch
    val cur1 = spark.read.parquet(cursors).collect().map(r => (r.getString(0), r.getString(1)) -> r.getTimestamp(2)).toMap
    assert(cur1(("st1", "pm25")) == ts("2024-01-01 12:00:00"))

    // batch 2: replay of batch-1 record (equal ts) → dropped; newer → kept
    val b2 = Seq(
      ("st1", "pm25", ts("2024-01-01 12:00:00"), 1.0, 4L),
      ("st1", "pm25", ts("2024-01-01 13:00:00"), 5.0, 5L)
    ).toDF("station_id", "pollutant", "ts", "value", "arrival")
    ProducerLoop.processBatch(b2, keys, "ts", "arrival", sink, cursors)

    assert(spark.read.parquet(sink).count() == 3)
    val cur2 = spark.read.parquet(cursors).collect().map(r => (r.getString(0), r.getString(1)) -> r.getTimestamp(2)).toMap
    assert(cur2(("st1", "pm25")) == ts("2024-01-01 13:00:00"))
    assert(cur2(("st2", "o3")) == ts("2024-01-01 10:00:00")) // untouched key survives merge
  }

  private val producerKeys = Seq("station_id", "pollutant")

  private def cursorMap(dir: String): Map[(String, String), Timestamp] =
    spark.read.parquet(dir).collect().map(r => (r.getString(0), r.getString(1)) -> r.getTimestamp(2)).toMap

  /** The batch as a parquet scan, so no optimizer rule can fold its rows
    * on the driver: every evaluation of the chain is a real scan. */
  private def parquetBatch(dir: String, rows: (String, String, String, Double, Long)*): org.apache.spark.sql.DataFrame = {
    rows.map(r => (r._1, r._2, ts(r._3), r._4, r._5)).toDF("station_id", "pollutant", "ts", "value", "arrival")
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("ProducerLoop.readCursors: an existing snapshot is read with its schema supplied, starting no job") {
    val dir = Files.createTempDirectory("producer_read").toString
    val cursors = s"$dir/cursors"
    ProducerLoop.processBatch(
      parquetBatch(s"$dir/b1", ("st1", "pm25", "2024-01-01 12:00:00", 1.0, 1L)),
      producerKeys, "ts", "arrival", s"$dir/sink", cursors)
    assert(jobsDuring(ProducerLoop.readCursors(spark, cursors, producerKeys)) == 0)
  }

  test("ProducerLoop.processBatch: the batch is computed once for the emit and the cursor roll-up") {
    val dir = Files.createTempDirectory("producer_once").toString
    val (sink, cursors) = (s"$dir/sink", s"$dir/cursors")
    ProducerLoop.processBatch(
      parquetBatch(s"$dir/b1", ("st1", "pm25", "2024-01-01 12:00:00", 1.0, 1L)),
      producerKeys, "ts", "arrival", sink, cursors)

    // every evaluation of the batch's chain bumps the accumulator once per
    // row: emit and cursor roll-up must share one evaluation
    val evals = spark.sparkContext.longAccumulator("batch_evals")
    val bump = udf { (v: Double) => evals.add(1); v }.asNondeterministic()
    val b2 = parquetBatch(s"$dir/b2",
      ("st1", "pm25", "2024-01-01 12:00:00", 1.0, 2L), // replay → watermark drop
      ("st1", "pm25", "2024-01-01 13:00:00", 2.0, 3L),
      ("st1", "pm25", "2024-01-01 13:00:00", 9.0, 4L), // in-batch dup → dropped
      ("st2", "o3", "2024-01-01 10:00:00", 3.0, 5L))
    ProducerLoop.processBatch(b2.withColumn("value", bump(col("value"))),
      producerKeys, "ts", "arrival", sink, cursors)
    assert(evals.value == 4L, s"batch evaluated ${evals.value / 4.0} times")
    assert(spark.read.parquet(sink).count() == 3)
    assert(cursorMap(cursors) == Map(
      ("st1", "pm25") -> ts("2024-01-01 13:00:00"), ("st2", "o3") -> ts("2024-01-01 10:00:00")))
  }

  test("ProducerLoop.processBatch: a failed cursor write after the emit keeps the cursors; a rerun re-emits that batch") {
    val dir = Files.createTempDirectory("producer_fault").toString
    val (sink, cursors) = (s"$dir/sink", s"$dir/cursors")
    ProducerLoop.processBatch(
      parquetBatch(s"$dir/b1", ("st1", "pm25", "2024-01-01 12:00:00", 1.0, 1L)),
      producerKeys, "ts", "arrival", sink, cursors)
    val cursors0 = cursorMap(cursors)
    val b2 = parquetBatch(s"$dir/b2",
      ("st1", "pm25", "2024-01-01 13:00:00", 2.0, 2L),
      ("st2", "o3", "2024-01-01 10:00:00", 3.0, 3L))

    def sinkValues() = spark.read.parquet(sink).select("value").as[String].collect().toSeq
    val before = sinkValues()
    val conf = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(conf, classOf[FailingCommitProtocol].getName)
    FailingCommitProtocol.failPath = Some(new java.io.File(cursors + "__tmp").getAbsolutePath)
    val thrown =
      try intercept[Exception](ProducerLoop.processBatch(b2, producerKeys, "ts", "arrival", sink, cursors))
      finally { FailingCommitProtocol.failPath = None; spark.conf.unset(conf) }
    assert(Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected fault")), thrown.toString)
    // the emit landed, the cursor commit did not
    val afterFault = sinkValues()
    val batchRows = afterFault.diff(before)
    assert(batchRows.size == 2)
    assert(cursorMap(cursors) == cursors0)

    // the rerun re-emits exactly that batch, then commits it
    ProducerLoop.processBatch(b2, producerKeys, "ts", "arrival", sink, cursors)
    assert(sinkValues().diff(afterFault).sorted == batchRows.sorted)
    assert(cursorMap(cursors) == Map(
      ("st1", "pm25") -> ts("2024-01-01 13:00:00"), ("st2", "o3") -> ts("2024-01-01 10:00:00")))
  }

  test("ProducerLoop.processBatch: cursors stranded under __old are restored before the watermark") {
    val dir = Files.createTempDirectory("producer_crash").toString
    val (sink, cursors) = (s"$dir/sink", s"$dir/cursors")
    val b1 = parquetBatch(s"$dir/b1",
      ("st1", "pm25", "2024-01-01 12:00:00", 1.0, 1L),
      ("st2", "o3", "2024-01-01 10:00:00", 2.0, 2L))
    ProducerLoop.processBatch(b1, producerKeys, "ts", "arrival", sink, cursors)
    val cursors0 = cursorMap(cursors)

    // the crash window between publish's two renames: the snapshot was
    // staged aside, the new one never renamed in — __old is the only copy
    assert(new java.io.File(cursors).renameTo(new java.io.File(cursors + "__old")))
    ProducerLoop.processBatch(b1, producerKeys, "ts", "arrival", sink, cursors)
    assert(spark.read.parquet(sink).count() == 2) // the replay emitted 0 rows
    assert(cursorMap(cursors) == cursors0)
    assert(!new java.io.File(cursors + "__old").exists())
  }

  test("ProducerLoop.processBatch: a cycle over a present snapshot runs its job floor") {
    val dir = Files.createTempDirectory("producer_jobs").toString
    val (sink, cursors) = (s"$dir/sink", s"$dir/cursors")
    ProducerLoop.processBatch(
      parquetBatch(s"$dir/b1", ("st1", "pm25", "2024-01-01 12:00:00", 1.0, 1L)),
      producerKeys, "ts", "arrival", sink, cursors)
    val b2 = parquetBatch(s"$dir/b2",
      ("st1", "pm25", "2024-01-01 13:00:00", 2.0, 2L),
      ("st2", "o3", "2024-01-01 10:00:00", 3.0, 3L))
    // the cursor broadcast, the dedup's map stage, the emit (which also
    // observes the per-key maxima) and the one-task cursor write: no
    // snapshot scan, no cache fill, no roll-up or merge shuffle
    val n = jobsDuring(ProducerLoop.processBatch(b2, producerKeys, "ts", "arrival", sink, cursors))
    assert(n == 4, s"$n jobs")
  }

  /** Another writer's cursors, published into `dir` through Jobs.replace. */
  private def publishCursors(dir: String, rows: (String, String, String)*): Unit =
    graft.jobs.Jobs.replace(
      rows.map(r => (r._1, r._2, ts(r._3))).toDF("station_id", "pollutant", "last_observed_at"), dir)

  test("ProducerLoop.processBatch: another writer's publish between cycles is honoured by the next watermark") {
    val dir = Files.createTempDirectory("producer_writer").toString
    val (sink, cursors) = (s"$dir/sink", s"$dir/cursors")
    ProducerLoop.processBatch(
      parquetBatch(s"$dir/b1", ("st1", "pm25", "2024-01-01 12:00:00", 1.0, 1L)),
      producerKeys, "ts", "arrival", sink, cursors)
    publishCursors(cursors, ("st1", "pm25", "2024-01-01 14:00:00"))
    ProducerLoop.processBatch(
      parquetBatch(s"$dir/b2",
        ("st1", "pm25", "2024-01-01 13:00:00", 2.0, 2L), // behind the other writer's cursor
        ("st1", "pm25", "2024-01-01 15:00:00", 3.0, 3L)),
      producerKeys, "ts", "arrival", sink, cursors)
    assert(spark.read.parquet(sink).count() == 2)
    assert(cursorMap(cursors) == Map(("st1", "pm25") -> ts("2024-01-01 15:00:00")))
  }

  test("ProducerLoop.processBatch: a cursor dir removed between cycles reads as no cursors") {
    val dir = Files.createTempDirectory("producer_removed").toString
    val (sink, cursors) = (s"$dir/sink", s"$dir/cursors")
    val b1 = parquetBatch(s"$dir/b1", ("st1", "pm25", "2024-01-01 12:00:00", 1.0, 1L))
    ProducerLoop.processBatch(b1, producerKeys, "ts", "arrival", sink, cursors)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cursors))
    // with no cursors the replay is new again (fail-open)
    ProducerLoop.processBatch(b1, producerKeys, "ts", "arrival", sink, cursors)
    assert(spark.read.parquet(sink).count() == 2)
    assert(cursorMap(cursors) == Map(("st1", "pm25") -> ts("2024-01-01 12:00:00")))
  }

  test("ProducerLoop.processBatch: an empty batch and a batch the watermark empties emit nothing and keep the cursors") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = Files.createTempDirectory("producer_empty").toString
    val (sink, cursors) = (s"$dir/sink", s"$dir/cursors")
    ProducerLoop.processBatch(
      parquetBatch(s"$dir/b1", ("st1", "pm25", "2024-01-01 12:00:00", 1.0, 1L)),
      producerKeys, "ts", "arrival", sink, cursors)
    // a publish the held cursors have not seen: a cycle that committed its
    // own stale copy back would lose it
    publishCursors(cursors, ("st1", "pm25", "2024-01-01 14:00:00"), ("st2", "o3", "2024-01-01 10:00:00"))
    val published = cursorMap(cursors)
    val empty = Seq.empty[(String, String, Timestamp, Double, Long)]
      .toDF("station_id", "pollutant", "ts", "value", "arrival")
    val late = parquetBatch(s"$dir/b2", ("st1", "pm25", "2024-01-01 13:00:00", 2.0, 2L))
    for (batch <- Seq(empty, late)) {
      // a cycle that waited on an observation its job never reports would hang
      Await.result(Future(ProducerLoop.processBatch(batch, producerKeys, "ts", "arrival", sink, cursors)), 2.minutes)
      assert(spark.read.parquet(sink).count() == 1)
      assert(cursorMap(cursors) == published)
    }
  }

  test("custom sketch aggregates run in streaming aggregations (hll_distinct)") {
    // the TypedImperativeAggregate state (a byte-array register set)
    // must merge incrementally across micro-batches like any built-in
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = input.toDF().groupBy(col("pollutant")).agg(expr("hll_distinct(station_id)").as("n"))
    val q = agg.writeStream
      .format("memory")
      .queryName("hll_stream")
      .outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("hll_ckpt").toString)
      .start()
    try {
      input.addData((1 to 40).map(i => Ev(s"st$i", "pm25", ts("2024-01-01 12:00:00"), 1.0, i)): _*)
      q.processAllAvailable()
      input.addData((21 to 60).map(i => Ev(s"st$i", "pm25", ts("2024-01-01 13:00:00"), 1.0, i)): _*)
      q.processAllAvailable()
      val n = spark.table("hll_stream").select("n").as[Long].collect().head
      // 60 distinct stations seen across both batches; HLL err < 3%
      assert(math.abs(n - 60L) <= 2, s"hll_distinct over stream = $n, want ~60")
    } finally q.stop()
  }

  test("T5 streaming: watermarked tumbling-window rollup over MemoryStream") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = input
      .toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("pollutant"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream
      .format("memory")
      .queryName("t5_out")
      .outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("t5_ckpt").toString)
      .start()
    try {
      input.addData(
        Ev("s1", "pm25", ts("2024-01-01 12:10:00"), 1.0, 1),
        Ev("s1", "pm25", ts("2024-01-01 12:50:00"), 2.0, 2),
        Ev("s1", "o3", ts("2024-01-01 13:05:00"), 4.0, 3)
      )
      q.processAllAvailable()
      val rows = spark
        .table("t5_out")
        .select(col("window.start").cast("string"), col("pollutant"), col("n"), col("v"))
        .as[(String, String, Long, Double)]
        .collect()
        .sortBy(r => (r._1, r._2))
        .toSeq
      assert(rows == Seq(
        ("2024-01-01 12:00:00", "pm25", 2L, 3.0),
        ("2024-01-01 13:00:00", "o3", 1L, 4.0)
      ))
    } finally q.stop()
  }

  test("SessionizeStream: sessions close when the watermark passes last+gap") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val src = input.toDF().withWatermark("ts", "0 seconds")
    val out = SessionizeStream.sessions(src, Seq("station_id"), "ts", gapMs = 30 * 60 * 1000)
    val q = out.writeStream
      .format("memory")
      .queryName("sess_out")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("sess_ckpt").toString)
      .start()
    try {
      // batch 1: one session for st1 (two events 10 min apart)
      input.addData(
        Ev("st1", "pm25", ts("2024-01-01 12:00:00"), 1.0, 1),
        Ev("st1", "pm25", ts("2024-01-01 12:10:00"), 2.0, 2)
      )
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // watermark hasn't passed yet
      // batch 2: far-future event advances the watermark past 12:40 → session closes
      input.addData(Ev("st9", "o3", ts("2024-01-02 00:00:00"), 3.0, 3))
      q.processAllAvailable()
      // one more empty-ish batch so the timeout fires with the new watermark
      input.addData(Ev("st9", "o3", ts("2024-01-02 00:00:01"), 4.0, 4))
      q.processAllAvailable()
      val rows = spark
        .table("sess_out")
        .select(col("station_id"), col("session_start").cast("string"), col("session_end").cast("string"), col("n_events"))
        .as[(String, String, String, Long)]
        .collect()
        .toSeq
      assert(rows.contains(("st1", "2024-01-01 12:00:00", "2024-01-01 12:10:00", 2L)), s"got $rows")
    } finally q.stop()
  }

  test("ProducerLoop.start: end-to-end over MemoryStream with AvailableNow-style trigger") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("producer2").toString
    val input = MemoryStream[Ev]
    input.addData(
      Ev("st1", "pm25", ts("2024-01-01 12:00:00"), 1.0, 1),
      Ev("st1", "pm25", ts("2024-01-01 12:30:00"), 2.0, 2)
    )
    val q = ProducerLoop.start(
      input.toDF(),
      Seq("station_id", "pollutant"),
      "ts",
      "arrival",
      s"$dir/sink",
      s"$dir/cursors",
      s"$dir/ckpt",
      Trigger.ProcessingTime("1 second")
    )
    try {
      q.processAllAvailable()
      val n = spark.read.parquet(s"$dir/sink").count()
      assert(n == 2)
      // the sink rows carry the Kafka JSON envelope
      val v = spark.read.parquet(s"$dir/sink").columns.toSeq
      assert(v == Seq("value"))
    } finally q.stop()
  }
}

/** Commit protocol that fails the job set-up of a write into `failPath`,
  * standing in for a crash of the cursor commit after the emit landed. */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(jobContext: JobContext): Unit = {
    if (FailingCommitProtocol.failPath.exists(path.endsWith))
      throw new java.io.IOException(s"injected fault: commit into $path blocked")
    super.setupJob(jobContext)
  }
}

object FailingCommitProtocol {
  @volatile var failPath: Option[String] = None
}
