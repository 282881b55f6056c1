package perfbench

import java.io.File
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.jobs.Jobs
import graft.ops.{Dedup, Enrich, Normalize, WatermarkDedup}
import graft.source.PagedJsonSource
import graft.streaming.ProducerLoop

/** The `ingest_cycle` workload: the reference's producer loop over polls
  * of JSONL pages, each poll going PagedJsonSource → Normalize →
  * Enrich → ProducerLoop.processBatch (watermark, dedup, Kafka-envelope
  * emit, cursor commit after the emit).
  */
final class Ingest(spark: SparkSession, cfg: com.fasterxml.jackson.databind.JsonNode, out: Json.Lines) {
  import Ingest._

  private val inputs = cfg.get("inputs").asText
  private val work = cfg.get("work").asText
  private val catalogDir = s"$work/catalog"
  private val sinkDir = s"$work/sink"
  private val cursorDir = s"$work/cursors"
  private lazy val dim: DataFrame = spark.read.parquet(catalogDir).select(
    col("station_id"), col("source").as("station_source"), col("city").as("station_city"),
    col("lat").as("station_lat"), col("lon").as("station_lon"))

  private def polls(key: String): Seq[Int] = cfg.get(key).elements().asScala.map(_.asInt).toSeq

  private def pollDir(p: Int) = f"$inputs/polls/poll-$p%05d"

  private def pages(dir: String, schema: StructType): DataFrame =
    spark.read.format("graft.source.PagedJsonSource").schema(schema).option("path", dir).load()

  private def pageCount(dir: String): Int =
    Option(new File(dir).listFiles()).map(_.count(_.getName.endsWith(".jsonl"))).getOrElse(0)

  private def normalized(raw: DataFrame): DataFrame =
    Normalize.toMeasurements(raw, "nl", "NL", "UTC")
      // pages are planned one partition each, in arrival order, so this id
      // is the arrival order the in-batch first-wins dedup ranks by
      .withColumn(Arrival, monotonically_increasing_id())

  private def enriched(norm: DataFrame, p: Int): DataFrame =
    Enrich.leftEnrich(norm, dim, "station_id").withColumn("poll", lit(p))

  private def emit(batch: DataFrame): Unit =
    ProducerLoop.processBatch(batch, Keys, "timestamp", Arrival, sinkDir, cursorDir)

  /** One cycle, untraced: hand the poll to the source, run the chain
    * lazily into processBatch, return when the cursor commit returns. */
  def cycle(p: Int): Unit = emit(enriched(normalized(pages(pollDir(p), RawSchema)), p))

  /** One cycle, traced: every layer's output is persisted and counted
    * before the next layer runs, so each layer gets its own time. */
  def tracedCycle(p: Int, op: Int, spans: Spans, probe: Probe): Map[String, Double] = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): (DataFrame, Long) = {
      val d = df.persist(StorageLevel.MEMORY_ONLY); held += d; (d, d.count())
    }
    try spans("cycle", op) {
      val (src, nSrc) = spans("source", op)(keep(pages(pollDir(p), RawSchema)))
      val (norm, nNorm) = spans("normalize", op)(keep(normalized(src)))
      val ((enr, nEnr), unmatched) = spans("enrich", op) {
        val e = keep(enriched(norm, p))
        (e, e._1.filter(col("station_source").isNull).count())
      }
      val (fresh, nFresh) = spans("watermark", op) {
        val cursors = ProducerLoop.readCursors(spark, cursorDir, Keys)
          .select(col("station_id").cast("string"), col("pollutant").cast("string"), col("last_observed_at"))
        keep(WatermarkDedup.filterNewWithInBatch(enr, cursors, Keys, "timestamp", Arrival))
      }
      // the split of the watermark's drops, counted outside its span so
      // watermark.self_s holds the program's work alone
      val nDedup = Dedup.firstWins(enr, Keys :+ "timestamp", Seq(Arrival)).count()
      val advanced = fresh.select(Keys.map(col): _*).distinct().count()
      val sinkFiles0 = files(sinkDir)
      spans("producer", op)(emit(enr))
      org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
      val pj = probe.spanJobs(op, "producer")
      val sinkPath = new File(sinkDir).getAbsolutePath
      val (emitJobs, cursorJobs) = pj.partition(j =>
        Option(probe.executions.get(j.execId)).exists(_.contains(sinkPath)))
      val emitTasks = probe.tasksOf(emitJobs)
      val cursorTasks = probe.tasksOf(cursorJobs)
      def selfOf(name: String) = spans.byName(op, name).map(spans.selfS).sum
      Map(
        "source.read_s" -> selfOf("source"),
        "source.pages" -> pageCount(pollDir(p)).toDouble,
        "normalize.self_s" -> selfOf("normalize"),
        "normalize.rows_in" -> nSrc.toDouble,
        "normalize.rows_out" -> nNorm.toDouble,
        "enrich.self_s" -> selfOf("enrich"),
        "enrich.unmatched_rows" -> unmatched.toDouble,
        "watermark.self_s" -> selfOf("watermark"),
        "watermark.rows_in" -> nEnr.toDouble,
        "watermark.rows_out" -> nFresh.toDouble,
        "watermark.dedup_drops" -> (nEnr - nDedup).toDouble,
        "watermark.late_drops" -> (nDedup - nFresh).toDouble,
        "producer.emit_s" -> emitJobs.map(_.wallS).sum,
        "producer.emit_rows" -> emitTasks.map(_.outRecords).sum.toDouble,
        "producer.emit_mb" -> emitTasks.map(_.outBytes).sum / Probe.MB,
        "producer.cursor_s" -> cursorJobs.map(_.wallS).sum,
        "producer.cursors_advanced" -> advanced.toDouble,
        "producer.cursor_mb_written" -> cursorTasks.map(_.outBytes).sum / Probe.MB,
        "producer.files_written" ->
          ((files(sinkDir) -- sinkFiles0).size + files(cursorDir).size + files(cursorDir + "__tmp").size).toDouble
      )
    } finally held.foreach(_.unpersist(blocking = true))
  }

  private def files(dir: String): Set[String] =
    Option(new File(dir).listFiles()).map(_.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
      .getOrElse(Set.empty)

  /** Setup: catalog refresh through the paged source. */
  def catalogRefresh(): Long =
    Jobs.catalogRefresh(spark, pages(s"$inputs/catalog", PagedJsonSource.defaultSchema), catalogDir)

  def warm(): Unit = polls("warm_polls").foreach(cycle)

  def timedPolls: Seq[Int] = polls("timed_polls")
  def faultPoll: Int = cfg.get("fault_poll").asInt

  def reset(): Unit = Seq(sinkDir, cursorDir, cursorDir + "__tmp", cursorDir + "__old").foreach(d => rm(new File(d)))

  def sinkRows(): Long = if (new File(sinkDir).exists()) spark.read.parquet(sinkDir).count() else 0L

  /** Per-poll (rows, hash) of everything in the sink. */
  def sinkByPoll(): Map[Int, (Long, String)] = {
    val rows = spark.read.parquet(sinkDir).select(from_json(col("value"), EnvelopeSchema).as("r"))
      .select("r.*").collect()
    rows.groupBy(_.getAs[Int]("poll")).map { case (p, rs) =>
      p -> RowHash.combine(rs.toSeq.map(r => Seq(r.getAs[String]("station_id"), r.getAs[String]("pollutant"),
        r.getAs[String]("timestamp"), math.round(r.getAs[Double]("value") * 10).toString).mkString("|")))
    }
  }

  /** (rows, hash) of the cursor snapshot. */
  def cursorState(): (Long, String) = {
    val rows = spark.read.parquet(cursorDir)
      .select(col("station_id"), col("pollutant"), unix_micros(col("last_observed_at")).as("us")).collect()
    RowHash.combine(rows.toSeq.map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}"))
  }

  /** Replay the last poll: it must emit nothing. */
  def replayCheck(): Long = {
    val before = sinkRows()
    cycle(timedPolls.last)
    sinkRows() - before
  }

  /** Fail the cursor commit after the emit, from outside processBatch, then
    * replay: only that poll re-emits and the cursors end correct. */
  def faultCheck(): Map[String, Any] = {
    val p = faultPoll
    val rows0 = sinkRows()
    val cursors0 = cursorState()
    spark.conf.set(CommitConf, classOf[FaultyCommitProtocol].getName)
    FaultyCommitProtocol.armed = true
    val error = try { cycle(p); None } catch { case e: Throwable => Some(e.toString.take(200)) }
    FaultyCommitProtocol.armed = false
    spark.conf.unset(CommitConf)
    val rows1 = sinkRows()
    val cursorsKept = cursorState() == cursors0
    cycle(p)
    Map("threw" -> error.isDefined, "error" -> error.getOrElse(""), "emitted_before_fault" -> (rows1 - rows0),
      "cursors_unchanged" -> cursorsKept, "emitted_on_replay" -> (sinkRows() - rows1))
  }

  /** Teardown: Jobs.housekeeping over the sink decoded to a curated table. */
  def housekeeping(): (Long, Double) = {
    val curated = s"$work/curated"
    spark.read.parquet(sinkDir).select(from_json(col("value"), EnvelopeSchema).as("r"))
      .select(col("r.station_id"), col("r.pollutant"), col("r.value"),
        to_timestamp(col("r.timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").as("timestamp"))
      .write.mode("overwrite").parquet(curated)
    val cutoff = new Timestamp(cfg.get("cutoff_us").asLong / 1000L)
    val t0 = Clock.ms()
    val kept = Jobs.housekeeping(spark, curated, "timestamp", cutoff)
    (kept, (Clock.ms() - t0) / 1e3)
  }

  /** Record the cursor state and, with `sink`, the per-poll sink content. */
  def writeCheck(stage: String, sink: Boolean = true): Unit = {
    val byPoll = if (sink) sinkByPoll() else Map.empty[Int, (Long, String)]
    val (cn, ch) = cursorState()
    out.write("kind" -> "check", "stage" -> stage,
      "sink" -> byPoll.toSeq.sortBy(_._1).map { case (p, (n, h)) => Map("poll" -> p, "rows" -> n, "hash" -> h) },
      "cursors" -> Map("rows" -> cn, "hash" -> ch))
  }
}

object Ingest {
  val Keys = Seq("station_id", "pollutant")
  val Arrival = "arrival"
  val CommitConf = "spark.sql.sources.commitProtocolClass"
  /** Raw API shape: every field arrives as text or a bare number. */
  val RawSchema: StructType = StructType(
    Seq("station_id", "pollutant", "value", "city", "location_name", "lat", "lon", "ts_raw")
      .map(StructField(_, StringType)))
  /** The emitted envelope fields the checks read back. */
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("station_id", StringType), StructField("pollutant", StringType),
    StructField("value", DoubleType), StructField("timestamp", StringType), StructField("poll", IntegerType)))

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }
}

/** Order-independent hash of canonical row strings: the wrapping sum of
  * each row's first 8 SHA-256 bytes (the Python side computes the same). */
object RowHash {
  def hash(s: String): Long =
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")), 0, 8).getLong
  def combine(rows: Seq[String]): (Long, String) =
    (rows.size.toLong, java.lang.Long.toUnsignedString(rows.map(hash).sum, 16))
}

/** Commit protocol that refuses to set up a write into a `__tmp` path
  * while armed: the fault check uses it to fail the cursor commit after
  * the emit has already landed. */
class FaultyCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(jobContext: JobContext): Unit = {
    if (FaultyCommitProtocol.armed && path.endsWith("__tmp"))
      throw new java.io.IOException(s"injected fault: cursor commit into $path blocked")
    super.setupJob(jobContext)
  }
}

object FaultyCommitProtocol {
  @volatile var armed = false
}
