package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry}

/** JVM side of the benchmark. `run.py` writes a JSON config (workload,
  * inputs, the seeded operation schedule) and reads back the JSONL
  * records this writes; all arithmetic on them happens in Python.
  *
  * Usage: Harness <config.json>
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val cfg = Json.read(args(0))
    val out = new Json.Lines(cfg.get("records").asText)
    val cores = cfg.get("cores").asInt
    val work = cfg.get("work").asText
    val spark = Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out.write("kind" -> "session", "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> Clock.ms(), "cores" -> cores)
    val h = new Harness(spark, cfg, out)
    try cfg.get("workload").asText match {
      case "ingest_cycle" => h.ingest()
      case "queries" => h.queries()
      case "expected" => h.expected()
      case "select" => h.select()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      spark.stop()
      out.close()
    }
  }
}

final class Harness(spark: SparkSession, cfg: com.fasterxml.jackson.databind.JsonNode, out: Json.Lines) {
  private val sc = spark.sparkContext
  private val trace = cfg.path("trace").asBoolean(false)
  private var observations = 0

  private def names(key: String): Seq[String] =
    cfg.path(key).elements().asScala.map(_.asText).toSeq

  /** How many of the timed operations the traced pass repeats. */
  private def tracedOps: Int = cfg.path("traced_ops").asInt(Int.MaxValue)

  private def drain(): Unit = org.apache.spark.perfbench.BusShim.drain(sc)

  private def span[T](spans: Option[Spans], name: String, op: Int)(body: => T): T =
    spans.fold(body)(s => s(name, op)(body))

  private def firstOp(): Unit = out.write("kind" -> "first_op", "ms" -> Clock.ms())

  /** Run one operation: time it, catch what it throws, and write its record. */
  private def operation(phase: String, op: Int, name: String)(body: => Map[String, Any]): Unit = {
    sc.setLocalProperty(Probe.OpKey, op.toString)
    Probe.resetHeapPeak()
    val t0 = Clock.ms()
    val (result, error) =
      try (body, None) catch { case e: Throwable => (Map.empty[String, Any], Some(e.toString.take(300))) }
    val t1 = Clock.ms()
    sc.setLocalProperty(Probe.OpKey, null)
    out.write(Seq[(String, Any)]("kind" -> "op", "phase" -> phase, "op" -> op, "name" -> name,
      "start_ms" -> t0, "wall_s" -> (t1 - t0) / 1e3, "ok" -> error.isEmpty, "error" -> error,
      "heap_peak_mb" -> Probe.heapPeakMb()) ++ result.toSeq: _*)
  }

  /** Layer tallies of the traced operation `op` that ran over `[t0, t1]`. */
  private def layers(probe: Probe, op: Int, t0: Double, t1: Double, cg0: (Double, Long)): Map[String, Any] = {
    drain()
    val (cgS, cgN) = Probe.codegen()
    val (blocks, mb) = Probe.cacheLeft(sc)
    probe.opLayers(op, t0, t1) ++ Map(
      "codegen.compile_s" -> (cgS - cg0._1), "codegen.compiles" -> (cgN - cg0._2).toDouble,
      "cache.blocks_left" -> blocks.toDouble, "cache.mb_left" -> mb)
  }

  private def withProbe[T](body: (Probe, Spans) => T): T = {
    val probe = new Probe
    val spans = new Spans(sc)
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    try body(probe, spans)
    finally {
      drain()
      spark.listenerManager.unregister(probe)
      sc.removeSparkListener(probe)
      spans.write(cfg.get("spans").asText)
    }
  }

  // ---- ingest_cycle ----------------------------------------------------

  def ingest(): Unit = {
    val ing = new Ingest(spark, cfg, out)
    val t0 = Clock.ms()
    val catalogRows = ing.catalogRefresh()
    out.write("kind" -> "setup_step", "name" -> "catalog_refresh", "rows" -> catalogRows,
      "wall_s" -> (Clock.ms() - t0) / 1e3)
    ing.warm()
    firstOp()
    ing.timedPolls.foreach(p => operation("timed", p, s"poll-$p") { ing.cycle(p); Map.empty })
    ing.writeCheck("after_timed", sink = false)
    val replay = ing.replayCheck()
    val fault = ing.faultCheck()
    ing.writeCheck("final")
    val (kept, hkS) = ing.housekeeping()
    out.write("kind" -> "teardown", "replay_emitted" -> replay, "fault" -> fault,
      "housekeeping_kept" -> kept, "housekeeping_s" -> hkS)
    if (trace) {
      ing.reset()
      ing.warm()
      withProbe { (probe, spans) =>
        ing.timedPolls.take(tracedOps).foreach { p =>
          val cg0 = Probe.codegen()
          val t0 = Clock.ms()
          operation("traced", p, s"poll-$p") {
            ing.tracedCycle(p, p, spans, probe) ++ layers(probe, p, t0, Clock.ms(), cg0)
          }
        }
      }
      ing.writeCheck("after_traced")
    }
  }

  // ---- query workloads -------------------------------------------------

  private def data = cfg.get("data").asText

  /** One query execution: the registry function, then a noop-sink write
    * of its full result that also observes the row count and an
    * order-independent hash in the same job. */
  private def runQuery(name: String, op: Int, spans: Option[Spans]): (Long, String) = {
    val fn = SparkEntry.queries(name)
    val df = span(spans, "construct", op)(fn(spark, data))
    observations += 1
    span(spans, "write", op)(ResultHash.observe(df, s"perfbench_$observations"))
  }

  private def plainQuery(phase: String, name: String, op: Int): Unit = {
    operation(phase, op, name) { val (r, h) = runQuery(name, op, None); Map("rows" -> r, "hash" -> h) }
    spark.catalog.clearCache()
  }

  /** One query operation with the listeners on, and its layer tallies. */
  private def tracedQuery(phase: String, name: String, op: Int, probe: Probe, spans: Spans): Unit = {
    val cg0 = Probe.codegen()
    val t0 = Clock.ms()
    operation(phase, op, name) {
      val (r, h) = runQuery(name, op, Some(spans))
      Map("rows" -> r, "hash" -> h) ++ layers(probe, op, t0, Clock.ms(), cg0) ++ Map(
        "queries.construct_s" -> spans.byName(op, "construct").map(s => (s.end - s.start) / 1e3).sum,
        "queries.construct_jobs" -> probe.spanJobs(op, "construct").size.toDouble)
    }
    spark.catalog.clearCache()
  }

  def queries(): Unit = {
    names("warm").zipWithIndex.foreach { case (n, i) => plainQuery("warm", n, -1 - i) }
    val timed = names("timed")
    firstOp()
    timed.zipWithIndex.foreach { case (n, i) => plainQuery("timed", n, i) }
    if (trace) withProbe { (probe, spans) =>
      timed.zipWithIndex.take(tracedOps).foreach { case (n, i) => tracedQuery("traced", n, i, probe, spans) }
    }
  }

  /** Reference dump: each named query's observed (rows, hash), its full
    * result as parquet and the oracle SQL, for a DuckDB compare. */
  def expected(): Unit = {
    val dump = cfg.get("dump").asText
    val want = names("names")
    want.zipWithIndex.foreach { case (n, i) =>
      operation("expected", i, n) {
        val (r, h) = runQuery(n, i, None)
        SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
        Map("rows" -> r, "hash" -> h)
      }
      spark.catalog.clearCache()
    }
    val oracles = SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(spark, data)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dump/oracle_sql.json"),
      Json.encode(oracles.filter { case (k, _) => want.contains(k) }))
  }

  /** One traced pass over the named queries (the whole registry when none
    * are named), for choosing the query sets by executor share. */
  def select(): Unit = {
    val want = Option(names("names")).filter(_.nonEmpty).getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    names("warm").zipWithIndex.foreach { case (n, i) => plainQuery("warm", n, -1 - i) }
    withProbe { (probe, spans) =>
      want.zipWithIndex.foreach { case (n, i) =>
        tracedQuery("select", n, i, probe, spans)
        probe.clear()
      }
    }
  }
}

/** Row count and an order-independent hash of a frame's full result,
  * observed during a noop-sink write so they cost no extra job: the
  * wrapping 64-bit sum of `xxhash64` over every column of each row. */
object ResultHash {
  def observe(df: DataFrame, name: String): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.map(col).toIndexedSeq: _*)
    val obs = Observation(name)
    named.observe(obs, count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"), sum(shiftrightunsigned(h, 32)).as("hi"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    def long(k: String): Long = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    (long("rows"), java.lang.Long.toUnsignedString((long("hi") << 32) + long("lo"), 16))
  }
}
