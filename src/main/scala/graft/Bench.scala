package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.BenchRules.jsonString

object Bench {

  type Query = (SparkSession, String) => DataFrame

  /** Pre-flight settle: wait (in 15 s steps, at most SettleMaxSec) until
    * the 1-min loadavg is under SettleLoad before measuring.
    */
  private val SettleLoad = 2.5
  private val SettleMaxSec = 180.0
  // Median-of-Reps per query for the heavy tail: single-JVM
  // sequential timings carry ±30% GC/JIT noise on one-shot runs, which
  // made the documented per-query bands unfalsifiable. The median of
  // three reps is stable enough that a breach means the code, not the
  // weather.
  private val Reps = 3
  // ADAPTIVE DISCIPLINE (round 10 — the r9 bench timed out, rc=124):
  // the full-discipline harness spent ~4.5 s of deliberate settle per
  // query regardless of cost, ≈23 min of pure sleep across 313
  // queries. The fix the r9 verdict prescribes: queries whose
  // COMMITTED expectation (docs/BENCH_EXPECT.json — last full driver
  // record, band midpoints for newer queries) is under the threshold
  // get ONE warm rep + ONE measured rep and no deep settle (they are
  // bounded by the <1 s bulk band rule, where ±0.2 s of GC adjacency
  // noise cannot flag anything); the ≥threshold tail keeps the full
  // r6 discipline: deep isolate-settle + median of `Reps` settled
  // reps. A cheap-classified query that measures ≥0.6 s escalates to
  // the heavy path in-run, so a misclassification (or a real
  // regression) still gets a defensible median, never a one-shot
  // number.
  // 0.6, not the verdict's nominal 0.5: the r10 container measures
  // ~1.2-1.4× over the r8 driver record (bench_records.jsonl carries
  // both, loadavg/cpu fields in each), so 0.6 here = the ~0.45-0.5
  // cheap class the rule intends, and puts ~190 of 317 queries on the
  // cheap path (the verdict's "~200 of 313"). Every cheap query is
  // bounded by the <1 s bulk band rule with 2× headroom.
  private val HeavyThresh = 0.6
  // MID TIER (r12): both wall-guard-tripped records (r11 driver, r12
  // local) show the cost structure that overruns the guard is the
  // full median-of-3-plus-settle discipline applied to ~90 queries in
  // the 0.6–3 s band (~4 executions + ~3 s of settle each ≈ 8–12 min
  // of the wall). Now that the spike re-run pass exists, a mid-band
  // query can take ONE settled rep: an interference-inflated reading
  // breaches 2×expect+0.75 s and gets re-measured as a median-of-3 by
  // that pass — the escalation IS the outlier protection, paid only
  // when a reading is suspicious instead of 3× always. Sub-2×
  // window drift (1.3–1.8×) stays band-adjudication territory exactly
  // as it already was for the one-shot cheap class. Full discipline
  // remains for the ≥3 s tail, where a single rep's GC adjacency can
  // move absolute seconds without tripping the relative spike rule.
  private val MidThresh = 3.0
  /** Measured wall after which remaining queries degrade to one-shot,
    * and after which the spike re-run pass stops.
    */
  private val WallGuardSec = 1900.0
  private val RerunWallSec = 2050.0

  /** Time one execution of `fn` to its `count()`. A throw propagates —
    * the caller records a failure, never the time it took to fail.
    * Persisted intermediates are dropped either way so the next rep
    * (and next query) re-executes the full plan.
    */
  private[graft] def timed(spark: SparkSession, dir: String, fn: Query): Double = {
    val t0 = System.nanoTime()
    try fn(spark, dir).count()
    finally spark.catalog.clearCache()
    (System.nanoTime() - t0) / 1e9
  }

  /** Parse docs/BENCH_EXPECT.json (flat {"qname": seconds} under
    * "expect") without a JSON dependency — the keys are registry query
    * names (`q...`) and the values plain numbers, so a regex is exact.
    * Missing file → empty map → every query takes the heavy path (the
    * safe default).
    */
  private def loadExpect(path: String): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      "\"(q[A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .toMap
    } catch { case _: Throwable => Map.empty }

  /** One line of container identity so a uniform 1.3× drift between
    * records is self-evident from the records alone (r7/r8/r9 all spent
    * adjudication effort proving "slower container, same code" from
    * fingerprint diffs — the record should carry the evidence).
    */
  private def hostId(): (String, String, Int) = {
    def readFirst(path: String, pick: String => Option[String]): String =
      try {
        val src = scala.io.Source.fromFile(path)
        try src.getLines().flatMap(l => pick(l)).nextOption().getOrElse("?")
        finally src.close()
      } catch { case _: Throwable => "?" }
    val loadavg = readFirst("/proc/loadavg",
      l => Some(l.split(" ").take(3).mkString(" ")))
    val cpu = readFirst("/proc/cpuinfo",
      l => if (l.startsWith("model name")) Some(l.split(":", 2)(1).trim) else None)
    (loadavg, cpu, Runtime.getRuntime.availableProcessors())
  }

  def main(args: Array[String]): Unit = {
    // loadavg at START as well as at record time (r11): the r10 seal
    // record's heavy-tail inflation (median ratio 1.06 but 1.5-2.5× on
    // the many-job iterative queries) could only be adjudicated against
    // a same-day local record; bracketing loadavg makes interference
    // self-evident from the record alone. A hard idle gate was
    // CONSIDERED AND REJECTED: failing the driver's own seal bench on
    // load would trade a noisy record for no record.
    val (loadavgPreflight, _, _) = hostId()
    // PRE-FLIGHT LOAD SETTLE (r12): the r11 driver record and both r12
    // local attempts started on a box still digesting a PREVIOUS
    // harness run (loadavg 6.06 / 3.98 / 3.48 at start) and paid as
    // interference-degraded measurements in the early sorted-name
    // window. A bounded wait is strictly better than starting hot: our
    // own JVM is idle while waiting, so this trades wall the budget can
    // afford (default ≤180 s) for measurement quality it cannot. NOT
    // the rejected hard gate above — on timeout we proceed and the
    // record says what the box looked like (settle_waited +
    // loadavg_preflight fields).
    def loadavg1: Double =
      try java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => 0.0 }
    var settleWaited = 0.0
    while (loadavg1 > SettleLoad && settleWaited < SettleMaxSec) {
      Thread.sleep(15000)
      settleWaited += 15.0
    }
    val (loadavgStart, _, _) = hostId()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val expect = loadExpect(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_EXPECT", BenchRules.root.resolve("docs/BENCH_EXPECT.json").toString))
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    // ERROR, not WARN: at 313 queries a benign per-plan warning class
    // (e.g. the r9 LogicalRDD attribute-name spam) floods the driver's
    // captured stdout tail past its truncation point.
    spark.sparkContext.setLogLevel("ERROR")
    // SORTED name order (round 5; was Map iteration order): pins each
    // query's GC/cache neighborhood across rounds.
    // Optional subset filter (A/B experiments): the tag "core" expands
    // to the curated per-operator-family subset (SparkEntry.coreBench).
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty) // an empty/blank env var must not bench nothing
        .map { names =>
          val expanded =
            if (names.contains("core")) names - "core" ++ SparkEntry.coreBench
            else names
          val unknown = expanded -- SparkEntry.queries.keySet
          require(unknown.isEmpty,
            s"SPARK_GRAFT_BENCH_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
          expanded
        }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Warm-up: no global pass — every query gets its own warm execution
    // (cheap: the warm rep at the bench SF; mid/heavy: an untimed sf0.01
    // run right before its settled reps, which compiles its codegen
    // kernels but pays only for the queries being measured).
    val warmDir = {
      val d = "/root/testdata/sf0.01"
      if (new java.io.File(d).isDirectory) d else sfDir
    }
    def timed(fn: Query): Double = Bench.timed(spark, sfDir, fn)
    // an untimed warm execution; its failure is not the measurement's
    def warmAt001(fn: Query): Unit = {
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }

    // Full r6 discipline: deep isolate-settle (GC cycles with
    // ContextCleaner drain time + a final beat, BETWEEN queries so it
    // costs wall time, not measured time), then `Reps` reps each with a
    // per-rep settle (GC + 600 ms) so the previous execution's garbage
    // isn't collected on this rep's clock. Median of reps.
    def heavyMeasure(fn: Query, warm: Boolean): Double = {
      if (warm) warmAt001(fn)
      // r10 trim: 2 settle cycles + 600 ms beat (was 3 + 1000) and a
      // 600 ms per-rep beat (was 750) — the first full-registry run
      // measured the old constants at ~4.75 s of fixed overhead per
      // heavy query, which alone is ~12 min across the ≥thresh tail;
      // these still give two full GC+drain cycles between queries and
      // one before every rep.
      var i = 0
      while (i < 2) { System.gc(); Thread.sleep(400); i += 1 }
      Thread.sleep(600)
      val times = (1 to Reps).map { _ =>
        System.gc()
        Thread.sleep(600)
        timed(fn)
      }.sorted
      if (Reps % 2 == 1) times(Reps / 2)
      else (times(Reps / 2 - 1) + times(Reps / 2)) / 2
    }

    // WALL GUARD (r11 — the structural fix for the r9 rc=124 class):
    // if the run is about to outlive the driver budget (interference
    // can inflate the heavy tail 1.5-2.5× and trip spurious in-run
    // escalations), DEGRADE remaining queries to warm+single-shot
    // instead of timing out with no record at all. Degraded names ride
    // in the record so band adjudication knows those values are
    // one-shot under load, not settled medians.
    val wallStart = System.nanoTime()
    def wallElapsed: Double = (System.nanoTime() - wallStart) / 1e9
    val degraded = scala.collection.mutable.ArrayBuffer.empty[String]
    // A query that throws (in any timed rep, warm reps at the bench SF
    // included) is listed in `failed` and kept out of `queries`/`total`.
    val (results, mainFailed) = BenchRules.measureAll(ordered) { (name, fn) =>
      val overWall = wallElapsed > WallGuardSec
      if (overWall) degraded += name
      if (overWall) { timed(fn); timed(fn) } // warm + one-shot, no settle
      else if (expect.get(name).exists(_ < HeavyThresh)) {
        timed(fn) // warm rep at the bench SF (codegen + JIT)
        val v = timed(fn)
        // escalate a surprise: a "cheap" query measuring heavy gets
        // the full discipline so bands compare like with like (same
        // constant as classification, so both cutoffs move together)
        if (v >= HeavyThresh) heavyMeasure(fn, warm = false) else v
      } else if (expect.get(name).exists(_ < MidThresh)) {
        // mid tier: sf0.01 warm (codegen), one settled rep; the spike
        // re-run pass escalates any suspicious reading to median-of-3
        warmAt001(fn)
        System.gc()
        Thread.sleep(600)
        timed(fn)
      } else heavyMeasure(fn, warm = true)
    }
    val failed = scala.collection.mutable.ArrayBuffer.from(mainFailed)
    // SPIKE RE-RUN ADJUDICATION (r12 — the r11 verdict's #1 task): the
    // binding r11 record shipped q94_pq_adc at 17.5× its four-record
    // consensus because an interference window hit its measurement and
    // the wall guard then demoted 57 queries to one-shot. Adjudication
    // had to happen OUT of harness (twin-record ratio method); this pass
    // moves it IN: after the main pass — when the load window that
    // inflated a value has typically moved on — re-measure (warm +
    // median-of-up-to-3, light settle) every query whose value exceeds
    // SpikeK× its committed expectation by at least the effective
    // SpikeAbs margin, worst absolute excess first, and REPLACE the
    // value. A re-run that still reads high stays high — that is a real
    // regression, recorded as such. `rerun` names + original `spiked` values ride in the
    // record so BENCH_EXPECT rebasing (derive_expect.py) can trust rerun
    // values and band adjudication can see what was replaced.
    //
    // Wall discipline: the pass fits INSIDE the driver budget's slack —
    // each rep checks the rerun wall (RerunWallSec measured-wall; the
    // budget evidence is r8's 2138 s sbt-total passing and the gate's
    // 2400 s assumption, minus ~120 s JVM startup and teardown margin)
    // and the pass stops mid-query rather than overrun, keeping at least
    // the warm-shot improvement it already paid for.
    // SECOND TRIGGER (r14 — the r13 verdict's #2 task): keyed to the
    // PRIOR DRIVER record instead of expect. q96 proved a 2.4×
    // round-over-round jump can sit below 2×expect when the expect has
    // crept (reading 10.29, expect 6.22 → 1.65×, unadjudicated); the
    // prior binding record is one committed measurement and cannot
    // creep, so `value > 1.5× prior + 0.75 s` fires exactly there.
    // Predicates and constants live in BenchRules (spec-pinned by
    // BenchRulesSpec). Failed queries have no value and are never re-run.
    val recPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", BenchRules.root.resolve("bench_records.jsonl").toString)
    val priorDriver = BenchRules.loadPriorDriver(recPath)
    val spiked = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val reran = scala.collection.mutable.ArrayBuffer.empty[String]
    val adjudicated: Seq[(String, Double)] = {
      val byName = ordered.toMap
      val candidates = results
        .flatMap { case (name, v) =>
          if (BenchRules.spike(v, expect.get(name), priorDriver.get(name),
              BenchRules.SpikeK, BenchRules.CrossK, BenchRules.SpikeAbs))
            // rank by distortion vs the tightest reference we have
            Some((name, v, math.min(
              expect.getOrElse(name, Double.MaxValue),
              priorDriver.getOrElse(name, Double.MaxValue))))
          else None
        }
        .sortBy { case (_, v, e) => -(v - e) } // worst distortion first
      val replaced = scala.collection.mutable.Map.empty[String, Double]
      candidates.foreach { case (name, v, _) =>
        if (wallElapsed < RerunWallSec) {
          val fn = byName(name)
          try {
            timed(fn) // warm (codegen/JIT at the bench SF)
            val reps3 = scala.collection.mutable.ArrayBuffer.empty[Double]
            // up to 3 settled reps, each gated on the rerun wall so one
            // genuinely-slow query cannot blow the budget for the rest
            while (reps3.size < 3 && (reps3.isEmpty || wallElapsed < RerunWallSec)) {
              System.gc()
              Thread.sleep(400)
              reps3 += timed(fn)
            }
            val sortedReps = reps3.sorted
            val n = sortedReps.size
            val med =
              if (n % 2 == 1) sortedReps(n / 2)
              else (sortedReps(n / 2 - 1) + sortedReps(n / 2)) / 2
            replaced(name) = med
            spiked(name) = v
            reran += name
          } catch { case _: Throwable => failed += name } // a re-run that throws is a failure too
        }
      }
      results.collect {
        case (name, v) if !failed.contains(name) => name -> replaced.getOrElse(name, v)
      }
    }
    val qs = adjudicated.map { case (k, v) => s"${jsonString(k)}:$v" }
      .mkString("{", ",", "}")
    val total = if (adjudicated.nonEmpty) adjudicated.map(_._2).sum else 0.0
    // Record labels (round 6): `source` defaults to "driver" — the
    // binding per-round run sets no env; builder-local runs MUST set
    // SPARK_GRAFT_BENCH_SOURCE=local. A SUBSET run can never be the
    // binding driver record — default its source to "local"; `nq`
    // makes every record self-describing either way.
    val source = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_SOURCE",
      if (only.isDefined) "local" else "driver"
    )
    val sha =
      try {
        val p = new ProcessBuilder("git", "-C", BenchRules.root.toString, "rev-parse", "--short", "HEAD").start()
        val s0 = new String(p.getInputStream.readAllBytes()).trim
        p.waitFor()
        if (s0.nonEmpty) s0 else "unknown"
      } catch { case _: Throwable => "unknown" }
    val round = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption).getOrElse {
      // PROGRESS.jsonl's last line carries the driver's own round
      // counter and survives a skipped judge pass; VERDICT.md+1 under-
      // labels by one for every verdict the judge never wrote.
      def progressRound: Option[Int] =
        try {
          val last = java.nio.file.Files
            .readString(BenchRules.root.resolve("PROGRESS.jsonl"))
            .linesIterator.filter(_.nonEmpty).toSeq.lastOption
          last.flatMap("\"round\": *(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toInt)
        } catch { case _: Throwable => None }
      def verdictRound: Option[Int] =
        try {
          val head = java.nio.file.Files.readString(BenchRules.root.resolve("VERDICT.md"))
            .linesIterator.take(1).mkString
          "round (\\d+)".r.findFirstMatchIn(head).map(_.group(1).toInt + 1)
        } catch { case _: Throwable => None }
      // trust whichever source claims the LATER round: both error modes
      // under-count, never over-count
      (progressRound.toSeq ++ verdictRound.toSeq).maxOption.getOrElse(-1)
    }
    val stamp = java.time.Instant.now().toString
    val (loadavg, cpu, nproc) = hostId()
    def jsonNames(names: Iterable[String]): String =
      names.map(jsonString).mkString("[", ",", "]")
    // rerun = names whose values are spike-adjudicated settled medians
    // (trusted by derive_expect.py even when also in `degraded`);
    // spiked = the original main-pass values they replaced; failed =
    // names that threw (no value, not in `total`; `nq` counts them).
    // agg/isolate/adaptive are fixed labels that keep records comparable
    // with earlier ones: "adaptive" says the cheap bulk is one warm-shot
    // measurement and only the ≥HeavyThresh tail a settled median.
    val spikedJson = spiked
      .map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    // strings are escaped: sf and source come from the environment
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":${jsonString(sfDir)},"agg":"adaptive","source":${jsonString(source)},"round":$round,"sha":${jsonString(sha)},"ts":${jsonString(stamp)},"isolate":true,"adaptive":true,"nq":${ordered.size},"subset":${only.isDefined},"degraded":${jsonNames(degraded)},"failed":${jsonNames(failed)},"rerun":${jsonNames(reran)},"spiked":$spikedJson,"loadavg":${jsonString(loadavgStart)},"loadavg_preflight":${jsonString(loadavgPreflight)},"settle_waited":$settleWaited,"loadavg_end":${jsonString(loadavg)},"cpu":${jsonString(cpu)},"nproc":$nproc}"""
    println(line)
    // ALSO persist the full record to a file: the driver's captured
    // stdout tail truncates past ~64 per-query medians; the file is
    // what docs/BENCH_NOTES.md bands are re-derived from.
    try {
      val w = new java.io.FileWriter(recPath, true)
      try w.write(line + "\n") finally w.close()
    } catch { case _: Throwable => () } // bench result is stdout-first; the file is best-effort
    spark.stop()
  }
}
