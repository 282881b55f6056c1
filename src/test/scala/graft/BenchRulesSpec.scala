package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** Pins the bench spike-adjudication predicates and failure accounting
  * (BenchRules) — in particular the r14 driver-history trigger, whose
  * reason to exist is the exact r13 shape this spec replays:
  * q96_pagerank read 10.29 s in the binding record while its crept
  * expectation (6.22) kept the 2×expect rule silent and the prior
  * driver record (4.23) said the reading was 2.4× round-over-round.
  */
class BenchRulesSpec extends SparkSpec {

  private val K = BenchRules.SpikeK       // 2.0
  private val CROSS = BenchRules.CrossK   // 1.5
  private val ABS = BenchRules.SpikeAbs   // 0.75

  test("expectSpike fires on a clean 2x-with-margin breach") {
    assert(BenchRules.expectSpike(10.0, Some(4.0), K, ABS))
  }

  test("expectSpike needs BOTH the ratio and the absolute margin") {
    assert(!BenchRules.expectSpike(0.52, Some(0.25), K, ABS))  // 2.1x but +0.27 s under the noise floor
    assert(!BenchRules.expectSpike(7.0, Some(4.0), K, ABS))    // +3 s but 1.75x only
    assert(!BenchRules.expectSpike(10.0, None, K, ABS))        // no expectation, no fire
  }

  test("the 0.6-0.75 s band is no longer blind (r15 review finding)") {
    // under the old step-at-0.6 rule this 2.08x spike's 0.70 s delta
    // sat under the flat 0.75 floor and escaped; the continuous margin
    // min(abs, max(0.3, 0.5x0.65)) = 0.325 catches it
    assert(BenchRules.expectSpike(1.35, Some(0.65), K, ABS))
  }

  // ------------------------------------------- r15 cheap-tier floor

  test("the r14 q10 shape: a cheap-tier one-shot now fires the triggers") {
    // r14 binding record: q10_upsert 0.889 s vs expect/prior ~0.19 —
    // 4.7x, but delta 0.70 s sat under the flat 0.75 s floor and
    // NEITHER trigger fired (the r14 verdict's #4). The tier-scaled
    // margin (max(0.3, 0.5x0.19) = 0.3) closes the blind spot.
    assert(BenchRules.expectSpike(0.889, Some(0.19), K, ABS))
    assert(BenchRules.driverHistorySpike(0.889, Some(0.184), CROSS, ABS))
    assert(BenchRules.spike(0.889, Some(0.19), Some(0.184), K, CROSS, ABS))
  }

  test("normal cheap-tier noise does not fire the scaled floor") {
    // observed run-to-run jitter on sub-second queries is +-0.1 s;
    // readings inside ~2x+0.3 stay quiet
    assert(!BenchRules.spike(0.29, Some(0.19), Some(0.184), K, CROSS, ABS)) // +0.1 s
    assert(!BenchRules.spike(0.45, Some(0.19), Some(0.184), K, CROSS, ABS)) // 2.4x but +0.26 < 0.3
    assert(!BenchRules.spike(0.55, Some(0.45), Some(0.45), K, CROSS, ABS))  // 1.2x
  }

  test("effectiveAbs: continuous half-ref, 0.3 floor, abs ceiling") {
    assert(BenchRules.effectiveAbs(0.19, ABS) == 0.3)    // max(0.3, 0.095)
    assert(BenchRules.effectiveAbs(0.59, ABS) == 0.3)    // max(0.3, 0.295)
    assert(BenchRules.effectiveAbs(0.65, ABS) == 0.325)  // half-ref region
    assert(BenchRules.effectiveAbs(1.4, ABS) == 0.7)     // still under the ceiling
    assert(BenchRules.effectiveAbs(1.5, ABS) == ABS)     // ceiling reached
    assert(BenchRules.effectiveAbs(4.0, ABS) == ABS)     // heavy tier untouched
    // a TIGHTENED operator abs governs every tier; a loosened one
    // widens the margin only up to half the reference (see scaladoc)
    assert(BenchRules.effectiveAbs(0.19, 0.2) == 0.2)
    assert(BenchRules.effectiveAbs(4.0, 5.0) == 2.0)
  }

  test("the r13 q96 shape: expect-creep disarms the r12 rule — demonstrated") {
    // reading 10.287, expect 6.2239 (BENCH_EXPECT as of r13): 1.65x,
    // below 2x — this is the hazard, pinned as a negative assertion
    assert(!BenchRules.expectSpike(10.287, Some(6.2239), K, ABS))
  }

  test("the r13 q96 shape: the r14 driver-history trigger fires") {
    // prior driver record (92dd4b7, r12): q96 = 4.23 settled
    assert(BenchRules.driverHistorySpike(10.287, Some(4.23), CROSS, ABS))
    // and therefore the combined rule re-measures it
    assert(BenchRules.spike(10.287, Some(6.2239), Some(4.23), K, CROSS, ABS))
  }

  test("driverHistorySpike needs BOTH ratio and absolute margin") {
    assert(!BenchRules.driverHistorySpike(0.78, Some(0.5), CROSS, ABS)) // 1.56x but +0.28 < 0.3 floor
    assert(!BenchRules.driverHistorySpike(5.5, Some(4.23), CROSS, ABS)) // +1.3 s, 1.3x
    assert(!BenchRules.driverHistorySpike(10.0, None, CROSS, ABS))      // no history
    // the continuous margin means a 1.7x cheap-tier jump now fires
    // (used to sit under the flat floor — re-running a 1.2 s query
    // costs ~a second, cheap insurance)
    assert(BenchRules.driverHistorySpike(1.2, Some(0.7), CROSS, ABS))
  }

  test("a normal settled reading fires neither trigger") {
    // q96 fresh-JVM consensus vs its own history: quiet
    assert(!BenchRules.spike(5.5, Some(6.2239), Some(4.23), K, CROSS, ABS))
  }

  // ---------------------------------------------------------- parsing

  private def rec(source: String, nq: Int, subset: Boolean,
                  qs: Map[String, Double],
                  degraded: Seq[String] = Nil, rerun: Seq[String] = Nil): String = {
    val qsj = qs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val dj = degraded.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rj = rerun.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":1.0,"unit":"sec","queries":$qsj,"sf":"x","source":"$source","nq":$nq,"subset":$subset,"degraded":$dj,"rerun":$rj}"""
  }

  test("parseRecordQueries drops degraded-without-rerun, keeps rerun-adjudicated") {
    val line = rec("driver", 300, subset = false,
      Map("q1_a" -> 1.5, "q2_b" -> 2.5, "q3_c" -> 3.5),
      degraded = Seq("q2_b", "q3_c"), rerun = Seq("q3_c"))
    val m = BenchRules.parseRecordQueries(line)
    assert(m == Map("q1_a" -> 1.5, "q3_c" -> 3.5)) // q2_b one-shot under load: out
  }

  test("loadPriorDriver picks the LAST full driver record; skips subset/small/local") {
    val f = java.nio.file.Paths.get(tempDir("bench_records"), "records.jsonl")
    val lines = Seq(
      rec("driver", 300, subset = false, Map("q1_a" -> 9.0)),  // older driver
      rec("local", 300, subset = false, Map("q1_a" -> 1.0)),   // local: never binding
      rec("driver", 300, subset = true, Map("q1_a" -> 1.0)),   // subset: skip
      rec("driver", 10, subset = false, Map("q1_a" -> 1.0)),   // tiny: skip
      rec("driver", 324, subset = false, Map("q1_a" -> 4.23, "q2_b" -> 0.5))
    )
    java.nio.file.Files.writeString(f, lines.mkString("\n") + "\n")
    val m = BenchRules.loadPriorDriver(f.toString)
    assert(m == Map("q1_a" -> 4.23, "q2_b" -> 0.5))
    java.nio.file.Files.delete(f)
  }

  test("loadPriorDriver on a missing file is empty (trigger disarms safely)") {
    assert(BenchRules.loadPriorDriver("/nonexistent/nowhere.jsonl").isEmpty)
  }

  test("the shipped bench_records.jsonl yields the r13 binding record") {
    // Guards the parser against drift in the real record format: the
    // prior driver record must contain q96 at a plausible settled value.
    val m = BenchRules.loadPriorDriver(BenchRules.root.resolve("bench_records.jsonl").toString)
    assert(m.contains("q96_pagerank"))
    assert(m.size > 300)
  }

  // ------------------------------------------------ failure accounting

  test("a throwing query yields a failure, not a time") {
    val ok: Bench.Query = (s, _) => s.range(3).toDF()
    // one query fails while it is built, one while it executes
    val badBuild: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val badRun: Bench.Query = (s, _) => s.range(3).toDF().where(raise_error(lit("boom")).isNull)
    val (timed, failed) = BenchRules.measureAll(
      Seq("q1_ok" -> ok, "q2_bad_build" -> badBuild, "q3_bad_run" -> badRun)) {
      (_, fn) => Bench.timed(spark, "", fn)
    }
    assert(timed.map(_._1) == Seq("q1_ok"))
    assert(failed == Seq("q2_bad_build", "q3_bad_run"))
  }

  test("root: the forked test JVM runs in this checkout") {
    assert(java.nio.file.Files.isRegularFile(BenchRules.root.resolve("build.sbt")))
  }

  test("jsonString: a quote, a backslash, a tab and U+0001 parse back unchanged") {
    val s = "sf \"dir\"\\x\ty\u0001z"
    val record = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("{\"sf\":" + BenchRules.jsonString(s) + "}")
    assert(record.get("sf").asText() == s)
  }
}
