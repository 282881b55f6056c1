package graft

/** Pure adjudication rules for [[Bench]], extracted so the spike
  * triggers and the failure accounting are spec-pinnable
  * (BenchRulesSpec) instead of living as inline predicates a harness
  * refactor can silently drop.
  *
  * Two independent spike triggers, both required because each has a
  * blind spot the other covers:
  *
  *  - [[expectSpike]] (r12): value > K× its committed expectation
  *    (docs/BENCH_EXPECT.json) by ≥ abs seconds. Blind spot: EXPECT
  *    CREEP — when prior inflated readings have been baked into the
  *    expectation, the expectation IS the spike and the rule is
  *    disarmed (r13's q96: reading 10.29 s vs expect 6.22 = 1.65×,
  *    never re-measured, while the fresh-JVM consensus was 5.0–5.6 s).
  *  - [[driverHistorySpike]] (r14, the r13 verdict's #2 task): value >
  *    crossK× the PRIOR DRIVER record's settled value for the same
  *    query by ≥ abs seconds. The prior binding record cannot creep —
  *    it is one committed measurement, not a derived statistic — so a
  *    2.4× round-over-round jump fires this even when expect has
  *    absorbed the inflation. Blind spot: a query inflated in BOTH
  *    consecutive driver records; that is what expect rebasing's
  *    cross-record outlier guard (scripts/derive_expect.py) exists for.
  */
object BenchRules {

  /** Spike-trigger constants Bench runs with: the expect ratio, the
    * prior-driver ratio and the absolute-margin ceiling.
    */
  val SpikeK = 2.0
  val CrossK = 1.5
  val SpikeAbs = 0.75

  /** Measures each query in order. A query whose measurement throws is
    * a FAILURE: its name goes to the second list and it gets no value,
    * so it can neither enter `total` nor be read as a fast time.
    */
  def measureAll[Q](queries: Seq[(String, Q)])(
      measure: (String, Q) => Double): (Seq[(String, Double)], Seq[String]) = {
    val outcomes = queries.map { case (name, q) =>
      name -> (try Some(measure(name, q)) catch { case _: Throwable => None })
    }
    (outcomes.collect { case (name, Some(v)) => name -> v },
      outcomes.collect { case (name, None) => name })
  }

  /** r15 rule (the r14 verdict's #4 task): the absolute margin exists
    * so ordinary noise can't trigger pointless re-runs, but a flat
    * 0.75 s floor exceeds ANY plausible delta on a sub-second query —
    * the whole cheap tier was the one band with no working spike guard
    * (r14 binding record: q10_upsert one-shot at 0.89 s vs a 0.13–0.29
    * consensus, 4–6×, neither trigger fired because the 0.6–0.7 s
    * delta sat under the floor). The margin is continuous in the
    * reference: min(abs, max(0.3, 0.5×ref)) — it scales as half the
    * reference, never exceeds the given `abs` ceiling (so a tighter
    * ceiling governs everywhere), and never drops under the 0.3 s
    * noise floor (~3× observed cheap-tier run-to-run jitter, ±0.1 s —
    * ordinary jitter cannot fire a re-run). Continuity matters: a step
    * at 0.6 s left a residual blind band for 0.6–0.75 s references
    * where a full 2× spike's delta still sat under the flat floor (r15
    * review finding). One documented asymmetry: a LOOSENED abs (>0.75) only
    * widens the margin up to 0.5×ref — for sub-second queries a
    * re-run costs under a second, so suppressing cheap-tier re-runs
    * is never worth a blind spot.
    */
  def effectiveAbs(ref: Double, abs: Double): Double =
    math.min(abs, math.max(0.3, 0.5 * ref))

  /** r12 rule: value exceeds k× its committed expectation by ≥ the
    * effective absolute margin (tier-scaled, see [[effectiveAbs]]).
    */
  def expectSpike(value: Double, expect: Option[Double], k: Double, abs: Double): Boolean =
    expect.exists(e => value > k * e && value - e > effectiveAbs(e, abs))

  /** r14 rule: value exceeds crossK× the prior driver record's settled
    * value by ≥ the effective absolute margin.
    */
  def driverHistorySpike(value: Double, priorDriver: Option[Double], crossK: Double, abs: Double): Boolean =
    priorDriver.exists(p => value > crossK * p && value - p > effectiveAbs(p, abs))

  /** A reading is re-measured when EITHER trigger fires. */
  def spike(value: Double, expect: Option[Double], priorDriver: Option[Double],
            k: Double, crossK: Double, abs: Double): Boolean =
    expectSpike(value, expect, k, abs) ||
      driverHistorySpike(value, priorDriver, crossK, abs)

  /** Per-query values of the most recent FULL DRIVER record in
    * `bench_records.jsonl` (source=="driver", subset:false, nq ≥ 100),
    * excluding names degraded-without-rerun in that record (wall-guard
    * one-shots under load are not settled values to compare against).
    * Same no-JSON-dependency regex discipline as Bench.loadExpect: the
    * record line is machine-written by Bench itself, so the shapes are
    * exact. Missing/unreadable file or no driver record → empty map →
    * the r14 trigger simply never fires (the safe default — the r12
    * trigger still guards).
    */
  def loadPriorDriver(path: String): Map[String, Double] =
    try {
      val lines = java.nio.file.Files
        .readString(java.nio.file.Paths.get(path))
        .linesIterator.filter(_.nonEmpty).toSeq
      val driverLines = lines.filter { l =>
        l.contains("\"source\":\"driver\"") &&
          l.contains("\"subset\":false") &&
          "\"nq\":(\\d+)".r.findFirstMatchIn(l).exists(_.group(1).toInt >= 100)
      }
      driverLines.lastOption.map(parseRecordQueries).getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  /** Extract the trusted per-query map from one record line: the
    * `queries` object's pairs, minus degraded-without-rerun names.
    * Exposed for the spec (which feeds synthetic record lines).
    */
  private[graft] def parseRecordQueries(line: String): Map[String, Double] = {
    def obj(field: String): String = {
      val start = line.indexOf("\"" + field + "\":{")
      if (start < 0) "" else {
        val open = line.indexOf('{', start)
        val close = line.indexOf('}', open)
        if (close < 0) "" else line.substring(open, close + 1)
      }
    }
    def arr(field: String): Set[String] = {
      val start = line.indexOf("\"" + field + "\":[")
      if (start < 0) Set.empty else {
        val open = line.indexOf('[', start)
        val close = line.indexOf(']', open)
        if (close < 0) Set.empty
        else "\"([^\"]+)\"".r.findAllMatchIn(line.substring(open, close + 1))
          .map(_.group(1)).toSet
      }
    }
    val qs = "\"(q[A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r
      .findAllMatchIn(obj("queries"))
      .map(m => m.group(1) -> m.group(2).toDouble)
      .toMap
    val untrusted = arr("degraded") -- arr("rerun")
    qs -- untrusted
  }
}
