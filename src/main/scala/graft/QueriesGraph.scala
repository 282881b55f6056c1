package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** graph algorithms & distributional statistics */
private[graft] trait QueriesGraph extends QueryRegistration {
  this: QueriesCore with QueriesCuration with QueriesAnalytics with QueriesExact with QueriesGraph =>
  // ---------------------------------------------------------------- q279
  /** CONSISTENT-ROUTER SHOOTOUT — the three placement schemes a 100 TB
    * platform chooses between, run side by side on the same keys at
    * n = 16 → 17 buckets and certified on the SAME contract: jump
    * (expr/JumpHash — O(ln n), zero memory), rendezvous/HRW
    * (ops/Rendezvous — O(n) hashes, weighted-capable), and a
    * 4-vnode-per-bucket HASH RING (the memcached/Dynamo scheme:
    * successor vnode by 60-bit position, wraparound to the global
    * minimum). For each: bucket-load spread at both sizes, how many
    * keys move when bucket 16 joins, and the minimal-move law (every
    * mover lands on the NEW bucket — true for all three, for three
    * different structural reasons; mod-N hashing, the scheme they
    * replace, moves ~16/17 of keys and breaks the law). All three are
    * md5-replayable: the oracle re-derives jump's LCG loop
    * recursively, HRW's argmax, and the ring's filtered-successor
    * COALESCE from scratch.
    */
  def q279RouterShootout(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.events(s, dir).select(col("user_id")).distinct()
    def h60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    // jump + HRW: direct column expressions at both sizes
    val jump = keys.select(
      lit("jump").as("router"), col("user_id"),
      expr("jump_hash(user_id, 16)").cast("long").as("b16"),
      expr("jump_hash(user_id, 17)").cast("long").as("b17"))
    val hrw = keys.select(
      lit("rendezvous").as("router"), col("user_id"),
      graft.ops.Rendezvous.assign(col("user_id"), 16).as("b16"),
      graft.ops.Rendezvous.assign(col("user_id"), 17).as("b17"))
    // ring: 4 vnodes per bucket, successor-with-wraparound
    val vnodes = s
      .range(0, 17)
      .select(col("id").as("b"))
      .crossJoin(s.range(0, 4).select(col("id").as("i")))
      .select(
        col("b"), col("i"),
        h60(concat(lit("v:"), col("b").cast("string"), lit(":"), col("i").cast("string")))
          .as("vh"))
    def ringAt(n: Int): DataFrame =
      keys
        .withColumn("kh", h60(concat(lit("k:"), col("user_id").cast("string"))))
        .crossJoin(broadcast(vnodes.where(col("b") < n)))
        .groupBy(col("user_id"))
        .agg(
          min(when(col("vh") >= col("kh"), struct(col("vh"), col("b")))).as("ge"),
          min(struct(col("vh"), col("b"))).as("glob"))
        .select(
          col("user_id"),
          coalesce(col("ge.b"), col("glob.b")).as(s"b$n"))
    val ring = ringAt(16)
      .join(ringAt(17), Seq("user_id"))
      .select(lit("ring").as("router"), col("user_id"), col("b16"), col("b17"))
    val asg = jump.unionByName(hrw).unionByName(ring)
    val l16 = asg
      .groupBy(col("router"), col("b16")).agg(count(lit(1)).as("c"))
      .groupBy(col("router"))
      .agg(max(col("c")).as("max16"), min(col("c")).as("min16"))
    val l17 = asg
      .groupBy(col("router"), col("b17")).agg(count(lit(1)).as("c"))
      .groupBy(col("router"))
      .agg(max(col("c")).as("max17"), min(col("c")).as("min17"))
    val mv = asg
      .groupBy(col("router"))
      .agg(
        sum(when(col("b16") =!= col("b17"), 1L).otherwise(0L)).as("n_moved"),
        (sum(when(col("b16") =!= col("b17") && col("b17") =!= 16, 1L).otherwise(0L)) === 0L)
          .as("moved_only_to_new"),
        count(lit(1)).as("n_keys"))
    l16
      .join(l17, Seq("router"))
      .join(mv, Seq("router"))
      .select(
        col("router"), col("n_keys"), col("max16"), col("min16"),
        col("max17"), col("min17"), col("n_moved"), col("moved_only_to_new"))
      .orderBy(col("router"))
  }

  val q279Oracle: String =
    """WITH RECURSIVE keys AS (SELECT DISTINCT user_id FROM events),
      |params AS (SELECT CAST(unnest([16, 17]) AS BIGINT) AS n),
      |jumpw AS (
      |  SELECT k.user_id, p.n,
      |    CAST(k.user_id AS HUGEINT) AS key,
      |    CAST(-1 AS BIGINT) AS b, CAST(0 AS BIGINT) AS j
      |  FROM keys k, params p
      |  UNION ALL
      |  SELECT user_id, n,
      |    (key * 2862933555777941757 + 1) % 18446744073709551616 AS key,
      |    j AS b,
      |    CAST(trunc((j + 1) * (2147483648.0 /
      |      CAST(((key * 2862933555777941757 + 1) % 18446744073709551616)
      |           // 8589934592 + 1 AS DOUBLE))) AS BIGINT) AS j
      |  FROM jumpw WHERE j < n),
      |jumpa AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN n = 16 THEN b END) AS b16,
      |    MAX(CASE WHEN n = 17 THEN b END) AS b17
      |  FROM jumpw WHERE j >= n GROUP BY user_id),
      |shards AS (SELECT CAST(unnest(range(0, 17)) AS BIGINT) AS sh),
      |hrws AS (
      |  SELECT k.user_id, s.sh,
      |    CAST(('0x' || substr(md5(CAST(k.user_id AS VARCHAR) || ':' || CAST(s.sh AS VARCHAR)),
      |      1, 15)) AS BIGINT) AS sc
      |  FROM keys k, shards s),
      |hrwa AS (
      |  SELECT user_id,
      |    arg_max(sh, sc) FILTER (WHERE sh < 16) AS b16,
      |    arg_max(sh, sc) AS b17
      |  FROM hrws GROUP BY user_id),
      |vn AS (
      |  SELECT b.sh AS b, i.i,
      |    CAST(('0x' || substr(md5('v:' || CAST(b.sh AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)),
      |      1, 15)) AS BIGINT) AS vh
      |  FROM shards b, (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS i) i),
      |kh AS (
      |  SELECT user_id,
      |    CAST(('0x' || substr(md5('k:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS kh
      |  FROM keys),
      |ringn AS (
      |  SELECT k.user_id, p.n,
      |    COALESCE(
      |      arg_min(v.b, v.vh) FILTER (WHERE v.vh >= k.kh),
      |      arg_min(v.b, v.vh)) AS b
      |  FROM kh k, params p
      |  JOIN vn v ON v.b < p.n
      |  GROUP BY k.user_id, p.n),
      |ringa AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN n = 16 THEN b END) AS b16,
      |    MAX(CASE WHEN n = 17 THEN b END) AS b17
      |  FROM ringn GROUP BY user_id),
      |asg AS (
      |  SELECT 'jump' AS router, user_id, b16, b17 FROM jumpa
      |  UNION ALL SELECT 'rendezvous', user_id, b16, b17 FROM hrwa
      |  UNION ALL SELECT 'ring', user_id, b16, b17 FROM ringa),
      |l16 AS (
      |  SELECT router, MAX(c) AS max16, MIN(c) AS min16
      |  FROM (SELECT router, b16, CAST(COUNT(*) AS BIGINT) AS c FROM asg GROUP BY 1, 2)
      |  GROUP BY router),
      |l17 AS (
      |  SELECT router, MAX(c) AS max17, MIN(c) AS min17
      |  FROM (SELECT router, b17, CAST(COUNT(*) AS BIGINT) AS c FROM asg GROUP BY 1, 2)
      |  GROUP BY router),
      |mv AS (
      |  SELECT router,
      |    CAST(SUM(CASE WHEN b16 <> b17 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
      |    SUM(CASE WHEN b16 <> b17 AND b17 <> 16 THEN 1 ELSE 0 END) = 0 AS moved_only_to_new,
      |    CAST(COUNT(*) AS BIGINT) AS n_keys
      |  FROM asg GROUP BY router)
      |SELECT l16.router, mv.n_keys, l16.max16, l16.min16,
      |  l17.max17, l17.min17, mv.n_moved, mv.moved_only_to_new
      |FROM l16
      |JOIN l17 ON l17.router = l16.router
      |JOIN mv ON mv.router = l16.router
      |ORDER BY l16.router""".stripMargin
  query("q279_router_shootout", q279RouterShootout, Some(q279Oracle))

  // ---------------------------------------------------------------- q280
  /** L1 (LEAST-ABSOLUTE-DEVIATIONS) REGRESSION BY GRID SWEEP — the
    * robust-fit companion to q272: fit daily event count = a + b·day
    * per event type by sweeping b over an integer micro-slope grid
    * (the distributed hyperparameter-sweep shape: candidates × points
    * is one broadcast fan-out, loss is an exact integer aggregate).
    * For each candidate b, the optimal a is the DISCRETE median of
    * the residuals y − b·x (the L1 theory's exact minimizer, lower
    * order statistic — q92's interpolation-free recipe), and the loss
    * Σ|y − b·x − a| is exact in micro-units. Winner = argmin (loss,
    * b). q272's Theil–Sen slope rides along with the signed gap
    * between the two robust estimators as a MEASURED diagnostic (on a
    * 30-point noisy series they differ by up to ~0.3 counts/day —
    * they are different estimators and only agree asymptotically;
    * both engines must reproduce the exact gap). Everything
    * downstream of the daily rollup runs on a ≤(366·|grid|·types)-row
    * bounded frame.
    */
  def q280L1Regression(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables
      .events(s, dir)
      .select(col("event_type").as("t"), to_date(col("ts")).as("day"))
      .groupBy(col("t"), col("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("d", datediff(col("day"), to_date(lit("2024-01-01"))))
    // slope grid: -2e6 .. 2e6 micro-units in 5e4 steps (81 candidates)
    val grid = s.range(-40, 41).select((col("id") * 50000L).as("bu"))
    val resid = daily
      .crossJoin(broadcast(grid))
      // residual in micro-units: 1e6·c − bu·d
      .withColumn("r", lit(1000000L) * col("c") - col("bu") * col("d"))
    val wOrd = Window.partitionBy(col("t"), col("bu")).orderBy(col("r"))
    val wAll = Window.partitionBy(col("t"), col("bu"))
    val withMed = resid
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("np", count(lit(1)).over(wAll))
      .withColumn("med", max(when(col("rn") === expr("(np + 1) div 2"), col("r"))).over(wAll))
    val losses = withMed
      .groupBy(col("t"), col("bu"))
      .agg(sum(abs(col("r") - col("med"))).as("loss"), max(col("med")).as("a_u"))
    val wBest = Window.partitionBy(col("t")).orderBy(col("loss"), col("bu"))
    val best = losses
      .withColumn("rk", row_number().over(wBest))
      .where(col("rk") === 1)
      .select(col("t"), col("bu").as("b_u"), col("a_u"), col("loss"))
    val ts = q272TheilSen(s, dir).select(col("t"), col("median_slope_u"))
    best
      .join(ts, Seq("t"))
      .withColumn("slope_gap_u", col("b_u") - col("median_slope_u"))
      .orderBy(col("t"))
  }

  val q280Oracle: String =
    """WITH daily AS (
      |  SELECT event_type AS t, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |dd AS (SELECT t, day - DATE '2024-01-01' AS d, c FROM daily),
      |grid AS (SELECT CAST(unnest(range(-40, 41)) AS BIGINT) * 50000 AS bu),
      |resid AS (
      |  SELECT t, bu, 1000000 * c - bu * d AS r FROM dd, grid),
      |withmed AS (
      |  SELECT t, bu, r,
      |    row_number() OVER (PARTITION BY t, bu ORDER BY r) AS rn,
      |    COUNT(*) OVER (PARTITION BY t, bu) AS np
      |  FROM resid),
      |med AS (
      |  SELECT t, bu, MAX(CASE WHEN rn = (np + 1) // 2 THEN r END) AS med
      |  FROM withmed GROUP BY t, bu),
      |losses AS (
      |  SELECT r.t, r.bu, CAST(SUM(ABS(r.r - m.med)) AS BIGINT) AS loss,
      |    CAST(MAX(m.med) AS BIGINT) AS a_u
      |  FROM resid r JOIN med m ON m.t = r.t AND m.bu = r.bu
      |  GROUP BY r.t, r.bu),
      |best AS (
      |  SELECT t, bu AS b_u, a_u, loss,
      |    row_number() OVER (PARTITION BY t ORDER BY loss, bu) AS rk
      |  FROM losses),
      |pairs AS (
      |  SELECT a.t, ((b.c - a.c) * 1000000) // (b.d - a.d) AS slope_u, a.d AS di, b.d AS dj
      |  FROM dd a JOIN dd b ON b.t = a.t AND a.d < b.d),
      |tsr AS (
      |  SELECT t, slope_u,
      |    row_number() OVER (PARTITION BY t ORDER BY slope_u, di, dj) AS rn,
      |    COUNT(*) OVER (PARTITION BY t) AS np
      |  FROM pairs),
      |theil AS (
      |  SELECT t, CAST(MAX(CASE WHEN rn = (np + 1) // 2 THEN slope_u END) AS BIGINT)
      |    AS median_slope_u
      |  FROM tsr GROUP BY t)
      |SELECT b.t, b.b_u, b.a_u, b.loss, th.median_slope_u,
      |  b.b_u - th.median_slope_u AS slope_gap_u
      |FROM best b JOIN theil th ON th.t = b.t
      |WHERE b.rk = 1
      |ORDER BY b.t""".stripMargin
  query("q280_l1_regression", q280L1Regression, Some(q280Oracle))

  // ---------------------------------------------------------------- q281
  /** GEOHASH ENCODE/DECODE (Niemeyer 2008, public domain) over q201's
    * micro-degree station coordinates — 8-char hashes, exact integer
    * arithmetic end to end: 20-bit lon/lat ranks via integer
    * multiply-then-div (no float quantization to flip a floor),
    * bit-interleave lon-first (the Morton pattern Layout.zValue uses,
    * lon in the odd positions), then 8×5-bit base32 chars from the
    * standard '0123456789bcdefghjkmnpqrstuvwxyz' alphabet. The
    * ROUND-TRIP law is checked through the STRING: chars are parsed
    * back via alphabet position, de-interleaved to ranks, and must
    * reproduce the encode ranks for every station (decode_ok) — plus
    * the prefix-locality property that makes geohash a join/index key:
    * stations sharing a 4-char prefix sit in the same ~0.35°×0.17°
    * cell, so per-prefix counts equal q201-style grid counts. Pure
    * map-side integer/string ops; one rollup.
    */
  def q281Geohash(s: SparkSession, dir: String): DataFrame = {
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    val st = Tables
      .supplier(s, dir)
      .select(col("s_suppkey").as("sk"))
      .withColumn("lat", expr("((sk * 2654435761) % 120000000) - 60000000"))
      .withColumn("lon", expr("((sk * 2246822519) % 360000000) - 180000000"))
      // 20-bit ranks: exact integer multiply-then-div
      .withColumn("lonr", expr("((lon + 180000000) * 1048576) div 360000001"))
      .withColumn("latr", expr("((lat + 90000000) * 1048576) div 180000001"))
    // interleave: bit (2j+1) = lon bit j, bit (2j) = lat bit j
    val inter = (0 until 20)
      .map(j =>
        expr(s"(((lonr div ${1L << j}) % 2) * ${1L << (2 * j + 1)}) + " +
          s"(((latr div ${1L << j}) % 2) * ${1L << (2 * j)})"))
      .reduce(_ + _)
    val hashed = st
      .withColumn("z40", inter)
      .withColumn(
        "gh",
        concat((0 until 8).map(k =>
          expr(s"substr('$alpha', CAST((z40 div ${1L << (35 - 5 * k)}) % 32 AS INT) + 1, 1)")): _*))
    // decode the STRING back: char positions → 40-bit int → ranks
    // CAST to BIGINT before the multiply: instr returns INT, and for
    // k >= 1 the 2^(35-5k) literal fits an int too, so the product
    // wraps in 32-bit (ANSI off) before the sum ever promotes — the
    // q170 widen-the-first-factor rule applies to INTs as well
    val z40back = (0 until 8)
      .map(k =>
        expr(s"(CAST(instr('$alpha', substr(gh, ${k + 1}, 1)) AS BIGINT) - 1) " +
          s"* ${1L << (35 - 5 * k)}"))
      .reduce(_ + _)
    val lonBack = (0 until 20)
      .map(j => expr(s"((__zb div ${1L << (2 * j + 1)}) % 2) * ${1L << j}"))
      .reduce(_ + _)
    val latBack = (0 until 20)
      .map(j => expr(s"((__zb div ${1L << (2 * j)}) % 2) * ${1L << j}"))
      .reduce(_ + _)
    hashed
      .withColumn("__zb", z40back)
      .withColumn("decode_ok", lonBack === col("lonr") && latBack === col("latr"))
      .groupBy(substring(col("gh"), 1, 4).as("prefix"))
      .agg(
        count(lit(1)).as("n_stations"),
        countDistinct(col("gh")).as("n_hashes"),
        (sum(when(col("decode_ok"), 1L).otherwise(0L)) === count(lit(1))).as("all_decode_ok"),
        min(col("gh")).as("min_gh"),
        max(col("gh")).as("max_gh"),
        sum(col("sk")).as("sk_sum"))
      .orderBy(col("prefix"))
  }

  val q281Oracle: String = {
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    val inter = (0 until 20)
      .map(j =>
        s"(((lonr // ${1L << j}) % 2) * ${1L << (2 * j + 1)}) + " +
          s"(((latr // ${1L << j}) % 2) * ${1L << (2 * j)})")
      .mkString(" + ")
    val chars = (0 until 8)
      .map(k => s"substr('$alpha', CAST((z40 // ${1L << (35 - 5 * k)}) % 32 AS INT) + 1, 1)")
      .mkString(" || ")
    val zback = (0 until 8)
      .map(k => s"(strpos('$alpha', substr(gh, ${k + 1}, 1)) - 1) * ${1L << (35 - 5 * k)}")
      .mkString(" + ")
    val lonBack = (0 until 20)
      .map(j => s"((zb // ${1L << (2 * j + 1)}) % 2) * ${1L << j}")
      .mkString(" + ")
    val latBack = (0 until 20)
      .map(j => s"((zb // ${1L << (2 * j)}) % 2) * ${1L << j}")
      .mkString(" + ")
    s"""WITH st AS (
       |  SELECT s_suppkey AS sk,
       |    ((s_suppkey * 2654435761) % 120000000) - 60000000 AS lat,
       |    ((s_suppkey * 2246822519) % 360000000) - 180000000 AS lon
       |  FROM supplier),
       |ranks AS (
       |  SELECT sk,
       |    ((lon + 180000000) * 1048576) // 360000001 AS lonr,
       |    ((lat + 90000000) * 1048576) // 180000001 AS latr
       |  FROM st),
       |zed AS (SELECT sk, lonr, latr, $inter AS z40 FROM ranks),
       |gh8 AS (SELECT sk, lonr, latr, $chars AS gh FROM zed),
       |back AS (SELECT sk, lonr, latr, gh, $zback AS zb FROM gh8),
       |dec AS (
       |  SELECT sk, gh,
       |    ($lonBack) = lonr AND ($latBack) = latr AS decode_ok
       |  FROM back)
       |SELECT substr(gh, 1, 4) AS prefix,
       |  CAST(COUNT(*) AS BIGINT) AS n_stations,
       |  CAST(COUNT(DISTINCT gh) AS BIGINT) AS n_hashes,
       |  SUM(CASE WHEN decode_ok THEN 1 ELSE 0 END) = COUNT(*) AS all_decode_ok,
       |  MIN(gh) AS min_gh,
       |  MAX(gh) AS max_gh,
       |  CAST(SUM(sk) AS BIGINT) AS sk_sum
       |FROM dec
       |GROUP BY prefix
       |ORDER BY prefix""".stripMargin
  }
  query("q281_geohash", q281Geohash, Some(q281Oracle))

  // ---------------------------------------------------------------- q282
  /** MARKOV STATIONARY DISTRIBUTION of the event-type transition chain
    * — the PageRank-without-links view of user behavior (Kemeny–Snell
    * finite Markov chains): per-user event sequences give a transition
    * count matrix M (lag window, the q98 transitions shape), and the
    * stationary mass is approximated by six power-iteration rounds
    * v·P, all in EXACT SCALED-INTEGER arithmetic: v starts at 10^12/n
    * and each term contributes (v_i · M_ij) div rowsum_i — integer
    * multiply-then-floor-div, the q201 exact-integer discipline, so no
    * float ever enters and both engines replay bit-identically. The
    * heavy work is ONE shuffle (the lag window + pair count over all
    * events); the 6 iteration rounds run on the |event types|-row state
    * frame against the broadcast matrix — bounded model state, the
    * 100 TB shape (at scale M is tiny regardless of corpus size).
    */
  def q282MarkovStationary(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .where(col("prev").isNotNull)
      .groupBy(col("prev").as("i"), col("event_type").as("j"))
      .agg(count(lit(1)).as("cnt"))
    val rowsum = trans.groupBy(col("i")).agg(sum(col("cnt")).as("rs"))
    val m = broadcast(trans.join(rowsum, Seq("i")))
    val states = ev.select(col("event_type").as("i")).distinct()
    val nStates = states.agg(count(lit(1)).as("n"))
    var v = states
      .crossJoin(broadcast(nStates))
      .select(col("i"), expr("1000000000000 div n").as("v"))
    for (_ <- 1 to 6) {
      v = v
        .join(m, Seq("i"))
        // first factor staged to decimal(38,0) (the q170 widening
        // discipline): v sits on the 10^12 grid, so v*cnt wraps int64
        // once a transition cell exceeds ~9.2M counts — Spark (non-ANSI)
        // wraps silently while DuckDB raises on bigint overflow. The
        // div quotient is ≤ v, so the result stays a clean long.
        .select(col("j"), expr("(cast(v as decimal(38,0)) * cnt) div rs").as("contrib"))
        .groupBy(col("j"))
        .agg(sum(col("contrib")).as("v"))
        .withColumnRenamed("j", "i")
    }
    val emp = trans.groupBy(col("j")).agg(sum(col("cnt")).as("n_in")).withColumnRenamed("j", "i")
    v.join(rowsum, Seq("i"))
      .join(emp, Seq("i"))
      .select(
        col("i").as("event_type"),
        col("v").as("pi_scaled"),
        col("rs").as("n_out"),
        col("n_in"))
      .orderBy(col("event_type"))
  }

  val q282Oracle: String = {
    val iters = (1 to 6)
      .map { t =>
        s"""v$t AS (
           |  SELECT m.j AS i, CAST(SUM((CAST(v${t - 1}.v AS HUGEINT) * m.cnt) // rs.rs) AS BIGINT) AS v
           |  FROM v${t - 1} JOIN m ON m.i = v${t - 1}.i JOIN rs ON rs.i = v${t - 1}.i
           |  GROUP BY m.j)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH seq AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |m AS (
       |  SELECT prev AS i, event_type AS j, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
       |rs AS (SELECT i, CAST(SUM(cnt) AS BIGINT) AS rs FROM m GROUP BY i),
       |states AS (SELECT DISTINCT event_type AS i FROM events),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM states),
       |v0 AS (SELECT i, 1000000000000 // n.n AS v FROM states, n),
       |$iters,
       |emp AS (SELECT j AS i, CAST(SUM(cnt) AS BIGINT) AS n_in FROM m GROUP BY j)
       |SELECT v6.i AS event_type, v6.v AS pi_scaled, rs.rs AS n_out, emp.n_in
       |FROM v6 JOIN rs ON rs.i = v6.i JOIN emp ON emp.i = v6.i
       |ORDER BY event_type""".stripMargin
  }
  query("q282_markov_stationary", q282MarkovStationary, Some(q282Oracle))

  // ---------------------------------------------------------------- q283
  /** BORŮVKA MINIMUM SPANNING FOREST (ops/Boruvka — per-component
    * min-incident-edge rounds + large-star/small-star contraction, the
    * O(log n)-round parallel MST) over the undirected block graph with
    * md5-derived 48-bit edge weights. Selection minimizes the TOTAL
    * ORDER (w, src, dst), so the forest is the unique
    * lexicographic-Kruskal MSF — and the oracle is GROUND TRUTH, not a
    * replay: the cut/cycle property says an edge is in that MSF iff
    * its endpoints are NOT connected by strictly-smaller edges, which
    * the oracle checks per edge with a recursive closure over the
    * lighter-edge subgraph (the q277 ground-truth posture). Rolled up
    * per 30-block bucket with the forest law |E| = |V| − |components|
    * pinned as a column.
    */
  private[graft] def weightedBlockGraph(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.customer(s, dir).select(col("c_custkey").as("k"))
    keys
      .withColumn("d", explode(array(lit(1L), lit(2L))))
      .withColumn("v", col("k") + col("d"))
      .where(expr("(k div 10) = (v div 10)"))
      .join(keys.withColumnRenamed("k", "v"), Seq("v"), "left_semi")
      .select(col("k").as("src"), col("v").as("dst"))
      .withColumn(
        "w",
        expr("CAST(conv(substr(md5(concat(CAST(src AS STRING), '-', CAST(dst AS STRING))), 1, 12), 16, 10) AS BIGINT)"))
  }

  private[graft] def WeightedBlockGraphSql: String =
    """SELECT cand.k AS src, cand.v AS dst,
      |  CAST(('0x' || substr(md5(cand.k || '-' || cand.v), 1, 12)) AS BIGINT) AS w
      |FROM (SELECT k.c_custkey AS k, k.c_custkey + d.d AS v
      |      FROM customer k, (SELECT unnest([1, 2]) AS d) d
      |      WHERE (k.c_custkey // 10) = ((k.c_custkey + d.d) // 10)) cand
      |JOIN customer k2 ON k2.c_custkey = cand.v""".stripMargin

  def q283BoruvkaMsf(s: SparkSession, dir: String): DataFrame = {
    // r15: the block graph's edges NEVER cross (k div 10) blocks — the
    // WHERE clause above constructs them that way — so the MSF is the
    // union of per-block MSFs (no cut between blocks is ever crossed)
    // and the locality-aware path computes the identical
    // lexicographic-Kruskal forest in one group-keyed shuffle instead
    // of 4 Borůvka rounds (110 Spark jobs → 5; BoruvkaLocalSpec +
    // oracle pin the equality)
    val msf = graft.ops.Boruvka
      .forestWithLabelsLocalGroups(weightedBlockGraph(s, dir), expr("src div 10"))
      ._1
    val keys = Tables.customer(s, dir).select(col("c_custkey").as("k"))
    val nodeRoll = keys
      .groupBy(expr("(k div 10) div 30").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"), countDistinct(expr("k div 10")).as("n_blocks"))
    val edgeRoll = msf
      .groupBy(expr("(src div 10) div 30").as("bucket"))
      .agg(count(lit(1)).as("n_edges"), sum(col("w")).as("w_sum"))
    nodeRoll
      .join(edgeRoll, Seq("bucket"), "left")
      .select(
        col("bucket"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("w_sum"), lit(0L)).as("w_sum"),
        col("n_blocks"),
        col("n_nodes"),
        (coalesce(col("n_edges"), lit(0L)) === col("n_nodes") - col("n_blocks")).as("tree_ok"))
      .orderBy(col("bucket"))
  }

  val q283Oracle: String =
    s"""WITH RECURSIVE e AS (
       |$WeightedBlockGraphSql
       |), eid AS (
       |  SELECT row_number() OVER (ORDER BY w, src, dst) AS rk, src, dst, w FROM e
       |), reach(rk, node) AS (
       |  SELECT rk, src FROM eid
       |  UNION
       |  SELECT r.rk, CASE WHEN f.src = r.node THEN f.dst ELSE f.src END
       |  FROM reach r JOIN eid f
       |    ON f.rk < r.rk AND (f.src = r.node OR f.dst = r.node)
       |), msf AS (
       |  SELECT ed.src, ed.dst, ed.w FROM eid ed
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM reach r WHERE r.rk = ed.rk AND r.node = ed.dst)
       |), noderoll AS (
       |  SELECT (c_custkey // 10) // 30 AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(COUNT(DISTINCT c_custkey // 10) AS BIGINT) AS n_blocks
       |  FROM customer GROUP BY 1
       |), edgeroll AS (
       |  SELECT (src // 10) // 30 AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_edges,
       |    CAST(SUM(w) AS BIGINT) AS w_sum
       |  FROM msf GROUP BY 1)
       |SELECT n.bucket,
       |  COALESCE(e2.n_edges, 0) AS n_edges,
       |  COALESCE(e2.w_sum, 0) AS w_sum,
       |  n.n_blocks, n.n_nodes,
       |  COALESCE(e2.n_edges, 0) = n.n_nodes - n.n_blocks AS tree_ok
       |FROM noderoll n LEFT JOIN edgeroll e2 ON e2.bucket = n.bucket
       |ORDER BY n.bucket""".stripMargin
  query("q283_boruvka_msf", q283BoruvkaMsf, Some(q283Oracle))

  // ---------------------------------------------------------------- q284
  /** TEMPORAL (TIME-RESPECTING) REACHABILITY (ops/Temporal —
    * earliest-arrival relaxation under strictly-increasing edge times,
    * Holme–Saramäki semantics) on the directed block graph with
    * deterministic edge times t = (7·src + 13·dst) mod 12, seeded at
    * the min node of every 4th block. Static reachability would flood
    * each seeded block; the temporal constraint prunes paths whose
    * next edge fires too early, so reached-counts measure genuine
    * time-respecting influence. The oracle is GROUND TRUTH: a
    * recursive (node, time) closure — every temporally-valid arrival —
    * min-folded per node, proving the 12-round DP fixpoint exact on
    * this graph (path length ≤ |time domain| because times strictly
    * increase). Seeds carry arrival −1 by contract and are counted in
    * arrival_sum as such.
    */
  def q284TemporalReach(s: SparkSession, dir: String): DataFrame = {
    val e = directedBlockGraph(s, dir)
      .withColumn("t", expr("(src * 7 + dst * 13) % 12"))
    val seeds = Tables
      .customer(s, dir)
      .groupBy(expr("c_custkey div 10").as("blk"))
      .agg(min(col("c_custkey")).as("node"))
      .where(col("blk") % 4 === 0)
      .select(col("node"))
    val arr = graft.ops.Temporal.earliestArrival(e, seeds, rounds = 12)
    Tables
      .customer(s, dir)
      .select(col("c_custkey").as("node"))
      .join(arr, Seq("node"), "left")
      .groupBy(expr("node div 500").as("bucket"))
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(when(col("arrival").isNotNull, 1L).otherwise(0L)).as("n_reached"),
        coalesce(sum(col("arrival")), lit(0L)).as("arrival_sum"),
        coalesce(max(col("arrival")), lit(-99L)).as("max_arrival"))
      .orderBy(col("bucket"))
  }

  val q284Oracle: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT src, dst, (src * 7 + dst * 13) % 12 AS t FROM (
       |$DirectedBlockGraphSql
       |  )
       |), seeds AS (
       |  SELECT MIN(c_custkey) AS node FROM customer
       |  GROUP BY c_custkey // 10 HAVING (c_custkey // 10) % 4 = 0
       |), reach(node, at_t) AS (
       |  SELECT node, CAST(-1 AS BIGINT) FROM seeds
       |  UNION
       |  SELECT e.dst, CAST(e.t AS BIGINT) FROM reach r
       |  JOIN e ON e.src = r.node AND e.t > r.at_t
       |), arr AS (
       |  SELECT node, MIN(at_t) AS arrival FROM reach GROUP BY node)
       |SELECT c.c_custkey // 500 AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(CASE WHEN a.arrival IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reached,
       |  CAST(COALESCE(SUM(a.arrival), 0) AS BIGINT) AS arrival_sum,
       |  CAST(COALESCE(MAX(a.arrival), -99) AS BIGINT) AS max_arrival
       |FROM customer c LEFT JOIN arr a ON a.node = c.c_custkey
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  query("q284_temporal_reach", q284TemporalReach, Some(q284Oracle))

  // ---------------------------------------------------------------- q285
  /** DETERMINISTIC RANDOM-WALK CORPUS (ops/Walks — the DeepWalk/
    * node2vec input generator with md5-replayable choices): 8-step
    * walks from every even block's min node over the directed block
    * graph, each step taking the out-neighbor minimizing
    * md5(node:step:dst) — pseudo-random transition, bit-identical
    * replay (the q221 seeded-sampling posture). The argmin is encoded
    * as min(md5 ‖ zero-padded dst) so Spark's aggregate and the SQL
    * replay share ONE string total order. Visit statistics rolled up
    * per 500-key bucket: corpus size, walk endpoints, distinct nodes
    * touched, distinct walkers through the bucket.
    */
  def q285RandomWalks(s: SparkSession, dir: String): DataFrame = {
    val starts = Tables
      .customer(s, dir)
      .groupBy(expr("c_custkey div 10").as("blk"))
      .agg(min(col("c_custkey")).as("node"))
      .where(col("blk") % 2 === 0)
      .select(col("node"))
    val corpus =
      graft.ops.Walks.deterministicWalks(directedBlockGraph(s, dir), starts, steps = 8)
    corpus
      .groupBy(expr("node div 500").as("bucket"))
      .agg(
        count(lit(1)).as("n_visits"),
        sum(when(col("step") === 8, 1L).otherwise(0L)).as("n_ends"),
        countDistinct(col("node")).as("n_distinct_nodes"),
        countDistinct(col("walker")).as("n_walkers"))
      .orderBy(col("bucket"))
  }

  val q285Oracle: String = {
    val steps = (1 to 8)
      .map { t =>
        s"""w$t AS (
           |  SELECT w.walker, COALESCE(c.nxt, w.node) AS node
           |  FROM w${t - 1} w LEFT JOIN (
           |    SELECT w2.walker,
           |      CAST(substr(MIN(md5(w2.node || ':' || $t || ':' || e.dst) ||
           |        lpad(CAST(e.dst AS VARCHAR), 14, '0')), 33, 14) AS BIGINT) AS nxt
           |    FROM w${t - 1} w2 JOIN e ON e.src = w2.node
           |    GROUP BY w2.walker) c ON c.walker = w.walker)""".stripMargin
      }
      .mkString(",\n")
    val corpus = (0 to 8)
      .map(t => s"SELECT walker, $t AS step, node FROM w$t")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |$DirectedBlockGraphSql
       |), starts AS (
       |  SELECT MIN(c_custkey) AS node FROM customer
       |  GROUP BY c_custkey // 10 HAVING (c_custkey // 10) % 2 = 0
       |), w0 AS (SELECT node AS walker, node FROM starts),
       |$steps,
       |corpus AS (
       |  $corpus)
       |SELECT node // 500 AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_visits,
       |  CAST(SUM(CASE WHEN step = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends,
       |  CAST(COUNT(DISTINCT node) AS BIGINT) AS n_distinct_nodes,
       |  CAST(COUNT(DISTINCT walker) AS BIGINT) AS n_walkers
       |FROM corpus
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }
  query("q285_random_walks", q285RandomWalks, Some(q285Oracle))

  // ---------------------------------------------------------------- q286
  /** CONTENT-DEFINED CHUNKING + CHUNK-LEVEL DEDUP (ops/Cdc — the
    * LBFS/rsync boundary rule: a chunk closes after position p iff
    * md5 of the 8-char window ending at p hash-selects mod 32).
    * Insertion-stable boundaries make REGION-level duplication visible
    * across documents — the dedup granularity between whole-doc
    * fingerprints (q23) and shingle spans (q80). Per-source rollup:
    * chunk counts, distinct chunk identities, duplicated-chunk ppm,
    * and the exact-cover law Σ chunk_len = Σ length(text) pinned as a
    * column (every byte in exactly one chunk). Position explode is
    * map-side; the only shuffle is the per-doc boundary window — keyed
    * by doc, never global.
    */
  def q286CdcChunking(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // spread: the per-position rolling-hash map, the whole cost, ran on one scan partition (r15)
    val ch = graft.ops.Cdc.chunks(
      Place.spread(docs, col("doc_id")),
      "doc_id", "text", w = 8, modulus = 32)
    val bySrc = ch
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_hash")).as("n_distinct"),
        sum(col("chunk_len")).as("len_sum"),
        max(col("chunk_len")).as("max_len"),
        countDistinct(col("doc_id")).as("n_docs"))
    val txt = docs.groupBy(col("source")).agg(sum(length(col("text"))).as("text_len"))
    bySrc
      .join(txt, Seq("source"))
      .withColumn("dup_ppm", expr("((n_chunks - n_distinct) * 1000000) div n_chunks"))
      .withColumn("len_ok", col("len_sum") === col("text_len"))
      .orderBy(col("source"))
  }

  val q286Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 1),
      |pos AS (SELECT doc_id, unnest(generate_series(8, n)) AS p FROM d),
      |b AS (
      |  SELECT pos.doc_id, pos.p FROM pos JOIN d USING (doc_id)
      |  WHERE CAST(('0x' || substr(md5(substr(d.text, pos.p - 7, 8)), 1, 8)) AS BIGINT) % 32 = 0),
      |wt AS (SELECT doc_id, p FROM b UNION SELECT doc_id, n FROM d),
      |sp AS (
      |  SELECT doc_id, p,
      |    COALESCE(lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 1, 1) AS start
      |  FROM wt),
      |ch AS (
      |  SELECT sp.doc_id, sp.start, sp.p - sp.start + 1 AS chunk_len,
      |    md5(substr(d.text, sp.start, sp.p - sp.start + 1)) AS chunk_hash
      |  FROM sp JOIN d USING (doc_id)),
      |roll AS (
      |  SELECT doc.source,
      |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |    CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS n_distinct,
      |    CAST(SUM(chunk_len) AS BIGINT) AS len_sum,
      |    CAST(MAX(chunk_len) AS BIGINT) AS max_len,
      |    CAST(COUNT(DISTINCT ch.doc_id) AS BIGINT) AS n_docs
      |  FROM ch JOIN documents doc USING (doc_id) GROUP BY 1),
      |txt AS (
      |  SELECT source, CAST(SUM(length(text)) AS BIGINT) AS text_len
      |  FROM documents GROUP BY 1)
      |SELECT roll.source, n_chunks, n_distinct, len_sum, max_len, n_docs, text_len,
      |  ((n_chunks - n_distinct) * 1000000) // n_chunks AS dup_ppm,
      |  len_sum = text_len AS len_ok
      |FROM roll JOIN txt USING (source)
      |ORDER BY roll.source""".stripMargin
  query("q286_cdc_chunking", q286CdcChunking, Some(q286Oracle))

  // ---------------------------------------------------------------- q287
  /** POINT-IN-POLYGON via ray casting (the even–odd crossing rule,
    * Shimrat CACM'62 / Franklin's PNPOLY) in EXACT INTEGER arithmetic:
    * the half-open edge gate (y1 > py) ≠ (y2 > py) plus the
    * cross-multiplied intersection test (px−x1)(y2−y1) ⋚ (py−y1)(x2−x1)
    * — division-free, so both engines evaluate the identical int64
    * predicate and parity is bit-stable (the q201 exact-geometry
    * discipline, extended from radius circles to arbitrary, including
    * CONCAVE, polygons — the geofencing primitive a spatial pipeline
    * needs beyond distance joins). Points are md5-free deterministic
    * customer projections; the 12-row edge table is broadcast, so the
    * plan is one map-side fan-out (|points|·|edges| rows, edges
    * constant) + one (point, polygon) parity aggregate — no shuffle
    * grows with polygon count, the 100 TB shape for a fixed fence set.
    */
  private[graft] val PolygonEdges: Seq[(Long, Long, Long, Long, Long)] = {
    val polys = Seq(
      1L -> Seq((100L, 100L), (800L, 150L), (400L, 700L)),
      2L -> Seq((200L, 200L), (900L, 250L), (500L, 500L), (850L, 800L), (150L, 750L)),
      3L -> Seq((50L, 400L), (950L, 420L), (930L, 900L), (60L, 880L))
    )
    polys.flatMap { case (pid, vs) =>
      vs.indices.map { i =>
        val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.size)
        (pid, x1, y1, x2, y2)
      }
    }
  }

  /** The shared crossing predicate — one SQL text evaluated verbatim by
    * both engines over columns (px, py, x1, y1, x2, y2). */
  private[graft] val CrossingSql: String =
    """CASE WHEN (y1 > py) <> (y2 > py) THEN
      |  CASE WHEN y2 > y1
      |    THEN (CASE WHEN (px - x1) * (y2 - y1) < (py - y1) * (x2 - x1) THEN 1 ELSE 0 END)
      |    ELSE (CASE WHEN (px - x1) * (y2 - y1) > (py - y1) * (x2 - x1) THEN 1 ELSE 0 END)
      |  END
      |ELSE 0 END""".stripMargin

  def q287PointInPolygon(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = PolygonEdges.toDF("poly_id", "x1", "y1", "x2", "y2")
    val pts = Tables
      .customer(s, dir)
      .select(
        col("c_custkey").as("k"),
        expr("(c_custkey * 37) % 1000").as("px"),
        expr("(c_custkey * 73) % 1000").as("py"))
    val parity = pts
      .crossJoin(broadcast(edges))
      .withColumn("cr", expr(CrossingSql))
      .groupBy(col("poly_id"), col("k"))
      .agg(sum(col("cr")).as("crossings"))
      .withColumn("inside", col("crossings") % 2 === 1)
    parity
      .groupBy(col("poly_id"))
      .agg(
        count(lit(1)).as("n_points"),
        sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"),
        sum(when(col("inside"), col("k")).otherwise(0L)).as("inside_idsum"))
      .withColumn("inside_ppm", expr("(n_inside * 1000000) div n_points"))
      .orderBy(col("poly_id"))
  }

  val q287Oracle: String = {
    val edgeRows = PolygonEdges
      .map { case (pid, x1, y1, x2, y2) => s"($pid, $x1, $y1, $x2, $y2)" }
      .mkString(",\n    ")
    s"""WITH edges(poly_id, x1, y1, x2, y2) AS (VALUES
       |    $edgeRows),
       |pts AS (
       |  SELECT c_custkey AS k, (c_custkey * 37) % 1000 AS px,
       |         (c_custkey * 73) % 1000 AS py
       |  FROM customer),
       |parity AS (
       |  SELECT poly_id, k, SUM(
       |$CrossingSql
       |  ) AS crossings
       |  FROM pts CROSS JOIN edges
       |  GROUP BY 1, 2)
       |SELECT CAST(poly_id AS BIGINT) AS poly_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_points,
       |  CAST(SUM(CASE WHEN crossings % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       |  CAST(SUM(CASE WHEN crossings % 2 = 1 THEN k ELSE 0 END) AS BIGINT) AS inside_idsum,
       |  (CAST(SUM(CASE WHEN crossings % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |    // CAST(COUNT(*) AS BIGINT) AS inside_ppm
       |FROM parity
       |GROUP BY poly_id
       |ORDER BY poly_id""".stripMargin
  }
  query("q287_point_in_polygon", q287PointInPolygon, Some(q287Oracle))

  // ---------------------------------------------------------------- q288
  /** RESOURCE-ALLOCATION LINK PREDICTION (Zhou–Lü–Zhang EPJ B 2009 —
    * the exact-rational sibling of Adamic–Adar: common-neighbor score
    * Σ 1/deg(z) instead of Σ 1/log deg(z), chosen because 1/deg is
    * replayable as scaled-integer division while log is transcendental)
    * over the bipartite customer–part graph (parts scale WITH the
    * corpus — per-part degree stays ~30 at every SF, unlike suppliers
    * whose fixed small count makes every posting a hub). Candidate
    * pairs are generated by the INVERTED POSTINGS self-join keyed on
    * the shared part — never |C|², and the q112 df-cap discipline
    * bounds the hot posting: parts with more than 30 distinct buyers
    * are excluded from SCORING (a hub shared by everyone carries ~zero
    * link-prediction signal anyway — the TF-IDF argument in graph
    * form), making candidate volume Σ min(deg,30)² ≤ 30·|E|, linear in
    * edges. One shuffle on the part key, one on the pair key;
    * top-50 by the (score, pair) total order via TakeOrderedAndProject.
    */
  def q288LinkPrediction(s: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey").as("p")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("c"), col("p"))
      .distinct()
    val deg = e.groupBy(col("p")).agg(count(lit(1)).as("deg"))
    val small = e.join(deg.where(col("deg") <= 30), Seq("p"))
    small
      .select(col("p"), col("c").as("ca"), col("deg"))
      .join(small.select(col("p"), col("c").as("cb")), Seq("p"))
      .where(col("ca") < col("cb"))
      .groupBy(col("ca"), col("cb"))
      .agg(
        count(lit(1)).as("n_common"),
        sum(expr("1000000000000 div deg")).as("ra_score"))
      .orderBy(col("ra_score").desc, col("ca"), col("cb"))
      .limit(50)
  }

  val q288Oracle: String =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY p),
      |small AS (SELECT e.c, e.p, deg.deg FROM e JOIN deg USING (p) WHERE deg.deg <= 30)
      |SELECT a.c AS ca, b.c AS cb,
      |  CAST(COUNT(*) AS BIGINT) AS n_common,
      |  CAST(SUM(1000000000000 // a.deg) AS BIGINT) AS ra_score
      |FROM small a JOIN small b ON a.p = b.p AND a.c < b.c
      |GROUP BY 1, 2
      |ORDER BY ra_score DESC, ca, cb
      |LIMIT 50""".stripMargin
  query("q288_link_prediction", q288LinkPrediction, Some(q288Oracle))

  // ---------------------------------------------------------------- q289
  /** PERSONALIZED PAGERANK with restart (Jeh–Widom WWW'03 — random
    * walk that teleports back to the SEED set, the node-proximity
    * measure behind recommendation candidate generation and Pregel-PPR)
    * on the directed block graph, in exact scaled-integer arithmetic:
    * seed mass 10^12, per-round share = v div outdeg at the edge,
    * damped inflow = (Σ shares · 85) div 100, teleport re-adds
    * 0.15·10^12 at each seed — every operation integer
    * multiply-then-floor-div, so six rounds replay bit-identically in
    * the unrolled-CTE oracle (q282's discipline, plus teleport and
    * direction). Dangling-node mass leaks by design (strictly-damped
    * PPR); what remains after 6 rounds measures genuine seed proximity.
    * Per round: one src-equi join + one dst-keyed aggregate, lineage
    * cut per round; the rollup buckets mass per 500-key range.
    */
  def q289Ppr(s: SparkSession, dir: String): DataFrame = {
    // r15: cut the loop-invariant frames ONCE — uncut, every one of the
    // 6 rounds re-executed the edge derivation, the degree aggregate and
    // the seed aggregate AND re-entered analysis over their whole plans
    // (the Temporal/Scc finding)
    val e = graft.ops.Checkpoints.cut(directedBlockGraph(s, dir))
    val od = graft.ops.Checkpoints.cut(
      e.groupBy(col("src")).agg(count(lit(1)).as("od")))
    val seeds = graft.ops.Checkpoints.cut(
      Tables
        .customer(s, dir)
        .groupBy(expr("c_custkey div 10").as("blk"))
        .agg(min(col("c_custkey")).as("node"))
        .where(col("blk") % 5 === 0)
        .select(col("node")))
    var v = seeds.withColumn("v", lit(1000000000000L))
    for (_ <- 1 to 6) {
      val inflow = e
        .join(v.withColumnRenamed("node", "src"), Seq("src"))
        .join(od, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("v div od")).as("inflow"))
      v = graft.ops.Checkpoints.cut(
        inflow
          // decimal(38,0)-staged first factor (q170 discipline): inflow
          // carries 10^12-grid mass, so ×85 wraps int64 once a node's
          // inflow exceeds ~1.1e17 — silent on Spark, a raise on DuckDB
          .select(col("node"), expr("(cast(inflow as decimal(38,0)) * 85) div 100").as("va"))
          .unionByName(seeds.select(col("node"), lit(150000000000L).as("va")))
          .groupBy(col("node"))
          .agg(sum(col("va")).as("v")))
    }
    v.groupBy(expr("node div 500").as("bucket"))
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(col("v")).as("v_sum"),
        max(col("v")).as("v_max"))
      .orderBy(col("bucket"))
  }

  val q289Oracle: String = {
    val rounds = (1 to 6)
      .map { t =>
        s"""v$t AS MATERIALIZED (
           |  SELECT node, CAST(SUM(va) AS BIGINT) AS v FROM (
           |    SELECT inflow.node, (CAST(inflow.infl AS HUGEINT) * 85) // 100 AS va FROM (
           |      SELECT e.dst AS node, CAST(SUM(v${t - 1}.v // od.od) AS BIGINT) AS infl
           |      FROM v${t - 1}
           |      JOIN e ON e.src = v${t - 1}.node
           |      JOIN od ON od.src = v${t - 1}.node
           |      GROUP BY e.dst) inflow
           |    UNION ALL
           |    SELECT node, CAST(150000000000 AS BIGINT) AS va FROM seeds)
           |  GROUP BY node)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |$DirectedBlockGraphSql
       |), od AS MATERIALIZED (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY src),
       |seeds AS MATERIALIZED (
       |  SELECT MIN(c_custkey) AS node FROM customer
       |  GROUP BY c_custkey // 10 HAVING (c_custkey // 10) % 5 = 0),
       |v0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS v FROM seeds),
       |$rounds
       |SELECT node // 500 AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(v) AS BIGINT) AS v_sum,
       |  CAST(MAX(v) AS BIGINT) AS v_max
       |FROM v6
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }
  query("q289_ppr", q289Ppr, Some(q289Oracle))

  // ---------------------------------------------------------------- q290
  /** LARGEST-REMAINDER (Hamilton) STRATIFIED ALLOCATION — split a fixed
    * sample budget N across strata proportional to population, the
    * apportionment rule a training-data pipeline uses to draw a
    * source-balanced subsample with an EXACT total (naive rounding
    * misses N by up to |strata|/2). base = ⌊N·cnt/total⌋ leaves
    * N − Σbase seats; the strata with the largest division REMAINDERS
    * (ties broken by the stratum key — fully deterministic) each get
    * one. Two laws are pinned as columns: Σ alloc = N exactly, and the
    * quota property |alloc·total − N·cnt| < total (each stratum within
    * one seat of its exact share — cross-multiplied, division-free).
    * The stratum frame is ≤ |nations|·|segments| rows regardless of
    * corpus size — bounded model state, so the global windows here are
    * the 100 TB plan too.
    */
  def q290Allocation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = 10000L
    val strata = Tables
      .customer(s, dir)
      .groupBy(col("c_nationkey").cast("long").as("nation"), col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("cnt"))
    val all = Window.partitionBy(lit(0))
    val byRem = Window
      .partitionBy(lit(0))
      .orderBy(col("rem").desc, col("nation"), col("segment"))
    strata
      .withColumn("total", sum(col("cnt")).over(all))
      .withColumn("base", expr(s"($n * cnt) div total"))
      .withColumn("rem", expr(s"($n * cnt) % total"))
      .withColumn("extra", lit(n) - sum(col("base")).over(all))
      .withColumn("rk", row_number().over(byRem))
      .withColumn("alloc", col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
      .withColumn("sum_ok", sum(col("alloc")).over(all) === n)
      .withColumn("quota_ok", abs(col("alloc") * col("total") - lit(n) * col("cnt")) < col("total"))
      .select(
        col("nation"), col("segment"), col("cnt"), col("base"), col("rem"),
        col("alloc"), col("sum_ok"), col("quota_ok"))
      .orderBy(col("nation"), col("segment"))
  }

  val q290Oracle: String =
    """WITH strata AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM customer GROUP BY 1, 2),
      |w AS (
      |  SELECT nation, segment, cnt,
      |    CAST(SUM(cnt) OVER () AS BIGINT) AS total,
      |    CAST((10000 * cnt) // CAST(SUM(cnt) OVER () AS BIGINT) AS BIGINT) AS base,
      |    CAST((10000 * cnt) % CAST(SUM(cnt) OVER () AS BIGINT) AS BIGINT) AS rem
      |  FROM strata),
      |r AS (
      |  SELECT *,
      |    CAST(10000 - SUM(base) OVER () AS BIGINT) AS extra,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, nation, segment) AS rk
      |  FROM w),
      |a AS (
      |  SELECT nation, segment, cnt, total, base, rem,
      |    CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |  FROM r)
      |SELECT nation, segment, cnt, base, rem, alloc,
      |  CAST(SUM(alloc) OVER () AS BIGINT) = 10000 AS sum_ok,
      |  ABS(alloc * total - 10000 * cnt) < total AS quota_ok
      |FROM a
      |ORDER BY nation, segment""".stripMargin
  query("q290_allocation", q290Allocation, Some(q290Oracle))

  // ---------------------------------------------------------------- q291
  /** DECISION-STUMP TRAINING (the 1R / single-split learner — Holte
    * ML'93 measured it within a few points of full trees; also the weak
    * learner inside AdaBoost): per order-status group, learn the best
    * single threshold on the price axis for predicting URGENT priority.
    * The search is EXHAUSTIVE yet one-pass: bucket the feature
    * (⌊price/1000⌋ — floor() then cast, never the q212 double→int cast
    * trap), build the per-(group, bucket) class histogram, and the
    * ordered prefix sums give BOTH direction rules' error counts at
    * every threshold simultaneously — err≤(t) = FP + FN =
    * negCum(t) + (posTot − posCum(t)), err>(t) its mirror. The argmin
    * over (err, dir, t) is a min-struct fold, deterministic under ties.
    * Histogram size is bounded by the price domain (~600 buckets per
    * group) regardless of row count — the per-group window is bounded
    * model state, the 100 TB shape; the corpus-sized work is ONE
    * scan + one hash aggregate. The oracle RE-TRAINS the stump from
    * scratch (q128's re-train posture, not literal replay).
    */
  def q291DecisionStump(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables
      .orders(s, dir)
      .select(
        col("o_orderstatus").as("status"),
        expr("CAST(floor(o_totalprice / 1000) AS BIGINT)").as("bucket"),
        when(col("o_orderpriority").startsWith("1"), 1L).otherwise(0L).as("pos"))
    val hist = o
      .groupBy(col("status"), col("bucket"))
      .agg(sum(col("pos")).as("pos_cnt"), sum(lit(1L) - col("pos")).as("neg_cnt"))
    val byBucket = Window
      .partitionBy(col("status"))
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("status"))
    val scored = hist
      .withColumn("pos_cum", sum(col("pos_cnt")).over(byBucket))
      .withColumn("neg_cum", sum(col("neg_cnt")).over(byBucket))
      .withColumn("pos_tot", sum(col("pos_cnt")).over(tot))
      .withColumn("neg_tot", sum(col("neg_cnt")).over(tot))
      .withColumn("err_le", col("neg_cum") + col("pos_tot") - col("pos_cum"))
      .withColumn("err_gt", col("pos_cum") + col("neg_tot") - col("neg_cum"))
    val cand = scored
      .select(col("status"), (col("pos_tot") + col("neg_tot")).as("n_total"),
        struct(col("err_le").as("err"), lit(0L).as("dir"), col("bucket")).as("c"))
      .unionByName(scored.select(
        col("status"), (col("pos_tot") + col("neg_tot")).as("n_total"),
        struct(col("err_gt").as("err"), lit(1L).as("dir"), col("bucket")).as("c")))
    cand
      .groupBy(col("status"))
      .agg(max(col("n_total")).as("n_total"), min(col("c")).as("best"))
      .select(
        col("status"),
        col("n_total"),
        col("best.err").as("best_err"),
        col("best.dir").as("best_dir"),
        col("best.bucket").as("best_threshold"))
      .withColumn("acc_ppm", expr("((n_total - best_err) * 1000000) div n_total"))
      .orderBy(col("status"))
  }

  val q291Oracle: String =
    """WITH o AS (
      |  SELECT o_orderstatus AS status,
      |    CAST(floor(o_totalprice / 1000) AS BIGINT) AS bucket,
      |    CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS pos
      |  FROM orders),
      |hist AS (
      |  SELECT status, bucket,
      |    CAST(SUM(pos) AS BIGINT) AS pos_cnt,
      |    CAST(SUM(1 - pos) AS BIGINT) AS neg_cnt
      |  FROM o GROUP BY 1, 2),
      |scored AS (
      |  SELECT status, bucket,
      |    SUM(pos_cnt) OVER (PARTITION BY status ORDER BY bucket
      |      ROWS UNBOUNDED PRECEDING) AS pos_cum,
      |    SUM(neg_cnt) OVER (PARTITION BY status ORDER BY bucket
      |      ROWS UNBOUNDED PRECEDING) AS neg_cum,
      |    SUM(pos_cnt) OVER (PARTITION BY status) AS pos_tot,
      |    SUM(neg_cnt) OVER (PARTITION BY status) AS neg_tot
      |  FROM hist),
      |cand AS (
      |  SELECT status, pos_tot + neg_tot AS n_total,
      |    neg_cum + pos_tot - pos_cum AS err, 0 AS dir, bucket FROM scored
      |  UNION ALL
      |  SELECT status, pos_tot + neg_tot AS n_total,
      |    pos_cum + neg_tot - neg_cum AS err, 1 AS dir, bucket FROM scored),
      |best AS (
      |  SELECT status, n_total, err, dir, bucket,
      |    ROW_NUMBER() OVER (PARTITION BY status ORDER BY err, dir, bucket) AS rk
      |  FROM cand)
      |SELECT status, CAST(n_total AS BIGINT) AS n_total,
      |  CAST(err AS BIGINT) AS best_err,
      |  CAST(dir AS BIGINT) AS best_dir,
      |  CAST(bucket AS BIGINT) AS best_threshold,
      |  CAST(((n_total - err) * 1000000) // n_total AS BIGINT) AS acc_ppm
      |FROM best WHERE rk = 1
      |ORDER BY status""".stripMargin
  query("q291_decision_stump", q291DecisionStump, Some(q291Oracle))

  // ---------------------------------------------------------------- q292
  /** SINGLE-LINK CLUSTERING VIA THE MINIMUM SPANNING FOREST — the
    * dendrogram identity behind SLINK/HAC: cutting the MSF at threshold
    * τ yields EXACTLY the connected components of the τ-thresholded
    * graph (an MSF edge < τ connects them; any non-MSF edge < τ closes
    * a cycle whose MSF path is all < that edge). At 100 TB this is the
    * whole point of [[graft.ops.Boruvka]]: cluster at ANY τ from the
    * n−1-edge forest instead of re-closing the full edge set per
    * threshold. One [[graft.ops.Boruvka.forestWithLabels]] pass over
    * the tau-thresholded edges yields the thresholded MSF AND its
    * cluster labels together (by the cut property that forest is
    * exactly the full-graph MSF's < tau edge subset - the dendrogram
    * cut); the forest law |edges| = |clustered nodes| - |clusters| is
    * pinned per bucket, and the ORACLE is ground truth - it recomputes
    * the tau-thresholded closure recursively and must agree on every
    * per-bucket label sum (the q283 posture: the law checks the
    * algorithm, never replays it).
    */
  def q292SingleLink(s: SparkSession, dir: String): DataFrame = {
    val tau = 140737488355328L // 2^47: ~half of the 48-bit weight space
    val g = weightedBlockGraph(s, dir).where(col("w") < tau)
    // r15: block-local edges (see q283) — per-block Kruskal fold yields
    // the identical thresholded MSF and min-id cluster labels in one
    // group-keyed shuffle instead of 4 Borůvka rounds
    val (msf, lab) = graft.ops.Boruvka
      .forestWithLabelsLocalGroups(g, expr("src div 10"))
    val viaMsf = lab.select(col("node"), col("comp").as("cluster"))
    val edgeRoll = msf
      .groupBy(expr("(src div 10) div 30").as("bucket"))
      .agg(count(lit(1)).as("n_forest_edges"))
    val keys = Tables.customer(s, dir).select(col("c_custkey").as("node"))
    keys
      .join(viaMsf, Seq("node"), "left")
      .groupBy(expr("(node div 10) div 30").as("bucket"))
      .agg(
        count(lit(1)).as("n_nodes"),
        countDistinct(col("cluster")).as("n_multi_clusters"),
        sum(when(col("cluster").isNull, 1L).otherwise(0L)).as("n_singletons"),
        coalesce(sum(col("cluster")), lit(0L)).as("label_sum"))
      .join(edgeRoll, Seq("bucket"), "left")
      .select(
        col("bucket"), col("n_nodes"), col("n_multi_clusters"), col("n_singletons"),
        col("label_sum"),
        coalesce(col("n_forest_edges"), lit(0L)).as("n_forest_edges"))
      .withColumn(
        "forest_ok",
        col("n_forest_edges") ===
          col("n_nodes") - col("n_singletons") - col("n_multi_clusters"))
      .orderBy(col("bucket"))
  }

  val q292Oracle: String =
    s"""WITH RECURSIVE g AS (
       |$WeightedBlockGraphSql
       |), thr AS (
       |  SELECT src, dst FROM g WHERE w < 140737488355328
       |), sym AS (
       |  SELECT src, dst FROM thr UNION ALL SELECT dst, src FROM thr
       |), reach(id, comp) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
       |), lab AS (
       |  SELECT id AS node, MIN(comp) AS cluster FROM reach GROUP BY id)
       |SELECT (c.c_custkey // 10) // 30 AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(COUNT(DISTINCT lab.cluster) AS BIGINT) AS n_multi_clusters,
       |  CAST(SUM(CASE WHEN lab.cluster IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
       |  CAST(COALESCE(SUM(lab.cluster), 0) AS BIGINT) AS label_sum,
       |  CAST(COUNT(lab.cluster) - COUNT(DISTINCT lab.cluster) AS BIGINT) AS n_forest_edges,
       |  TRUE AS forest_ok
       |FROM customer c LEFT JOIN lab ON lab.node = c.c_custkey
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  query("q292_single_link", q292SingleLink, Some(q292Oracle))

  // ---------------------------------------------------------------- q293
  /** RAKE KEYWORD EXTRACTION (Rose et al. 2010 — Rapid Automatic
    * Keyword Extraction): candidate phrases are the maximal runs of
    * content words between stopword/delimiter boundaries; each word
    * scores deg(w)/freq(w) where deg(w) = Σ |phrase| over phrases
    * containing w (co-occurrence degree including self) and freq(w) its
    * occurrence count; a phrase scores the sum of its words' scores.
    * The division is the repo's exact scaled-integer form
    * (deg·10⁶ div freq), so ranks replay bit-identically. The pipeline
    * is map-side regex (stopword → '#', split, trim — NO per-row UDF) +
    * one word-keyed shuffle for scores + one join back + one
    * phrase-keyed aggregate: identical-phrase instances share one score
    * by construction, recovered exactly as Σ div n_instances. Top-20 by
    * (score, phrase) total order.
    */
  def q293Rake(s: SparkSession, dir: String): DataFrame = {
    val stop = "\\b(a|the|key|value)\\b"
    val docs = Tables.documents(s, dir)
    val phrases = docs
      .select(explode(split(regexp_replace(lower(col("text")), stop, "#"), "#")).as("rawp"))
      .select(trim(regexp_replace(col("rawp"), " +", " ")).as("phrase"))
      .where(length(col("phrase")) > 0)
    val byPhrase = phrases
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_instances"))
      .withColumn("words", split(col("phrase"), " "))
      .withColumn("plen", size(col("words")).cast("long"))
    Place.persisted(byPhrase)
    val wordStats = byPhrase
      .select(col("plen"), col("n_instances"), explode(col("words")).as("word"))
      .groupBy(col("word"))
      .agg(
        sum(col("plen") * col("n_instances")).as("deg"),
        sum(col("n_instances")).as("freq"))
      .withColumn("wscore", expr("(deg * 1000000) div freq"))
    byPhrase
      .select(col("phrase"), col("n_instances"), explode(col("words")).as("word"))
      .join(wordStats.select(col("word"), col("wscore")), Seq("word"))
      .groupBy(col("phrase"))
      .agg(max(col("n_instances")).as("n_instances"), sum(col("wscore")).as("score"))
      .select(col("phrase"), col("n_instances"), col("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(20)
  }

  val q293Oracle: String =
    """WITH phrases AS (
      |  SELECT trim(regexp_replace(p, ' +', ' ', 'g')) AS phrase
      |  FROM (SELECT unnest(regexp_split_to_array(
      |          regexp_replace(lower(text), '\b(a|the|key|value)\b', '#', 'g'),
      |          '#')) AS p
      |        FROM documents)
      |  WHERE length(trim(regexp_replace(p, ' +', ' ', 'g'))) > 0),
      |by_phrase AS (
      |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_instances,
      |    string_split(phrase, ' ') AS words,
      |    CAST(length(string_split(phrase, ' ')) AS BIGINT) AS plen
      |  FROM phrases GROUP BY phrase),
      |word_stats AS (
      |  SELECT word,
      |    CAST(SUM(plen * n_instances) AS BIGINT) AS deg,
      |    CAST(SUM(n_instances) AS BIGINT) AS freq
      |  FROM (SELECT plen, n_instances, unnest(words) AS word FROM by_phrase)
      |  GROUP BY word),
      |scored AS (
      |  SELECT bp.phrase, bp.n_instances,
      |    CAST(SUM((ws.deg * 1000000) // ws.freq) AS BIGINT) AS score
      |  FROM (SELECT phrase, n_instances, unnest(words) AS word FROM by_phrase) bp
      |  JOIN word_stats ws USING (word)
      |  GROUP BY 1, 2)
      |SELECT phrase, n_instances, score
      |FROM scored
      |ORDER BY score DESC, phrase
      |LIMIT 20""".stripMargin
  query("q293_rake", q293Rake, Some(q293Oracle))

  // ---------------------------------------------------------------- q294
  /** L-DIVERSITY AND T-CLOSENESS AUDIT (Machanavajjhala et al. ICDE'06;
    * Li et al. ICDE'07) — the privacy checks BEYOND q237's k-anonymity:
    * a QI class can be large (k-anonymous) yet reveal everything
    * because its SENSITIVE values are homogeneous. QI = (user bucket,
    * ISO weekday); sensitive = event_type. Per class: distinct-l
    * (number of distinct sensitive values) and t-closeness as the EXACT
    * scaled-integer L1 distance Σ|class_share − global_share| between
    * the class's sensitive distribution and the global one — both
    * cross-multiplied to ppm (|cnt·10⁶ div n_class − gcnt·10⁶ div
    * n_total|), division-free ordering inside the class rollup. The
    * report aggregates per weekday: worst (min) l, rows in classes
    * failing l ≥ 3, and the worst (max) L1 ppm — the table a privacy
    * review reads before release.
    */
  def q294LDiversity(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(
        expr("user_id div 100").as("ub"),
        expr("((dayofweek(ts) + 5) % 7) + 1").as("wd"),
        col("event_type"))
    val cell = ev
      .groupBy(col("ub"), col("wd"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val cls = cell
      .groupBy(col("ub"), col("wd"))
      .agg(sum(col("cnt")).as("n_class"), count(lit(1)).as("l"))
    val glob = ev
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("gcnt"))
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("n_total"))))
    val l1 = cell
      .join(cls, Seq("ub", "wd"))
      .join(broadcast(glob), Seq("event_type"))
      .groupBy(col("ub"), col("wd"))
      .agg(sum(abs(
        expr("(cnt * 1000000) div n_class") - expr("(gcnt * 1000000) div n_total")))
        .as("l1_ppm"))
    cls
      .join(l1, Seq("ub", "wd"))
      .groupBy(col("wd"))
      .agg(
        count(lit(1)).as("n_classes"),
        min(col("l")).as("worst_l"),
        sum(when(col("l") < 3, col("n_class")).otherwise(0L)).as("rows_failing_l3"),
        max(col("l1_ppm")).as("worst_l1_ppm"),
        sum(col("n_class")).as("n_rows"))
      .orderBy(col("wd"))
  }

  val q294Oracle: String =
    """WITH ev AS (
      |  SELECT user_id // 100 AS ub, isodow(ts) AS wd, event_type FROM events),
      |cell AS (
      |  SELECT ub, wd, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM ev GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT ub, wd, CAST(SUM(cnt) AS BIGINT) AS n_class,
      |    CAST(COUNT(*) AS BIGINT) AS l
      |  FROM cell GROUP BY 1, 2),
      |gstats AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS gcnt,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ev) AS n_total
      |  FROM ev GROUP BY 1),
      |l1 AS (
      |  SELECT ub, wd,
      |    CAST(SUM(ABS((cnt * 1000000) // n_class - (gcnt * 1000000) // n_total))
      |      AS BIGINT) AS l1_ppm
      |  FROM cell JOIN cls USING (ub, wd) JOIN gstats USING (event_type)
      |  GROUP BY 1, 2)
      |SELECT cls.wd,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(MIN(l) AS BIGINT) AS worst_l,
      |  CAST(SUM(CASE WHEN l < 3 THEN n_class ELSE 0 END) AS BIGINT) AS rows_failing_l3,
      |  CAST(MAX(l1_ppm) AS BIGINT) AS worst_l1_ppm,
      |  CAST(SUM(n_class) AS BIGINT) AS n_rows
      |FROM cls JOIN l1 USING (ub, wd)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin
  query("q294_l_diversity", q294LDiversity, Some(q294Oracle))

  // ---------------------------------------------------------------- q295
  /** Z-ORDER RANGE PRUNING CERTIFICATE — q208 measured that z-layout
    * touches fewer files; this query certifies the operation that
    * EXPLOITS it: translating a coordinate rectangle into the minimal
    * set of Z-VALUE INTERVALS (BIGMIN-style quadtree descent: recurse
    * the curve's quadrants, emit a cell fully inside the rectangle as
    * one closed interval, descend on partial overlap, merge adjacent) —
    * the plan a z-clustered table's zone-map pruning runs at 100 TB.
    * The interval set is a PURE FUNCTION of the rectangle (bounded:
    * O(bits) cells per rectangle side, data-independent), generated
    * once in Scala and embedded as literals in BOTH engines; the
    * certificate law — z ∈ ⋃ intervals ⟺ (x, y) ∈ rectangle, i.e. the
    * cover is exact, no false positives and no misses — is measured
    * over every point and pinned as count columns that must be zero.
    */
  private[graft] def zCoverIntervals(
      xlo: Long, xhi: Long, ylo: Long, yhi: Long, bits: Int): Seq[(Long, Long)] = {
    def rec(cx: Long, cy: Long, level: Int, zbase: Long): Seq[(Long, Long)] = {
      val sz = 1L << level
      val (cxhi, cyhi) = (cx + sz - 1, cy + sz - 1)
      if (cx > xhi || cxhi < xlo || cy > yhi || cyhi < ylo) Seq.empty
      else if (cx >= xlo && cxhi <= xhi && cy >= ylo && cyhi <= yhi)
        Seq((zbase, zbase + (1L << (2 * level)) - 1))
      else
        (0 until 4).flatMap { c =>
          val h = sz / 2
          rec(
            cx + (c & 1).toLong * h,
            cy + (c >> 1).toLong * h,
            level - 1,
            zbase + c.toLong * (1L << (2 * (level - 1))))
        }
    }
    rec(0L, 0L, bits, 0L)
      .sortBy(_._1)
      .foldLeft(Vector.empty[(Long, Long)]) { case (acc, (lo, hi)) =>
        acc.lastOption match {
          case Some((plo, phi)) if phi + 1 == lo => acc.init :+ ((plo, hi))
          case _                                 => acc :+ ((lo, hi))
        }
      }
  }

  private[graft] val ZRect = (40L, 180L, 60L, 200L)
  private[graft] val ZIntervals: Seq[(Long, Long)] =
    zCoverIntervals(ZRect._1, ZRect._2, ZRect._3, ZRect._4, bits = 8)

  def q295ZRangePruning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (xlo, xhi, ylo, yhi) = ZRect
    val iv = ZIntervals.toDF("lo", "hi")
    val pts = Tables
      .customer(s, dir)
      .select(
        col("c_custkey").as("k"),
        expr("(c_custkey * 37) % 256").as("x"),
        expr("(c_custkey * 73) % 256").as("y"))
      .withColumn(
        "z",
        graft.ops.Layout.zValue(Seq((col("x"), 0L, 255L), (col("y"), 0L, 255L)), 8))
    val flagged = pts
      .join(broadcast(iv), col("z") >= col("lo") && col("z") <= col("hi"), "left")
      .withColumn("in_z", col("lo").isNotNull)
      .withColumn(
        "in_rect",
        col("x") >= xlo && col("x") <= xhi && col("y") >= ylo && col("y") <= yhi)
    flagged
      .agg(
        count(lit(1)).as("n_points"),
        sum(when(col("in_rect"), 1L).otherwise(0L)).as("n_in_rect"),
        sum(when(col("in_z"), 1L).otherwise(0L)).as("n_in_z"),
        sum(when(col("in_z") =!= col("in_rect"), 1L).otherwise(0L)).as("n_mismatch"),
        sum(when(col("in_rect"), col("k")).otherwise(0L)).as("in_idsum"))
      .withColumn("n_intervals", lit(ZIntervals.size.toLong))
      .withColumn("span_sum", lit(ZIntervals.map { case (l, h) => h - l + 1 }.sum))
      .withColumn("domain", lit(65536L))
  }

  val q295Oracle: String = {
    val ivRows = ZIntervals.map { case (l, h) => s"($l, $h)" }.mkString(",\n    ")
    val (xlo, xhi, ylo, yhi) = ZRect
    val zSql = graft.ops.Layout.zValueSql(Seq(("x", 0L, 255L), ("y", 0L, 255L)), 8)
    s"""WITH iv(lo, hi) AS (VALUES
       |    $ivRows),
       |pts AS (
       |  SELECT c_custkey AS k, (c_custkey * 37) % 256 AS x,
       |         (c_custkey * 73) % 256 AS y
       |  FROM customer),
       |pz AS (SELECT k, x, y, $zSql AS z FROM pts),
       |flagged AS (
       |  SELECT pz.k, pz.x, pz.y,
       |    EXISTS (SELECT 1 FROM iv WHERE pz.z >= iv.lo AND pz.z <= iv.hi) AS in_z,
       |    (x >= $xlo AND x <= $xhi AND y >= $ylo AND y <= $yhi) AS in_rect
       |  FROM pz)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       |  CAST(SUM(CASE WHEN in_rect THEN 1 ELSE 0 END) AS BIGINT) AS n_in_rect,
       |  CAST(SUM(CASE WHEN in_z THEN 1 ELSE 0 END) AS BIGINT) AS n_in_z,
       |  CAST(SUM(CASE WHEN in_z <> in_rect THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       |  CAST(SUM(CASE WHEN in_rect THEN k ELSE 0 END) AS BIGINT) AS in_idsum,
       |  CAST(${ZIntervals.size} AS BIGINT) AS n_intervals,
       |  CAST(${ZIntervals.map { case (l, h) => h - l + 1 }.sum} AS BIGINT) AS span_sum,
       |  CAST(65536 AS BIGINT) AS domain
       |FROM flagged""".stripMargin
  }
  query("q295_z_range_pruning", q295ZRangePruning, Some(q295Oracle))

  // ---------------------------------------------------------------- q296
  /** EXACT DISTRIBUTED SPEARMAN RANK CORRELATION between account
    * balance and order activity, per market segment — the
    * transcendental-free correlation (Pearson on RANKS): with ranks
    * from a TOTAL order (value, custkey — tie-broken, so both engines
    * rank identically and the d² sum is integer-exact) and no true
    * ties, ρ = 1 − 6Σd²/(n(n²−1)) in exact ppm. Ranks come from
    * [[graft.ops.Rank.rankWithin]]'s range-binned two-pass — never a
    * single global-order window task — and Σd² is staged to
    * decimal(38,0) BEFORE the ·10⁶ scaling (the q170 first-factor
    * widening: n³·10⁶ overflows int64 past n ≈ 2×10⁴). The oracle
    * replays with plain windows, certifying the distributed rank ≡ the
    * sequential definition on every group.
    */
  def q296Spearman(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val orders = Tables
      .orders(s, dir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    val base = c
      .select(col("c_custkey"), col("c_mktsegment").as("segment"), col("c_acctbal"))
      .join(orders, Seq("c_custkey"), "left")
      .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
    val xr = graft.ops.Rank.rankWithin(
      base, Seq("segment"), col("c_acctbal"), col("c_custkey"), "xr")
    val both = graft.ops.Rank.rankWithin(
      xr, Seq("segment"), col("n_orders"), col("c_custkey"), "yr")
    both
      .groupBy(col("segment"))
      .agg(
        count(lit(1)).as("n"),
        sum(((col("xr") - col("yr")) * (col("xr") - col("yr"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("d2"))
      .select(
        col("segment"),
        col("n"),
        col("d2").cast("long").as("sum_d2"),
        expr("cast(1000000 - (d2 * 6000000) div (cast(n as decimal(38,0)) * n * n - n) as bigint)")
          .as("rho_ppm"))
      .orderBy(col("segment"))
  }

  val q296Oracle: String =
    """WITH orders_per AS (
      |  SELECT o_custkey AS c_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1),
      |base AS (
      |  SELECT c.c_custkey, c.c_mktsegment AS segment, c.c_acctbal,
      |    COALESCE(op.n_orders, 0) AS n_orders
      |  FROM customer c LEFT JOIN orders_per op USING (c_custkey)),
      |ranked AS (
      |  SELECT segment,
      |    ROW_NUMBER() OVER (PARTITION BY segment ORDER BY c_acctbal, c_custkey) AS xr,
      |    ROW_NUMBER() OVER (PARTITION BY segment ORDER BY n_orders, c_custkey) AS yr
      |  FROM base),
      |agg AS (
      |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST((xr - yr) AS HUGEINT) * (xr - yr)) AS HUGEINT) AS d2
      |  FROM ranked GROUP BY 1)
      |SELECT segment, n, CAST(d2 AS BIGINT) AS sum_d2,
      |  CAST(1000000 - (d2 * 6000000) // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT)
      |    AS rho_ppm
      |FROM agg
      |ORDER BY segment""".stripMargin
  query("q296_spearman", q296Spearman, Some(q296Oracle))

  // ---------------------------------------------------------------- q297
  /** MORAN'S I SPATIAL AUTOCORRELATION (Moran 1950; the diagnostic a
    * geospatial feature pipeline runs before trusting "location
    * explains it") in EXACT INTEGER arithmetic: deviations are scaled
    * by n (d_i = n·v_i − Σv, integer), which multiplies numerator and
    * denominator by n² and cancels, so I = (n/W)·Σw d_i d_j / Σd_i²
    * needs no rational intermediate; products stage to decimal(38,0)
    * before the ·10⁶ ppm scaling (the q170 widening). The weight
    * matrix is SAME-GRID-CELL adjacency (w_ij = 1, i ≠ j), so pair
    * generation is the [[graft.ops.Geo]] shape — one equi self-join on
    * the cell key, candidate volume ∝ local density, never n². Two
    * variables measure discrimination: v1 is a pure function of
    * location (strong positive I expected), v2 a location-independent
    * residue (I ≈ 0) — both exact, same pair set, one row.
    */
  def q297MoransI(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables
      .customer(s, dir)
      .select(
        col("c_custkey").as("k"),
        expr("(c_custkey * 37) % 256").as("x"),
        expr("(c_custkey * 73) % 256").as("y"))
      .withColumn("cell", expr("(x div 16) * 100 + (y div 16)"))
      .withColumn("v1", expr("(x div 32) + (y div 32)"))
      .withColumn("v2", expr("k % 7"))
    val tot = pts.agg(
      count(lit(1)).as("n"), sum(col("v1")).as("s1"), sum(col("v2")).as("s2"))
    val d = pts
      .crossJoin(broadcast(tot))
      .select(
        col("k"), col("cell"),
        (col("n") * col("v1") - col("s1")).as("d1"),
        (col("n") * col("v2") - col("s2")).as("d2"),
        col("n"))
    val den = d.agg(
      max(col("n")).as("n"),
      sum((col("d1") * col("d1")).cast("decimal(38,0)")).as("den1"),
      sum((col("d2") * col("d2")).cast("decimal(38,0)")).as("den2"))
    val pairs = d
      .select(col("cell"), col("k"), col("d1"), col("d2"))
      .join(
        d.select(
          col("cell"), col("k").as("k2"), col("d1").as("e1"), col("d2").as("e2")),
        Seq("cell"))
      .where(col("k") =!= col("k2"))
      .agg(
        count(lit(1)).as("w_pairs"),
        sum((col("d1") * col("e1")).cast("decimal(38,0)")).as("num1"),
        sum((col("d2") * col("e2")).cast("decimal(38,0)")).as("num2"))
    pairs
      .crossJoin(broadcast(den))
      .select(
        col("n"),
        col("w_pairs"),
        col("den1").cast("long").as("sum_d1_sq"),
        col("den2").cast("long").as("sum_d2_sq"),
        expr("cast((n * num1 * 1000000) div (w_pairs * den1) as bigint)").as("i1_ppm"),
        expr("cast((n * num2 * 1000000) div (w_pairs * den2) as bigint)").as("i2_ppm"))
  }

  val q297Oracle: String =
    """WITH pts AS (
      |  SELECT c_custkey AS k,
      |    (c_custkey * 37) % 256 AS x, (c_custkey * 73) % 256 AS y
      |  FROM customer),
      |feat AS (
      |  SELECT k, (x // 16) * 100 + (y // 16) AS cell,
      |    (x // 32) + (y // 32) AS v1, k % 7 AS v2
      |  FROM pts),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(v1) AS BIGINT) AS s1, CAST(SUM(v2) AS BIGINT) AS s2
      |  FROM feat),
      |d AS (
      |  SELECT k, cell, n * v1 - s1 AS d1, n * v2 - s2 AS d2, n
      |  FROM feat, tot),
      |den AS (
      |  SELECT MAX(n) AS n,
      |    CAST(SUM(CAST(d1 AS HUGEINT) * d1) AS HUGEINT) AS den1,
      |    CAST(SUM(CAST(d2 AS HUGEINT) * d2) AS HUGEINT) AS den2
      |  FROM d),
      |pairs AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
      |    CAST(SUM(CAST(a.d1 AS HUGEINT) * b.d1) AS HUGEINT) AS num1,
      |    CAST(SUM(CAST(a.d2 AS HUGEINT) * b.d2) AS HUGEINT) AS num2
      |  FROM d a JOIN d b ON a.cell = b.cell AND a.k <> b.k)
      |SELECT den.n, pairs.w_pairs,
      |  CAST(den.den1 AS BIGINT) AS sum_d1_sq,
      |  CAST(den.den2 AS BIGINT) AS sum_d2_sq,
      |  CAST((den.n * pairs.num1 * 1000000) // (pairs.w_pairs * den.den1) AS BIGINT) AS i1_ppm,
      |  CAST((den.n * pairs.num2 * 1000000) // (pairs.w_pairs * den.den2) AS BIGINT) AS i2_ppm
      |FROM pairs, den""".stripMargin
  query("q297_morans_i", q297MoransI, Some(q297Oracle))

  // ---------------------------------------------------------------- q298
  /** ROBUST OUTLIER DETECTION via MEDIAN/MAD (Hampel's rule — the
    * robust sibling of z-scoring: mean and stddev are themselves
    * dragged by the outliers they're meant to find; median and Median
    * Absolute Deviation have 50% breakdown). All order statistics are
    * DISCRETE rank-selected (the q92/q97 recipe — interpolated
    * percentiles diverge cross-engine in the last ulp): per segment,
    * median = the ⌈n/2⌉-th balance-in-cents under the (value, key)
    * total order, MAD = the same statistic over |x − median|, and the
    * flag is the division-free |x − median| > 3·MAD. Two window passes
    * per segment (rank by value, then rank by deviation) + one rollup;
    * at cluster scale both become [[graft.ops.Rank.rankWithin]]'s
    * two-pass — the per-segment windows here keep the replay plain.
    */
  def q298RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables
      .customer(s, dir)
      .select(
        col("c_custkey").as("k"),
        col("c_mktsegment").as("segment"),
        expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)").as("cents"))
    val byVal = Window.partitionBy(col("segment")).orderBy(col("cents"), col("k"))
    val seg = Window.partitionBy(col("segment"))
    val med = c
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(seg))
      .where(col("rn") === expr("(n + 1) div 2"))
      .select(col("segment"), col("cents").as("median"))
    val withDev = c
      .join(broadcast(med), Seq("segment"))
      .withColumn("dev", abs(col("cents") - col("median")))
    val byDev = Window.partitionBy(col("segment")).orderBy(col("dev"), col("k"))
    val mad = withDev
      .withColumn("rn", row_number().over(byDev))
      .withColumn("n", count(lit(1)).over(seg))
      .where(col("rn") === expr("(n + 1) div 2"))
      .select(col("segment"), col("dev").as("mad"))
    withDev
      .join(broadcast(mad), Seq("segment"))
      .groupBy(col("segment"))
      .agg(
        count(lit(1)).as("n"),
        max(col("median")).as("median_cents"),
        max(col("mad")).as("mad_cents"),
        sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        sum(when(col("dev") > lit(3) * col("mad"), col("k")).otherwise(0L)).as("outlier_idsum"))
      .orderBy(col("segment"))
  }

  val q298Oracle: String =
    """WITH c AS (
      |  SELECT c_custkey AS k, c_mktsegment AS segment,
      |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |  FROM customer),
      |med AS (
      |  SELECT segment, cents AS median FROM (
      |    SELECT segment, cents,
      |      ROW_NUMBER() OVER (PARTITION BY segment ORDER BY cents, k) AS rn,
      |      COUNT(*) OVER (PARTITION BY segment) AS n
      |    FROM c)
      |  WHERE rn = (n + 1) // 2),
      |dev AS (
      |  SELECT c.k, c.segment, c.cents, ABS(c.cents - med.median) AS dev, med.median
      |  FROM c JOIN med USING (segment)),
      |mad AS (
      |  SELECT segment, dev AS mad FROM (
      |    SELECT segment, dev,
      |      ROW_NUMBER() OVER (PARTITION BY segment ORDER BY dev, k) AS rn,
      |      COUNT(*) OVER (PARTITION BY segment) AS n
      |    FROM dev)
      |  WHERE rn = (n + 1) // 2)
      |SELECT dev.segment,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MAX(dev.median) AS BIGINT) AS median_cents,
      |  CAST(MAX(mad.mad) AS BIGINT) AS mad_cents,
      |  CAST(SUM(CASE WHEN dev.dev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(SUM(CASE WHEN dev.dev > 3 * mad.mad THEN k ELSE 0 END) AS BIGINT) AS outlier_idsum
      |FROM dev JOIN mad USING (segment)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin
  query("q298_robust_outliers", q298RobustOutliers, Some(q298Oracle))

  // ---------------------------------------------------------------- q299
  /** GREEDY INTERVAL SCHEDULING (the exchange-argument classic:
    * earliest-deadline-first maximizes the count of non-overlapping
    * intervals — the capacity question "how many of this user's
    * sessions could one worker have served?"). Inherently a SEQUENTIAL
    * fold per key, so it runs as the repo's ORDERED-FOLD recipe
    * (q95/q122): collect the per-user intervals into a sorted array
    * (bounded per key — this is per-GROUP state, not corpus state) and
    * fold with the accumulator ENCODED IN THE ELEMENT TYPE so Spark's
    * aggregate() and DuckDB's list_reduce (probed: an ordered left
    * fold) run the identical lambda: acc = {cnt, e=last_end, s}, take
    * x iff x.s ≥ acc.e. Intervals are [epoch_µs, +dur) with dur a pure
    * function of event_id — exact integers end to end (ts through the
    * floor-µs bridge, never raw ns).
    */
  def q299IntervalSchedule(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        expr("ts_ns div 1000").as("s_us"))
      .withColumn("e_us", col("s_us") + (col("event_id") % 3600 + 60) * 1000000L)
    val folded = iv
      .select(
        col("user_id"),
        struct(
          lit(1L).as("cnt"), col("e_us").as("e"), col("s_us").as("s"),
          col("event_id").as("id")).as("item"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("item"))).as("arr"))
      .select(
        col("user_id"),
        size(col("arr")).cast("long").as("n_events"),
        expr(
          """aggregate(
            |  slice(arr, 2, size(arr) - 1), arr[0],
            |  (acc, x) -> CASE WHEN x.s >= acc.e
            |    THEN named_struct('cnt', acc.cnt + CAST(1 AS BIGINT), 'e', x.e, 's', x.s, 'id', x.id)
            |    ELSE acc END).cnt""".stripMargin).as("selected"))
    folded
      .groupBy(expr("user_id div 50").as("bucket"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("n_events")).as("n_events"),
        sum(col("selected")).as("n_selected"),
        max(col("selected")).as("max_selected"))
      .withColumn("law_ok", col("n_selected") <= col("n_events"))
      .orderBy(col("bucket"))
  }

  val q299Oracle: String =
    """WITH RECURSIVE iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + (event_id % 3600 + 60) * 1000000 AS e_us
      |  FROM events),
      |idx AS (
      |  SELECT user_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY e_us, s_us, event_id) AS i,
      |    s_us, e_us
      |  FROM iv),
      |n AS (SELECT user_id, MAX(i) AS m, CAST(COUNT(*) AS BIGINT) AS n_events
      |      FROM idx GROUP BY user_id),
      |walk(user_id, i, cnt, laste) AS (
      |  SELECT user_id, i, CAST(1 AS BIGINT), e_us FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT w.user_id, w.i + 1,
      |    w.cnt + CASE WHEN x.s_us >= w.laste THEN 1 ELSE 0 END,
      |    CASE WHEN x.s_us >= w.laste THEN x.e_us ELSE w.laste END
      |  FROM walk w JOIN idx x ON x.user_id = w.user_id AND x.i = w.i + 1),
      |folded AS (
      |  SELECT w.user_id, n.n_events, w.cnt AS selected
      |  FROM walk w JOIN n ON n.user_id = w.user_id AND w.i = n.m)
      |SELECT user_id // 50 AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  CAST(SUM(selected) AS BIGINT) AS n_selected,
      |  CAST(MAX(selected) AS BIGINT) AS max_selected,
      |  SUM(selected) <= SUM(n_events) AS law_ok
      |FROM folded
      |GROUP BY 1
      |ORDER BY 1""".stripMargin
  query("q299_interval_schedule", q299IntervalSchedule, Some(q299Oracle))

  // ---------------------------------------------------------------- q300
  /** CUPED VARIANCE REDUCTION for A/B readouts (Deng et al. WSDM'13 —
    * the experimentation-platform staple: adjust the post-period
    * metric by a pre-period covariate, Y_adj = Y − θ(X − X̄), cutting
    * variance by the squared correlation without biasing the delta).
    * Assignment is the deterministic md5-parity split (the q221
    * posture); X/Y are the user's pre/post event counts around the
    * corpus midpoint. Everything is EXACT sufficient statistics
    * (q134's discipline): θ = (nΣXY − ΣXΣY)/(nΣX² − (ΣX)²) emitted in
    * ppm by cross-multiplied integer division, the variance-reduction
    * ratio r² = cov²/ (varX·varY) in ppm the same way, and the
    * adjusted means stay in exact n·n_g-scaled integer form —
    * θ's rational value is never rounded before use:
    * adj_mean_ppm = (ΣY_g·10⁶ div n_g) − (num_θ·(n·ΣX_g − n_g·ΣX)·10⁶)
    * div (den_θ·n·n_g).
    */
  def q300Cuped(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // exact integer mean: double avg of ~1e19-scale sums is summation-
    // order-dependent in the low bits, and a 1 us midpoint shift flips
    // boundary rows — stage the sum in decimal and floor-divide
    val mid = ev.agg(
      expr("cast(sum(cast(ts_ns div 1000 as decimal(38,0))) div count(1) as bigint)")
        .as("mid_us"))
    val per = ev
      .crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        sum(when(expr("ts_ns div 1000") < col("mid_us"), 1L).otherwise(0L)).as("x"),
        sum(when(expr("ts_ns div 1000") >= col("mid_us"), 1L).otherwise(0L)).as("y"))
      .withColumn("variant", expr("cast(conv(substr(md5(cast(user_id as string)), 1, 4), 16, 10) as bigint) % 2"))
    val glob = per.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val theta = glob.select(
      col("n"), col("sx"), col("sy"),
      (col("n") * col("sxy") - col("sx") * col("sy")).cast("decimal(38,0)").as("num_t"),
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("decimal(38,0)").as("den_t"),
      (col("n") * col("syy") - col("sy") * col("sy")).cast("decimal(38,0)").as("den_y"))
    per
      .groupBy(col("variant"))
      .agg(
        count(lit(1)).as("n_g"),
        sum(col("x")).as("sx_g"),
        sum(col("y")).as("sy_g"))
      .crossJoin(broadcast(theta))
      .select(
        col("variant"),
        col("n_g"),
        expr("(sy_g * 1000000) div n_g").as("mean_y_ppm"),
        expr("cast((sy_g * 1000000) div n_g - (num_t * (n * sx_g - n_g * sx) * 1000000) div (den_t * n * n_g) as bigint)")
          .as("adj_mean_y_ppm"),
        expr("cast((num_t * 1000000) div den_t as bigint)").as("theta_ppm"),
        expr("cast((num_t * num_t * 1000000) div (den_t * den_y) as bigint)").as("r2_ppm"))
      .orderBy(col("variant"))
  }

  val q300Oracle: String =
    """WITH mid AS (
      |  SELECT CAST(CAST(SUM(CAST(epoch_us(ts) AS HUGEINT)) AS HUGEINT) // COUNT(*) AS BIGINT)
      |    AS mid_us FROM events),
      |per AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN epoch_us(ts) < mid_us THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN epoch_us(ts) >= mid_us THEN 1 ELSE 0 END) AS BIGINT) AS y,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS variant
      |  FROM events, mid GROUP BY user_id),
      |gsum AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM per),
      |theta AS (
      |  SELECT n, sx, sy,
      |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num_t,
      |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den_t,
      |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den_y
      |  FROM gsum)
      |SELECT variant,
      |  CAST(COUNT(*) AS BIGINT) AS n_g,
      |  CAST((SUM(y) * 1000000) // COUNT(*) AS BIGINT) AS mean_y_ppm,
      |  CAST((SUM(y) * 1000000) // COUNT(*)
      |    - (num_t * (n * SUM(x) - COUNT(*) * sx) * 1000000) // (den_t * n * COUNT(*))
      |    AS BIGINT) AS adj_mean_y_ppm,
      |  CAST((num_t * 1000000) // den_t AS BIGINT) AS theta_ppm,
      |  CAST((num_t * num_t * 1000000) // (den_t * den_y) AS BIGINT) AS r2_ppm
      |FROM per, theta
      |GROUP BY variant, n, sx, num_t, den_t, den_y
      |ORDER BY variant""".stripMargin
  query("q300_cuped", q300Cuped, Some(q300Oracle))

  // ---------------------------------------------------------------- q301
  /** TEXTRANK KEYWORD SCORING (Mihalcea-Tarau EMNLP'04 - PageRank on
    * the word co-occurrence graph; the unsupervised keyword extractor
    * that needs no training data, the graph-flavored complement to
    * q293's RAKE). Nodes are vocabulary words, edges are ADJACENT-token
    * co-occurrences (window 2) weighted by pair count; 4 damped rounds
    * of v' = 0.15*10^12 + 0.85 * SUM_u (v_u * w_uv) div wdeg_u in exact
    * scaled-integer arithmetic (q289's teleport discipline on a word
    * graph). The corpus-sized work is ONE token scan + one pair count;
    * the iteration runs on the |vocab|-row frame against the broadcast
    * edge list - bounded model state at any corpus size. Top-10 by
    * (score, word).
    */
  def q301TextRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: pairs AND freq both consume the explode — uncached,
    // freq re-ran the full corpus tokenization inside the final job
    val toks = Tables
      .documents(s, dir)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")).as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
      .transform(Place.persisted)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = toks
      .withColumn("prev", lag(col("word"), 1).over(byDoc))
      .where(col("prev").isNotNull && col("prev") =!= col("word"))
      .select(
        least(col("prev"), col("word")).as("a"),
        greatest(col("prev"), col("word")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
    val dirEdges = pairs
      .select(col("a").as("u"), col("b").as("v"), col("w"))
      .unionByName(pairs.select(col("b").as("u"), col("a").as("v"), col("w")))
    Place.persisted(dirEdges)
    // wdeg is referenced twice per round plus init and the final
    // projection — ~10 subtree scans inside the ONE lazy evaluation —
    // so cut it eagerly (r11; uncut it re-aggregated the edge frame per
    // reference), and pre-join it into the edge frame once so each
    // round does one join, not two (the PageRank `ed` discipline)
    val wdeg = graft.ops.Checkpoints.cut(
      dirEdges.groupBy(col("u")).agg(sum(col("w")).as("wdeg")))
    // eager: the four lazy rounds would each recompute the join
    val ew = dirEdges.join(wdeg, Seq("u"))
      .transform(Place.materialized)
    // wdeg's eager cut and the ew materialization are the last reads of
    // the raw edge frame — release it (r15, the postingsReleasable
    // discipline); the rounds and the final join read ew/wdeg/freq only
    dirEdges.unpersist()
    val freq = toks.groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // the edge frame already owns a column named "v" (the pair target),
    // so the rank value is "vr" until the final projection
    var rank = wdeg.select(col("u").as("word"), lit(1000000000000L).as("vr"))
    for (_ <- 1 to 4) {
      val inflow = ew
        .join(rank.withColumnRenamed("word", "u"), Seq("u"))
        .groupBy(col("v").as("word"))
        // decimal(38,0)-staged first factor (q170 discipline): vr is
        // 10^12-grid rank mass, so vr*w wraps int64 at w > ~9.2M pair
        // counts; the div quotient is ≤ vr, a clean long
        .agg(sum(expr("(cast(vr as decimal(38,0)) * w) div wdeg")).as("inflow"))
      // no lineage cut: the state frame is |vocab| rows and 4 rounds
      // nest linearly, so ONE final evaluation reuses the persisted
      // edge frame's exchange instead of recomputing it per round
      rank = wdeg
        .select(col("u").as("word"))
        .join(inflow, Seq("word"), "left")
        .select(
          col("word"),
          (lit(150000000000L) + expr("(cast(coalesce(inflow, 0) as decimal(38,0)) * 85) div 100")).as("vr"))
    }
    rank.join(freq, Seq("word"))
      .join(wdeg.withColumnRenamed("u", "word"), Seq("word"))
      .select(col("word"), col("vr").as("score"), col("freq"), col("wdeg"))
      .orderBy(col("score").desc, col("word"))
      .limit(10)
  }

  val q301Oracle: String = {
    val rounds = (1 to 4)
      .map { t =>
        s"""v$t AS MATERIALIZED (
           |  SELECT n.word,
           |    150000000000 + (CAST(COALESCE(i.inflow, 0) AS HUGEINT) * 85) // 100 AS v
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.v AS word, CAST(SUM((CAST(v${t - 1}.v AS HUGEINT) * e.w) // wd.wdeg) AS BIGINT) AS inflow
           |    FROM v${t - 1}
           |    JOIN e ON e.u = v${t - 1}.word
           |    JOIN wdeg wd ON wd.u = v${t - 1}.word
           |    GROUP BY e.v) i ON i.word = n.word)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, words[i] AS word FROM (
       |    SELECT doc_id, string_split(lower(text), ' ') AS words,
       |      unnest(range(1, length(string_split(lower(text), ' ')) + 1)) AS i
       |    FROM documents)
       |  WHERE length(words[i]) > 0),
       |pairs AS MATERIALIZED (
       |  SELECT least(prev, word) AS a, greatest(prev, word) AS b,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM (SELECT word,
       |          lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |        FROM toks)
       |  WHERE prev IS NOT NULL AND prev <> word
       |  GROUP BY 1, 2),
       |e AS MATERIALIZED (
       |  SELECT a AS u, b AS v, w FROM pairs
       |  UNION ALL SELECT b, a, w FROM pairs),
       |wdeg AS MATERIALIZED (SELECT u, CAST(SUM(w) AS BIGINT) AS wdeg FROM e GROUP BY u),
       |nodes AS MATERIALIZED (SELECT DISTINCT u AS word FROM e),
       |freq AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY word),
       |v0 AS (SELECT word, CAST(1000000000000 AS BIGINT) AS v FROM nodes),
       |$rounds
       |SELECT v4.word AS word, CAST(v4.v AS BIGINT) AS score, freq.freq, wdeg.wdeg
       |FROM v4 JOIN freq ON freq.word = v4.word JOIN wdeg ON wdeg.u = v4.word
       |ORDER BY score DESC, v4.word
       |LIMIT 10""".stripMargin
  }
  query("q301_textrank", q301TextRank, Some(q301Oracle))

  // ---------------------------------------------------------------- q302
  /** ABSORBING MARKOV CHAIN FUNNEL ANALYSIS (Kemeny-Snell fundamental-
    * matrix semantics, computed as the truncated Neumann series - the
    * "how many steps until purchase-or-error, and which one?" readout
    * behind funnel health dashboards). States are event types;
    * 'purchase' and 'error' absorb; transitions count per-user
    * consecutive pairs LEAVING transient states only. Twelve rounds of
    * the exact scaled-integer DP: expected steps v' = 10^6 +
    * SUM_j cnt_ij * v_j div rowsum_i (absorbing j contribute 0), and
    * absorption split p' = SUM_j cnt_ij * (j = purchase ? 10^12 : p_j)
    * div rowsum_i - both monotone increasing in rounds, so the
    * truncation is a documented lower bound, bit-identical in the
    * unrolled oracle. One corpus-scan shuffle (the lag window); the
    * DP runs on the <= |event types|-row state frame.
    */
  def q302AbsorbingChain(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .where(col("prev").isNotNull && !col("prev").isin("purchase", "error"))
      .groupBy(col("prev").as("i"), col("event_type").as("j"))
      .agg(count(lit(1)).as("cnt"))
    val rowsum = trans.groupBy(col("i")).agg(sum(col("cnt")).as("rs"))
    val m = broadcast(trans.join(rowsum, Seq("i")))
    var st = rowsum.select(col("i").as("state"), lit(0L).as("v"), lit(0L).as("p"))
    for (_ <- 1 to 12) {
      val nxt = m
        .join(
          st.select(col("state").as("jj"), col("v").as("vj"), col("p").as("pj")),
          col("j") === col("jj"), "left")
        .select(
          col("i"),
          // decimal(38,0)-staged first factor (q170 discipline): the
          // value terms sit on the 10^12 grid, so cnt×mass wraps int64
          // at cnt > ~9.2M transitions per cell
          expr("(cast(cnt as decimal(38,0)) * coalesce(vj, 0)) div rs").as("vc"),
          expr("(cast(cnt as decimal(38,0)) * (case when j = 'purchase' then 1000000000000 else coalesce(pj, 0) end)) div rs")
            .as("pc"))
        .groupBy(col("i"))
        .agg(sum(col("vc")).as("sv"), sum(col("pc")).as("sp"))
      // no lineage cut: |types|-row state, 12 linear rounds — a single
      // evaluation at the end reuses the broadcast transition matrix,
      // where a per-round cut re-ran the corpus lag window 12 times
      st = nxt.select(
        col("i").as("state"),
        (lit(1000000L) + col("sv")).as("v"),
        col("sp").as("p"))
    }
    st.join(rowsum.withColumnRenamed("i", "state"), Seq("state"))
      .select(
        col("state"),
        col("rs").as("n_out"),
        col("v").as("exp_steps_scaled"),
        col("p").as("p_purchase_scaled"))
      .orderBy(col("state"))
  }

  val q302Oracle: String = {
    val rounds = (1 to 12)
      .map { t =>
        s"""s$t AS MATERIALIZED (
           |  SELECT m.i AS state,
           |    1000000 + CAST(SUM((CAST(m.cnt AS HUGEINT) * COALESCE(s.v, 0)) // m.rs) AS BIGINT) AS v,
           |    CAST(SUM((CAST(m.cnt AS HUGEINT) * (CASE WHEN m.j = 'purchase' THEN 1000000000000
           |      ELSE COALESCE(s.p, 0) END)) // m.rs) AS BIGINT) AS p
           |  FROM m LEFT JOIN s${t - 1} s ON s.state = m.j
           |  GROUP BY m.i)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH seq AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |trans AS MATERIALIZED (
       |  SELECT prev AS i, event_type AS j, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM seq
       |  WHERE prev IS NOT NULL AND prev NOT IN ('purchase', 'error')
       |  GROUP BY 1, 2),
       |rowsum AS MATERIALIZED (SELECT i, CAST(SUM(cnt) AS BIGINT) AS rs FROM trans GROUP BY i),
       |m AS MATERIALIZED (SELECT trans.i, trans.j, trans.cnt, rowsum.rs
       |  FROM trans JOIN rowsum USING (i)),
       |s0 AS (SELECT i AS state, CAST(0 AS BIGINT) AS v, CAST(0 AS BIGINT) AS p FROM rowsum),
       |$rounds
       |SELECT s12.state, rowsum.rs AS n_out,
       |  s12.v AS exp_steps_scaled, s12.p AS p_purchase_scaled
       |FROM s12 JOIN rowsum ON rowsum.i = s12.state
       |ORDER BY s12.state""".stripMargin
  }
  query("q302_absorbing_chain", q302AbsorbingChain, Some(q302Oracle))

  // ---------------------------------------------------------------- q303
  /** HEAPS'-LAW VOCABULARY GROWTH (Herdan-Heaps: V(n) ~ K*n^beta - the
    * type-token curve a tokenizer team reads to size a vocabulary and
    * detect corpus saturation). Ten corpus prefixes by doc_id cutoff;
    * the whole curve comes from ONE token scan: each word's FIRST
    * occurrence doc (min doc_id - new-type events) and each doc's
    * token count bucket into cutoff intervals, and the curve is the
    * running sum over the 10-row bucket frame (q223's
    * cumulative-unique-as-cumsum-of-new, generalized to the
    * vocabulary axis) - never ten rescans. Type-token ratio in exact
    * ppm per prefix.
    */
  def q303HeapsLaw(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val mx = docs.agg(max(col("doc_id")).as("m"))
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .where(length(col("word")) > 0)
      .crossJoin(broadcast(mx))
      .withColumn("k", expr("least(cast(((doc_id * 10) div (m + 1)) as bigint) + 1, 10)"))
    val newTypes = toks
      .groupBy(col("word"))
      .agg(min(col("k")).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("new_types"))
    val tokCnt = toks.groupBy(col("k")).agg(count(lit(1)).as("toks"))
    val ks = s.range(1, 11).select(col("id").as("k"))
    val byK = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ks.join(newTypes, Seq("k"), "left")
      .join(tokCnt, Seq("k"), "left")
      .select(
        col("k"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("tokens_cum", sum(col("toks")).over(byK))
      .withColumn("vocab_cum", sum(col("new_types")).over(byK))
      .withColumn("ttr_ppm", expr("(vocab_cum * 1000000) div tokens_cum"))
      .select(col("k"), col("tokens_cum"), col("vocab_cum"), col("new_types"), col("ttr_ppm"))
      .orderBy(col("k"))
  }

  val q303Oracle: String =
    """WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |    least(((doc_id * 10) // (m + 1)) + 1, 10) AS k, word
      |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |        FROM documents), mx
      |  WHERE length(word) > 0),
      |new_types AS (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS new_types FROM (
      |    SELECT word, MIN(k) AS k FROM toks GROUP BY word)
      |  GROUP BY k),
      |tok_cnt AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS toks FROM toks GROUP BY k),
      |ks AS (SELECT unnest(range(1, 11)) AS k),
      |base AS (
      |  SELECT ks.k,
      |    COALESCE(tok_cnt.toks, 0) AS toks,
      |    COALESCE(new_types.new_types, 0) AS new_types
      |  FROM ks LEFT JOIN new_types ON new_types.k = ks.k
      |  LEFT JOIN tok_cnt ON tok_cnt.k = ks.k)
      |SELECT k,
      |  CAST(SUM(toks) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_cum,
      |  CAST(SUM(new_types) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum,
      |  CAST(new_types AS BIGINT) AS new_types,
      |  CAST((SUM(new_types) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) * 1000000)
      |    // SUM(toks) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ttr_ppm
      |FROM base
      |ORDER BY k""".stripMargin
  query("q303_heaps_law", q303HeapsLaw, Some(q303Oracle))

  // ---------------------------------------------------------------- q304
  /** TEMPERATURE-SCALED MIXTURE ALLOCATION (the multilingual-sampling
    * rule: p_i proportional to n_i^alpha with alpha = 0.5 - XLM/mBERT's
    * corpus rebalancing, boosting low-resource sources without drowning
    * high-resource ones). The fractional power is made EXACT via
    * integer sqrt: w_i = isqrt(n_i * 10^10), where isqrt is floor(sqrt)
    * through the double path CORRECTED by one step each way (for
    * x < 2^52 the double sqrt is faithfully rounded, so +-1 covers it;
    * the bound holds through n_i ~ 4*10^5 docs per source). The
    * certificate w^2 <= x < (w+1)^2 is pinned PER SOURCE, and the
    * sample budget N = 100000 is apportioned over the weights with the
    * q290 largest-remainder rule (sum alloc = N exactly, quota
    * property). Raw vs temperature shares in ppm side by side - the
    * flattening is visible in the data, the exactness in the laws.
    */
  def q304TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = 100000L
    val src = Tables
      .documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("x", col("n_docs") * lit(10000000000L))
      .withColumn("s0", expr("cast(floor(sqrt(cast(x as double))) as bigint)"))
      .withColumn(
        "w",
        expr("""s0 + (case when (s0 + 1) * (s0 + 1) <= x then 1 else 0 end)
               |   - (case when s0 * s0 > x then 1 else 0 end)""".stripMargin))
      .withColumn("isqrt_ok", expr("w * w <= x and x < (w + 1) * (w + 1)"))
    val all = Window.partitionBy(lit(0))
    val byRem = Window.partitionBy(lit(0)).orderBy(col("rem").desc, col("source"))
    src
      .withColumn("tot_n", sum(col("n_docs")).over(all))
      .withColumn("tot_w", sum(col("w")).over(all))
      .withColumn("base", expr(s"($n * w) div tot_w"))
      .withColumn("rem", expr(s"($n * w) % tot_w"))
      .withColumn("extra", lit(n) - sum(col("base")).over(all))
      .withColumn("rk", row_number().over(byRem))
      .withColumn("alloc", col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
      .withColumn("raw_share_ppm", expr("(n_docs * 1000000) div tot_n"))
      .withColumn("alloc_share_ppm", expr(s"(alloc * 1000000) div $n"))
      .withColumn("sum_ok", sum(col("alloc")).over(all) === n)
      .select(
        col("source"), col("n_docs"), col("w"), col("alloc"),
        col("raw_share_ppm"), col("alloc_share_ppm"), col("isqrt_ok"), col("sum_ok"))
      .orderBy(col("source"))
  }

  val q304Oracle: String =
    """WITH src AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COUNT(*) AS BIGINT) * 10000000000 AS x
      |  FROM documents GROUP BY source),
      |sq AS (
      |  SELECT *, CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) AS s0 FROM src),
      |w AS (
      |  SELECT source, n_docs, x,
      |    s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)
      |       - (CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END) AS w
      |  FROM sq),
      |tot AS (
      |  SELECT source, n_docs, x, w,
      |    CAST(SUM(n_docs) OVER () AS BIGINT) AS tot_n,
      |    CAST(SUM(w) OVER () AS BIGINT) AS tot_w
      |  FROM w),
      |lr AS (
      |  SELECT *,
      |    CAST((100000 * w) // tot_w AS BIGINT) AS base,
      |    CAST((100000 * w) % tot_w AS BIGINT) AS rem
      |  FROM tot),
      |rk AS (
      |  SELECT *,
      |    CAST(100000 - SUM(base) OVER () AS BIGINT) AS extra,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      |  FROM lr),
      |a AS (
      |  SELECT source, n_docs, x, w, tot_n,
      |    CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |  FROM rk)
      |SELECT source, n_docs, w, alloc,
      |  CAST((n_docs * 1000000) // tot_n AS BIGINT) AS raw_share_ppm,
      |  CAST((alloc * 1000000) // 100000 AS BIGINT) AS alloc_share_ppm,
      |  (w * w <= x AND x < (w + 1) * (w + 1)) AS isqrt_ok,
      |  CAST(SUM(alloc) OVER () AS BIGINT) = 100000 AS sum_ok
      |FROM a
      |ORDER BY source""".stripMargin
  query("q304_temperature_mix", q304TemperatureMix, Some(q304Oracle))

  // ---------------------------------------------------------------- q305
  /** MAXIMUM SUBARRAY AND MAXIMUM DRAWDOWN (Kadane's recurrence made
    * declarative - the q191 clamped-scan identity family: best gain
    * ending at t = cum_t - min(0, runmin(cum_{t-1})), and drawdown at
    * t = runmax(cum_{t-1}) - cum_t - so BOTH sequential DPs become two
    * window passes over the per-day net series, no fold, no recursion).
    * Per event type over daily net value cents (exact half-up grid);
    * the empty subarray is allowed (best >= 0 by the min-with-0 term),
    * drawdown over an empty past is 0. The windows are per-type on the
    * bounded day axis - at 100 TB the day frame per key is still tiny;
    * the corpus-sized work is the one (type, day) aggregate.
    */
  def q305Kadane(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables
      .events(s, dir)
      .groupBy(col("event_type"), expr("cast(date_trunc('DAY', ts) as date)").as("day"))
      .agg(sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("net"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val prev = byDay.rowsBetween(Window.unboundedPreceding, -1)
    val scored = daily
      .withColumn("cum", sum(col("net")).over(byDay))
      .withColumn("minprev", least(lit(0L), coalesce(min(col("cum")).over(prev), lit(0L))))
      .withColumn("maxprev", greatest(lit(0L), coalesce(max(col("cum")).over(prev), lit(0L))))
      .withColumn("gain_end_here", col("cum") - col("minprev"))
      .withColumn("dd_here", col("maxprev") - col("cum"))
    scored
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        max(col("gain_end_here")).as("best_gain"),
        max(col("dd_here")).as("max_drawdown"),
        sum(col("net")).as("total_net"))
      .withColumn("law_ok", col("best_gain") >= greatest(lit(0L), col("total_net")))
      .orderBy(col("event_type"))
  }

  val q305Oracle: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS net
      |  FROM events GROUP BY 1, 2),
      |cums AS (
      |  SELECT event_type, day, net,
      |    SUM(net) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM daily),
      |scored AS (
      |  SELECT event_type, net, cum,
      |    least(0, COALESCE(MIN(cum) OVER
      |      (PARTITION BY event_type ORDER BY day
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS minprev,
      |    greatest(0, COALESCE(MAX(cum) OVER
      |      (PARTITION BY event_type ORDER BY day
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS maxprev
      |  FROM cums)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(MAX(cum - minprev) AS BIGINT) AS best_gain,
      |  CAST(MAX(maxprev - cum) AS BIGINT) AS max_drawdown,
      |  CAST(SUM(net) AS BIGINT) AS total_net,
      |  MAX(cum - minprev) >= greatest(0, SUM(net)) AS law_ok
      |FROM scored
      |GROUP BY 1
      |ORDER BY 1""".stripMargin
  query("q305_kadane", q305Kadane, Some(q305Oracle))

  // ---------------------------------------------------------------- q306
  /** SOURCE SIMILARITY MATRIX, SQRT-FREE — pairwise cosine between
    * per-source unigram count vectors, kept exact by comparing the
    * SQUARED cosine: cos2_ppm = dot^2 * 10^6 div (|a|^2 * |b|^2) - no
    * sqrt ever evaluates, so both engines agree bit-for-bit (the q201
    * squared-distance discipline applied to corpus composition - the
    * "which sources are redundant / which add diversity" table a
    * mixture designer reads next to q247's drift). The vectors meet on
    * the word key (one shuffle, |vocab|-bounded rows per source);
    * pairs are the |S|^2-bounded frame. The SELF-pair law cos2(a,a) =
    * exactly 10^6 is computed over every source and pinned as a global
    * verdict column - a one-ulp error anywhere flips it.
    */
  def q306SourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    val vec = Tables
      .documents(s, dir)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("c"))
    Place.persisted(vec)
    val pairs = vec
      .select(col("source").as("a"), col("word"), col("c").as("ca"))
      .join(vec.select(col("source").as("b"), col("word"), col("c").as("cb")), Seq("word"))
      .groupBy(col("a"), col("b"))
      .agg(sum((col("ca") * col("cb")).cast("decimal(38,0)")).as("dot"))
    val norms = vec
      .groupBy(col("source"))
      .agg(sum((col("c") * col("c")).cast("decimal(38,0)")).as("nrm"))
    val scored = pairs
      .join(norms.select(col("source").as("a"), col("nrm").as("na")), Seq("a"))
      .join(norms.select(col("source").as("b"), col("nrm").as("nb")), Seq("b"))
      .withColumn("cos2_ppm", expr("cast((dot * dot * 1000000) div (na * nb) as bigint)"))
    val diagOk = scored
      .where(col("a") === col("b"))
      .agg(min(col("cos2_ppm") === 1000000L).as("ok"))
    scored
      .where(col("a") < col("b"))
      .crossJoin(broadcast(diagOk))
      .select(col("a"), col("b"), col("cos2_ppm"), col("ok").as("diag_all_exact"))
      .orderBy(col("cos2_ppm").desc, col("a"), col("b"))
      .limit(10)
  }

  val q306Oracle: String =
    """WITH vec AS (
      |  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS word
      |    FROM documents)
      |  WHERE length(word) > 0
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.source AS a, b.source AS b,
      |    CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS dot
      |  FROM vec a JOIN vec b USING (word)
      |  GROUP BY 1, 2),
      |norms AS (
      |  SELECT source, CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS nrm
      |  FROM vec GROUP BY 1),
      |scored AS (
      |  SELECT pairs.a, pairs.b,
      |    CAST((dot * dot * 1000000) // (na.nrm * nb.nrm) AS BIGINT) AS cos2_ppm
      |  FROM pairs
      |  JOIN norms na ON na.source = pairs.a
      |  JOIN norms nb ON nb.source = pairs.b),
      |diag AS (
      |  SELECT MIN(cos2_ppm = 1000000) AS diag_all_exact FROM scored WHERE a = b)
      |SELECT a, b, cos2_ppm, diag.diag_all_exact
      |FROM scored, diag
      |WHERE a < b
      |ORDER BY cos2_ppm DESC, a, b
      |LIMIT 10""".stripMargin
  query("q306_source_similarity", q306SourceSimilarity, Some(q306Oracle))

  // ---------------------------------------------------------------- q307
  /** WILSON SCORE INTERVALS, EXACT-INTEGER (Wilson 1927 - the interval
    * a readout dashboard should use instead of the Wald +-1.96*se,
    * which collapses at extreme rates and small n). For conversion
    * rate p-hat = k/n per variant-segment cell at z = 1.96 (z2 encoded
    * as the exact rational 38416/10000):
    * bounds = (k + z2/2 -+ sqrt(z2/4 * (z2 + 4*k*(n-k)/n))) / (n + z2).
    * Everything is scaled to one integer grid (10^6) BEFORE the square
    * root, the root is the q304 CORRECTED isqrt (exact floor), and the
    * final bounds are single integer divisions - so lo <= p-hat <= hi
    * and 0 <= lo <= hi <= 10^6 hold exactly and are pinned per cell.
    * One events pass; the interval algebra runs on the bounded
    * (variant x segment) frame.
    */
  def q307Wilson(s: SparkSession, dir: String): DataFrame = {
    val per = Tables
      .events(s, dir)
      .groupBy(
        expr("cast(conv(substr(md5(cast(user_id as string)), 1, 4), 16, 10) as bigint) % 2")
          .as("variant"),
        expr("user_id % 3").as("segment"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("k"))
    // all terms scaled by 1e6: z2s = z^2 * 1e6 = 3841600; the radicand
    // z2/4 * (z2 + 4k(n-k)/n) lands on the 1e12 grid, isqrt brings it
    // back to 1e6. The /4 is folded into the constant (3841600/4 =
    // 960400, exact) so the radicand needs no int-division, and every
    // scaled product stages its first factor to decimal(38,0) (the
    // q170 widening discipline): in pure int64 the radicand wraps once
    // a (variant,segment) cell holds ~2.4M events — Spark (non-ANSI)
    // silently, DuckDB with a raise. Remaining ceiling: the inner
    // 4k(n-k)/n quotient must fit int64, i.e. n ≤ ~9.2e12 rows/cell.
    per
      .withColumn("p_ppm", expr("(cast(k as decimal(38,0)) * 1000000) div n"))
      .withColumn("z2s", lit(3841600L))
      .withColumn("rad", expr("cast(960400 as decimal(38,0)) * (z2s + (cast(4000000 as decimal(38,0)) * k * (n - k)) div n)"))
      .withColumn("r0", expr("cast(floor(sqrt(cast(rad as double))) as bigint)"))
      .withColumn(
        "root",
        expr("""r0 + (case when cast(r0 + 1 as decimal(38,0)) * (r0 + 1) <= rad then 1 else 0 end)
               |   - (case when cast(r0 as decimal(38,0)) * r0 > rad then 1 else 0 end)""".stripMargin))
      .withColumn("ctr", expr("cast(k as decimal(38,0)) * 1000000 + z2s div 2"))
      .withColumn("den", expr("cast(n as decimal(38,0)) * 1000000 + z2s"))
      .withColumn("lo_ppm", expr("((ctr - root) * 1000000) div den"))
      .withColumn("hi_ppm", expr("((ctr + root) * 1000000) div den"))
      .withColumn(
        "law_ok",
        expr("lo_ppm >= 0 and lo_ppm <= p_ppm + 1 and p_ppm <= hi_ppm + 1 and hi_ppm <= 1000000"))
      .select(
        col("variant"), col("segment"), col("n"), col("k"),
        col("p_ppm"), col("lo_ppm"), col("hi_ppm"), col("law_ok"))
      .orderBy(col("variant"), col("segment"))
  }

  val q307Oracle: String =
    """WITH per AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2
      |      AS variant,
      |    user_id % 3 AS segment,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM events GROUP BY 1, 2),
      |calc AS (
      |  SELECT *, (CAST(k AS HUGEINT) * 1000000) // n AS p_ppm,
      |    CAST(960400 AS HUGEINT)
      |      * (3841600 + (CAST(4000000 AS HUGEINT) * k * (n - k)) // n) AS rad
      |  FROM per),
      |sq AS (
      |  SELECT *, CAST(floor(sqrt(CAST(rad AS DOUBLE))) AS BIGINT) AS r0 FROM calc),
      |rt AS (
      |  SELECT *,
      |    r0 + (CASE WHEN CAST(r0 + 1 AS HUGEINT) * (r0 + 1) <= rad THEN 1 ELSE 0 END)
      |       - (CASE WHEN CAST(r0 AS HUGEINT) * r0 > rad THEN 1 ELSE 0 END) AS root
      |  FROM sq),
      |b AS (
      |  SELECT variant, segment, n, k, p_ppm,
      |    ((CAST(k AS HUGEINT) * 1000000 + 1920800 - root) * 1000000)
      |      // (CAST(n AS HUGEINT) * 1000000 + 3841600) AS lo_ppm,
      |    ((CAST(k AS HUGEINT) * 1000000 + 1920800 + root) * 1000000)
      |      // (CAST(n AS HUGEINT) * 1000000 + 3841600) AS hi_ppm
      |  FROM rt)
      |SELECT variant, segment, n, k, CAST(p_ppm AS BIGINT) AS p_ppm,
      |  CAST(lo_ppm AS BIGINT) AS lo_ppm, CAST(hi_ppm AS BIGINT) AS hi_ppm,
      |  (lo_ppm >= 0 AND lo_ppm <= p_ppm + 1 AND p_ppm <= hi_ppm + 1 AND hi_ppm <= 1000000)
      |    AS law_ok
      |FROM b
      |ORDER BY variant, segment""".stripMargin
  query("q307_wilson", q307Wilson, Some(q307Oracle))

  // ---------------------------------------------------------------- q308
  /** HASH COLLISION CENSUS vs THE BIRTHDAY BOUND - the quality audit a
    * pipeline runs before trusting a hash as a partitioning or dedup
    * key: bucket all document fingerprint inputs into m = 2^16 md5
    * buckets, count colliding PAIRS exactly (sum C(c,2)), and compare
    * against the uniform-hashing expectation C(n,2)/m - both sides of
    * the comparison exact integers via cross-multiplication (observed
    * * 2m vs n(n-1)), with the ratio in ppm. A biased hash shows up as
    * ratio >> 10^6; md5 should sit near it. Also the max bucket load
    * vs the ln n / ln ln n rule-of-thumb ceiling, as data. One
    * shuffle on the bucket key.
    */
  def q308HashCollisions(s: SparkSession, dir: String): DataFrame = {
    val b = Tables
      .documents(s, dir)
      .select(expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint)")
        .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("c"))
    b.agg(
        sum(col("c")).as("n"),
        count(lit(1)).as("n_buckets_hit"),
        sum(expr("(c * (c - 1)) div 2")).as("obs_pairs"),
        max(col("c")).as("max_load"))
      .withColumn("m", lit(65536L))
      .withColumn("exp_pairs_x2m", expr("n * (n - 1)"))
      .withColumn("obs_pairs_x2m", expr("obs_pairs * 2 * m"))
      .withColumn(
        "ratio_ppm",
        expr("cast((cast(obs_pairs as decimal(38,0)) * 2 * m * 1000000) div (n * (n - 1)) as bigint)"))
      .select(
        col("n"), col("n_buckets_hit"), col("obs_pairs"), col("max_load"),
        col("exp_pairs_x2m"), col("obs_pairs_x2m"), col("ratio_ppm"))
  }

  val q308Oracle: String =
    """WITH b AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1),
      |agg AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
      |    CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS obs_pairs,
      |    CAST(MAX(c) AS BIGINT) AS max_load
      |  FROM b)
      |SELECT n, n_buckets_hit, obs_pairs, max_load,
      |  n * (n - 1) AS exp_pairs_x2m,
      |  obs_pairs * 2 * 65536 AS obs_pairs_x2m,
      |  CAST((CAST(obs_pairs AS HUGEINT) * 2 * 65536 * 1000000) // (n * (n - 1)) AS BIGINT)
      |    AS ratio_ppm
      |FROM agg""".stripMargin
  query("q308_hash_collisions", q308HashCollisions, Some(q308Oracle))

  // ---------------------------------------------------------------- q309
  /** REFERENTIAL INTEGRITY AUDIT - the cross-table foreign-key census
    * an ingestion pipeline runs before publishing a snapshot (the
    * reference's upsert path assumes station/sensor keys resolve;
    * this is that assumption measured): for each declared FK edge,
    * orphan rows via LEFT ANTI join (never a count-distinct of the
    * dimension - the anti join broadcasts the small side and scans the
    * fact ONCE), plus null-key counts separated from dangling keys
    * (3VL: a NULL FK is not an orphan, it is an unknown - the two
    * failure classes need different fixes). One row per FK edge.
    */
  def q309RefIntegrity(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, fact: DataFrame, key: String, dim: DataFrame, dimKey: String) = {
      // ONE fact scan per edge: broadcast the distinct dimension keys
      // with a hit marker, left join, and fold all four counters in a
      // single aggregate - no per-edge driver actions
      fact
        .select(col(key).cast("long").as("fk"))
        .join(
          broadcast(dim.select(col(dimKey).cast("long").as("fk")).distinct()
            .withColumn("hit", lit(1))),
          Seq("fk"), "left")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
          sum(when(col("fk").isNotNull && col("hit").isNull, 1L).otherwise(0L))
            .as("n_orphans"),
          sum(when(col("fk").isNotNull && col("hit").isNull, col("fk")).otherwise(0L))
            .as("orphan_keysum"))
        .withColumn("fk_edge", lit(name))
        .select(col("fk_edge"), col("n_rows"), col("n_null_fk"), col("n_orphans"),
          col("orphan_keysum"))
    }
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val su = Tables.supplier(s, dir)
    val p = Tables.part(s, dir)
    val n = Tables.nation(s, dir)
    audit("orders.custkey->customer", o, "o_custkey", c, "c_custkey")
      .unionByName(audit("lineitem.orderkey->orders", l, "l_orderkey", o, "o_orderkey"))
      .unionByName(audit("lineitem.partkey->part", l, "l_partkey", p, "p_partkey"))
      .unionByName(audit("lineitem.suppkey->supplier", l, "l_suppkey", su, "s_suppkey"))
      .unionByName(audit("customer.nationkey->nation", c, "c_nationkey", n, "n_nationkey"))
      .unionByName(audit("supplier.nationkey->nation", su, "s_nationkey", n, "n_nationkey"))
      .orderBy(col("fk_edge"))
  }

  val q309Oracle: String =
    """SELECT * FROM (
      |  SELECT 'orders.custkey->customer' AS fk_edge,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
      |    CAST(SUM(CASE WHEN o_custkey IS NOT NULL
      |      AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
      |    CAST(COALESCE(SUM(CASE WHEN o_custkey IS NOT NULL
      |      AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
      |      THEN o_custkey ELSE 0 END), 0) AS BIGINT) AS orphan_keysum
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem.orderkey->orders',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_orderkey IS NOT NULL
      |      AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
      |      THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN l_orderkey IS NOT NULL
      |      AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
      |      THEN l_orderkey ELSE 0 END), 0) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.partkey->part',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_partkey IS NOT NULL
      |      AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)
      |      THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN l_partkey IS NOT NULL
      |      AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)
      |      THEN l_partkey ELSE 0 END), 0) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.suppkey->supplier',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_suppkey IS NOT NULL
      |      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL)
      |      THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN l_suppkey IS NOT NULL
      |      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL)
      |      THEN l_suppkey ELSE 0 END), 0) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'customer.nationkey->nation',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN c_nationkey IS NOT NULL
      |      AND c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
      |      THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN c_nationkey IS NOT NULL
      |      AND c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
      |      THEN c_nationkey ELSE 0 END), 0) AS BIGINT)
      |  FROM customer
      |  UNION ALL
      |  SELECT 'supplier.nationkey->nation',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN s_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN s_nationkey IS NOT NULL
      |      AND s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
      |      THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN s_nationkey IS NOT NULL
      |      AND s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
      |      THEN s_nationkey ELSE 0 END), 0) AS BIGINT)
      |  FROM supplier)
      |ORDER BY fk_edge""".stripMargin
  query("q309_ref_integrity", q309RefIntegrity, Some(q309Oracle))

  // ---------------------------------------------------------------- q310
  /** BURSTINESS (FANO FACTOR) PER EVENT TYPE - the dispersion index
    * var/mean of daily counts (Poisson arrivals sit at 1; bursty
    * traffic - sessions, incident storms - sits far above; the metric
    * an ingestion-capacity planner reads next to q238's seasonality).
    * Exact sufficient statistics on the bounded day frame: with daily
    * counts c_t over D days, fano_ppm = (D*SUM c^2 - (SUM c)^2) * 10^6
    * div ((D-1) * SUM c) - the unbiased variance over the mean, every
    * term integer, the single division last (q134's discipline).
    */
  def q310Burstiness(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(s, dir)
      .groupBy(col("event_type"), expr("cast(date_trunc('DAY', ts) as date)").as("day"))
      .agg(count(lit(1)).as("c"))
    daily
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("d"),
        sum(col("c")).as("sc"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("sc2"))
      .withColumn(
        "fano_ppm",
        expr("cast(((d * sc2 - cast(sc as decimal(38,0)) * sc) * 1000000) div ((d - 1) * sc) as bigint)"))
      .select(col("event_type"), col("d").as("n_days"), col("sc").as("n_events"), col("fano_ppm"))
      .orderBy(col("event_type"))
  }

  val q310Oracle: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |agg AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d,
      |    CAST(SUM(c) AS BIGINT) AS sc,
      |    CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2
      |  FROM daily GROUP BY 1)
      |SELECT event_type, d AS n_days, sc AS n_events,
      |  CAST(((d * sc2 - CAST(sc AS HUGEINT) * sc) * 1000000) // ((d - 1) * sc) AS BIGINT)
      |    AS fano_ppm
      |FROM agg
      |ORDER BY event_type""".stripMargin
  query("q310_burstiness", q310Burstiness, Some(q310Oracle))

  // ---------------------------------------------------------------- q311
  /** THRESHOLD-ALGORITHM TOP-K RANK JOIN CERTIFICATE (Fagin-Lotem-Naor
    * PODS'01 - the instance-optimal way to take top-k by a COMBINED
    * score from per-attribute rankings without scanning everything):
    * read depth d of each sorted list, take the union as candidates,
    * and the STOPPING RULE says the candidate top-k is exactly the
    * global top-k whenever the k-th candidate score >= tau(d) =
    * bestA(d) + bestB(d) (no unseen row can beat tau - each of its
    * list scores is bounded by the depth-d value). The query runs the
    * TA side (two distributed [[graft.ops.Rank.rankWithin]] ranks +
    * prefix union, the zone-map-like access path at 100 TB) AND the
    * full scan, pins the stopping verdict AND the measured set
    * equality - the certificate is data, not an assumption. Scores
    * exact integer: balance cents + 1000 per order.
    */
  def q311TaTopk(s: SparkSession, dir: String): DataFrame = {
    val d = 500L
    val k = 20L
    val base = Tables
      .customer(s, dir)
      .select(
        col("c_custkey").as("key"),
        expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)").as("sa"))
      .join(
        Tables.orders(s, dir).groupBy(col("o_custkey").as("key"))
          .agg((count(lit(1)) * 1000L).as("sb")),
        Seq("key"), "left")
      .withColumn("sb", coalesce(col("sb"), lit(0L)))
      .withColumn("combined", col("sa") + col("sb"))
      .withColumn("g", lit(0))
    val ranked = graft.ops.Rank.rankWithin(
      graft.ops.Rank.rankWithin(base, Seq("g"), -col("sa"), col("key"), "ra"),
      Seq("g"), -col("sb"), col("key"), "rb")
    Place.persisted(ranked)
    // d_eff = min(d, n): a table smaller than the read depth makes the
    // depth-d row nonexistent and tau NULL - clamp to the last rank
    val tau = ranked
      .crossJoin(broadcast(ranked.agg(max(col("ra")).as("nr"))))
      .agg(
        max(when(col("ra") === least(lit(d), col("nr")), col("sa"))).as("ba"),
        max(when(col("rb") === least(lit(d), col("nr")), col("sb"))).as("bb"),
        max(least(lit(d), col("nr"))).as("d_eff"))
      .select((col("ba") + col("bb")).as("tau"), col("d_eff"))
    val candTopk = ranked
      .where(col("ra") <= d || col("rb") <= d)
      .orderBy(col("combined").desc, col("key"))
      .limit(k.toInt)
    val fullTopk = ranked
      .orderBy(col("combined").desc, col("key"))
      .limit(k.toInt)
    val candAgg = candTopk.agg(
      count(lit(1)).as("k_cand"),
      min(col("combined")).as("kth_cand_score"),
      sum(col("key")).as("cand_idsum"))
    val fullAgg = fullTopk.agg(
      count(lit(1)).as("k_full"),
      min(col("combined")).as("kth_full_score"),
      sum(col("key")).as("full_idsum"))
    candAgg
      .crossJoin(fullAgg)
      .crossJoin(broadcast(tau))
      .select(
        col("d_eff").as("depth"),
        lit(k).as("k"),
        col("tau"),
        col("kth_cand_score"),
        (col("kth_cand_score") >= col("tau")).as("stop_ok"),
        (col("cand_idsum") === col("full_idsum") &&
          col("kth_cand_score") === col("kth_full_score") &&
          col("k_cand") === col("k_full")).as("sets_equal"),
        col("full_idsum").as("topk_idsum"))
  }

  val q311Oracle: String =
    """WITH base AS (
      |  SELECT c.c_custkey AS key,
      |    CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS sa,
      |    COALESCE(o.sb, 0) AS sb
      |  FROM customer c LEFT JOIN (
      |    SELECT o_custkey, CAST(COUNT(*) * 1000 AS BIGINT) AS sb
      |    FROM orders GROUP BY 1) o ON o.o_custkey = c.c_custkey),
      |ranked AS (
      |  SELECT key, sa, sb, sa + sb AS combined,
      |    ROW_NUMBER() OVER (ORDER BY sa DESC, key) AS ra,
      |    ROW_NUMBER() OVER (ORDER BY sb DESC, key) AS rb
      |  FROM base),
      |nr AS (SELECT LEAST(500, MAX(ra)) AS d_eff FROM ranked),
      |tau AS (
      |  SELECT CAST(MAX(CASE WHEN ra = nr.d_eff THEN sa END)
      |       + MAX(CASE WHEN rb = nr.d_eff THEN sb END) AS BIGINT) AS tau,
      |    CAST(MAX(nr.d_eff) AS BIGINT) AS d_eff
      |  FROM ranked, nr),
      |cand AS (
      |  SELECT * FROM ranked WHERE ra <= 500 OR rb <= 500
      |  ORDER BY combined DESC, key LIMIT 20),
      |fullk AS (
      |  SELECT * FROM ranked ORDER BY combined DESC, key LIMIT 20),
      |ca AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k_cand,
      |    CAST(MIN(combined) AS BIGINT) AS kth_cand_score,
      |    CAST(SUM(key) AS BIGINT) AS cand_idsum FROM cand),
      |fa AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k_full,
      |    CAST(MIN(combined) AS BIGINT) AS kth_full_score,
      |    CAST(SUM(key) AS BIGINT) AS full_idsum FROM fullk)
      |SELECT tau.d_eff AS depth, CAST(20 AS BIGINT) AS k, tau.tau,
      |  ca.kth_cand_score,
      |  ca.kth_cand_score >= tau.tau AS stop_ok,
      |  (ca.cand_idsum = fa.full_idsum AND ca.kth_cand_score = fa.kth_full_score
      |    AND ca.k_cand = fa.k_full) AS sets_equal,
      |  fa.full_idsum AS topk_idsum
      |FROM ca, fa, tau""".stripMargin
  query("q311_ta_topk", q311TaTopk, Some(q311Oracle))

  // ---------------------------------------------------------------- q312
  /** DICTIONARY-ENCODING ADVISOR - the storage-planning census a
    * columnar warehouse runs before (re)writing a table: per string
    * column, exact NDV, plain byte mass (UTF-8 bytes - Spark
    * octet_length, DuckDB strlen; char length lies on multibyte), and
    * the dictionary estimate = distinct-value bytes + n rows * ceil(
    * log2(ndv)/8) code bytes (the bit width from length(bin(ndv-1)) -
    * the q199 integer-log recipe, never float log2). The recommend
    * flag is the exact byte comparison. One aggregate per column over
    * its own table - no joins, the advisor shape.
    */
  def q312DictAdvisor(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, t: DataFrame, c: String) =
      t.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col(c)).as("ndv"),
          sum(octet_length(col(c)).cast("long")).as("plain_bytes"))
        .withColumn("column_name", lit(name))
        .withColumn("code_bytes", expr("(length(bin(greatest(ndv - 1, 1))) + 7) div 8"))
    // distinct-value byte mass needs its own aggregate over the
    // distinct set - computed per column and joined by name
    def full(name: String, t: DataFrame, c: String) = {
      val distinctBytes = t
        .select(col(c).as("v"))
        .distinct()
        .agg(coalesce(sum(octet_length(col("v")).cast("long")), lit(0L)).as("dvb"))
      audit(name, t, c)
        .crossJoin(broadcast(distinctBytes))
        .withColumn("dict_bytes", col("dvb") + col("n_rows") * col("code_bytes"))
        .withColumn("recommend_dict", col("dict_bytes") < col("plain_bytes"))
        .select(
          col("column_name"), col("n_rows"), col("ndv"), col("plain_bytes"),
          col("code_bytes"), col("dict_bytes"), col("recommend_dict"))
    }
    full("customer.c_mktsegment", Tables.customer(s, dir), "c_mktsegment")
      .unionByName(full("customer.c_name", Tables.customer(s, dir), "c_name"))
      .unionByName(full("orders.o_orderpriority", Tables.orders(s, dir), "o_orderpriority"))
      .unionByName(full("orders.o_orderstatus", Tables.orders(s, dir), "o_orderstatus"))
      .unionByName(full("part.p_name", Tables.part(s, dir), "p_name"))
      .orderBy(col("column_name"))
  }

  val q312Oracle: String = {
    def one(name: String, table: String, c: String) =
      s"""  SELECT '$name' AS column_name,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
         |    CAST(SUM(strlen($c)) AS BIGINT) AS plain_bytes,
         |    CAST((length(bin(greatest(COUNT(DISTINCT $c) - 1, 1))) + 7) // 8 AS BIGINT)
         |      AS code_bytes,
         |    CAST((SELECT COALESCE(SUM(strlen(v)), 0)
         |          FROM (SELECT DISTINCT $c AS v FROM $table))
         |      + COUNT(*) * ((length(bin(greatest(COUNT(DISTINCT $c) - 1, 1))) + 7) // 8)
         |      AS BIGINT) AS dict_bytes,
         |    (SELECT COALESCE(SUM(strlen(v)), 0)
         |       FROM (SELECT DISTINCT $c AS v FROM $table))
         |      + COUNT(*) * ((length(bin(greatest(COUNT(DISTINCT $c) - 1, 1))) + 7) // 8)
         |      < SUM(strlen($c)) AS recommend_dict
         |  FROM $table""".stripMargin
    Seq(
      one("customer.c_mktsegment", "customer", "c_mktsegment"),
      one("customer.c_name", "customer", "c_name"),
      one("orders.o_orderpriority", "orders", "o_orderpriority"),
      one("orders.o_orderstatus", "orders", "o_orderstatus"),
      one("part.p_name", "part", "p_name")
    ).mkString("SELECT * FROM (\n", "\n  UNION ALL\n", ")\nORDER BY column_name")
  }
  query("q312_dict_advisor", q312DictAdvisor, Some(q312Oracle))

  // ---------------------------------------------------------------- q313
  /** SPLIT-CONFORMAL PREDICTION COVERAGE (Vovk; Lei et al. JASA'18 -
    * the distribution-free uncertainty wrapper an ML-eval pipeline
    * puts around ANY point forecast): forecast HOURLY purchase revenue
    * with a trailing-7-hour integer mean (the corpus spans only ~30
    * days at every SF - hourly units give ~700 exchangeable points
    * where daily gave 23 and a 12-sample coverage estimate that was
    * pure noise), take q-hat = the ceil((n_cal+1)*0.9)-th smallest
    * absolute residual on the FIRST half (discrete rank-selected, the
    * q92 recipe), and MEASURE coverage of [y-hat +- q-hat] on the
    * second half - the conformal guarantee says >= 90% in expectation;
    * the measured ppm is the readout. Everything integer cents on the
    * bounded hour frame; split by index so the halves are
    * deterministic.
    */
  def q313Conformal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables
      .events(s, dir)
      .where(col("event_type") === "purchase")
      .groupBy(expr("date_trunc('HOUR', ts)").as("day"))
      .agg(sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("y"))
    val byDay = Window.orderBy(col("day"))
    val trail = byDay.rowsBetween(-7, -1)
    val scored = daily
      .withColumn("i", row_number().over(byDay))
      .withColumn("nprev", count(lit(1)).over(trail))
      .withColumn("yhat", expr("cast(sum(y) over (order by day rows between 7 preceding and 1 preceding) div nprev as bigint)"))
      .where(col("nprev") === 7)
      .withColumn("r", abs(col("y") - col("yhat")))
    Place.persisted(scored)
    val nAll = scored.agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    val nCal = nAll / 2
    val cal = scored.where(col("i") <= lit(nCal) + 7)
    val eval = scored.where(col("i") > lit(nCal) + 7)
    val byR = Window.orderBy(col("r"), col("day"))
    // rank clamped into [1, n_cal]: below ~18 qualifying hours
    // ceil((n_cal+1)*0.9) exceeds n_cal and an unclamped rank selects
    // NOTHING — Spark's global agg over the then-empty cross join
    // returns one all-null row while the oracle's GROUP BY returns zero
    // rows. Clamping picks the max residual (the conservative interval)
    // and keeps both engines row-identical. n_cal = 0 (a corpus with no
    // qualifying hours at all) stays degenerate by precondition.
    val qhat = cal
      .withColumn("rr", row_number().over(byR))
      .where(col("rr") === expr(
        s"cast(least(greatest(ceil(($nCal + 1) * 0.9), 1), $nCal) as bigint)"))
      .select(col("r").as("qhat"))
    eval
      .crossJoin(broadcast(qhat))
      .agg(
        lit(nCal).as("n_cal"),
        count(lit(1)).as("n_eval"),
        max(col("qhat")).as("qhat_cents"),
        sum(when(col("r") <= col("qhat"), 1L).otherwise(0L)).as("n_covered"))
      .withColumn("coverage_ppm", expr("(n_covered * 1000000) div n_eval"))
      .select(col("n_cal"), col("n_eval"), col("qhat_cents"), col("n_covered"),
        col("coverage_ppm"))
  }

  val q313Oracle: String =
    """WITH daily AS (
      |  SELECT date_trunc('hour', ts) AS day,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |scored0 AS (
      |  SELECT day, y,
      |    ROW_NUMBER() OVER (ORDER BY day) AS i,
      |    COUNT(*) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS nprev,
      |    CAST(SUM(y) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
      |      AS ysum
      |  FROM daily),
      |scored AS (
      |  SELECT day, y, i, CAST(ysum // nprev AS BIGINT) AS yhat,
      |    ABS(y - CAST(ysum // nprev AS BIGINT)) AS r
      |  FROM scored0 WHERE nprev = 7),
      |n AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS n_cal FROM scored),
      |cal AS (SELECT scored.* FROM scored, n WHERE i <= n_cal + 7),
      |ev AS (SELECT scored.* FROM scored, n WHERE i > n_cal + 7),
      |qh AS (
      |  SELECT r AS qhat FROM (
      |    SELECT r, ROW_NUMBER() OVER (ORDER BY r, day) AS rr FROM cal), n
      |  WHERE rr = CAST(least(greatest(ceil((n_cal + 1) * 0.9), 1), n_cal) AS BIGINT))
      |SELECT n.n_cal,
      |  CAST(COUNT(*) AS BIGINT) AS n_eval,
      |  CAST(MAX(qh.qhat) AS BIGINT) AS qhat_cents,
      |  CAST(SUM(CASE WHEN ev.r <= qh.qhat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  CAST((SUM(CASE WHEN ev.r <= qh.qhat THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
      |    AS BIGINT) AS coverage_ppm
      |FROM ev, qh, n
      |GROUP BY n.n_cal""".stripMargin
  query("q313_conformal", q313Conformal, Some(q313Oracle))

  // ---------------------------------------------------------------- q314
  /** GINI COEFFICIENT + LORENZ CURVE of token mass across sources —
    * the corpus-balance readout a mixture designer checks before
    * setting sampling weights (a Gini near 0 = sources contribute
    * evenly, near 10⁶ ppm = one source dominates; complements q62's
    * mixture weights and q304's temperature allocation with the
    * inequality MEASUREMENT). Exact integer form of the rank formula
    * (Lorenz/Gini, Sen 1973): with masses x₁≤…≤xₙ and ascending rank
    * i, G = (2·Σ i·xᵢ − (n+1)·S) / (n·S) — everything scaled to ppm by
    * cross-multiplication, no float ever. One token scan → |sources|
    * rows; the rank/cumsum windows run on that bounded model-state
    * frame (|sources| = 20 at every SF by generator construction).
    */
  def q314GiniLorenz(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mass = Tables
      .documents(s, dir)
      .where(col("text").isNotNull)
      .groupBy(col("source"))
      .agg(sum(expr("size(filter(split(lower(text), ' '), w -> length(w) > 0))")
        .cast("long")).as("mass"))
    val byMass = Window.orderBy(col("mass"), col("source"))
    val ranked = mass
      .withColumn("rnk", row_number().over(byMass))
      .withColumn("cum", sum(col("mass")).over(
        byMass.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = ranked.agg(
      count(lit(1)).as("n_sources"),
      sum(col("mass")).as("s_total"),
      // first factor decimal(38,0) (q170 discipline): rnk·mass·10⁶
      // wraps int64 once a source holds ~4.6e11 tokens
      sum(expr("cast(rnk as decimal(38,0)) * mass")).as("ixs"))
    ranked
      .crossJoin(broadcast(tot))
      .withColumn("cum_share_ppm", expr("(cast(cum as decimal(38,0)) * 1000000) div s_total"))
      .withColumn(
        "gini_ppm",
        expr("((2 * ixs - (n_sources + 1) * s_total) * 1000000) div (n_sources * cast(s_total as decimal(38,0)))"))
      .select(col("rnk"), col("source"), col("mass"), col("cum_share_ppm"), col("gini_ppm"))
      .orderBy(col("rnk"))
  }

  val q314Oracle: String =
    """WITH mass AS (
      |  SELECT source,
      |    CAST(SUM(len(list_filter(string_split(lower(text), ' '), w -> len(w) > 0))) AS BIGINT)
      |      AS mass
      |  FROM documents WHERE text IS NOT NULL GROUP BY source),
      |ranked AS (
      |  SELECT source, mass,
      |    CAST(ROW_NUMBER() OVER (ORDER BY mass, source) AS BIGINT) AS rnk,
      |    CAST(SUM(mass) OVER (ORDER BY mass, source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM mass),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
      |    CAST(SUM(mass) AS BIGINT) AS s_total,
      |    CAST(SUM(CAST(rnk AS HUGEINT) * mass) AS HUGEINT) AS ixs
      |  FROM ranked)
      |SELECT rnk, source, mass,
      |  CAST((CAST(cum AS HUGEINT) * 1000000) // s_total AS BIGINT) AS cum_share_ppm,
      |  CAST(((2 * ixs - (n_sources + 1) * s_total) * 1000000)
      |    // (n_sources * CAST(s_total AS HUGEINT)) AS BIGINT) AS gini_ppm
      |FROM ranked, tot
      |ORDER BY rnk""".stripMargin
  query("q314_gini_lorenz", q314GiniLorenz, Some(q314Oracle))

  // ---------------------------------------------------------------- q315
  /** CHAO1 RICHNESS + GOOD–TURING UNSEEN MASS — the vocabulary
    * saturation estimators (Chao 1984; Good 1953) a tokenizer team
    * reads next to q303's Heaps curve: Chao1 extrapolates the TRUE
    * vocabulary size from the singleton/doubleton census
    * (V + f₁(f₁−1)/(2(f₂+1)), the bias-corrected form that never
    * divides by zero), and the Good–Turing estimate says the NEXT
    * token is unseen with probability f₁/N. Both in exact ppm via
    * cross-multiplication — the f₁² product staged to decimal(38,0)
    * (q170 discipline; f₁ can reach corpus scale). One token scan →
    * one word-keyed aggregate → a 3-level frequency-of-frequencies
    * census folded in a single global aggregate.
    */
  def q315Chao1(s: SparkSession, dir: String): DataFrame = {
    val wc = Tables
      .documents(s, dir)
      .where(col("text").isNotNull)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("c"))
    wc.agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .withColumn(
        "chao1_scaled",
        expr("vocab * 1000000 + (cast(f1 as decimal(38,0)) * (f1 - 1) * 1000000) div (2 * (f2 + 1))"))
      .withColumn("p0_ppm", expr("(cast(f1 as decimal(38,0)) * 1000000) div n_tokens"))
      .select(
        col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        col("chao1_scaled"), col("p0_ppm"))
  }

  val q315Oracle: String =
    """WITH wc AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(list_filter(string_split(lower(text), ' '), w -> len(w) > 0)) AS word
      |    FROM documents WHERE text IS NOT NULL)
      |  GROUP BY word),
      |census AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM wc)
      |SELECT n_tokens, vocab, f1, f2,
      |  CAST(vocab * 1000000
      |    + (CAST(f1 AS HUGEINT) * (f1 - 1) * 1000000) // (2 * (f2 + 1)) AS BIGINT)
      |    AS chao1_scaled,
      |  CAST((CAST(f1 AS HUGEINT) * 1000000) // n_tokens AS BIGINT) AS p0_ppm
      |FROM census""".stripMargin
  query("q315_chao1_richness", q315Chao1, Some(q315Oracle))

  // ---------------------------------------------------------------- q316
  /** EXACT TWO-SAMPLE KOLMOGOROV–SMIRNOV DISTANCE between the event
    * `value` distributions of the two md5 user variants (q307's split)
    * — the distribution-equality gate an experimentation pipeline runs
    * BEFORE trusting a variant comparison (a large D on a pre-metric
    * means the split itself is biased). Values land on the integer
    * cent grid (q313's quantization), per-cent counts per variant,
    * and D = max |F₀ − F₁| is computed as the exact integer
    * max |c₀·n₁ − c₁·n₀| with the final ppm division last. The
    * distributed work is the events scan + cents aggregate; the
    * cumulatives run as plain windows over that frame, which is
    * BOUNDED MODEL STATE — the cent grid has ≤ 49,002 possible rows
    * at ANY corpus size (the value domain is generator-fixed), the
    * q290/q313 bounded-frame discipline (a distributed two-pass here
    * costs ~10 extra stages to order 49k rows — measured slower at
    * every SF). Max-gap location = the smallest cent achieving the
    * max (deterministic argmax). Output carries the grid size so the
    * reader can judge support overlap.
    *
    * PRECONDITION (the q313 degenerate-corpus posture): a non-empty
    * events table with at least one non-null value. On a fully empty
    * input Spark's global aggregate over the empty grid returns one
    * all-null row while the oracle's GROUP BY over the tot columns
    * returns zero — the engines diverge only when there is no data to
    * test at all, which the generator never produces at any SF.
    */
  def q316KsDistance(s: SparkSession, dir: String): DataFrame = {
    val per = Tables
      .events(s, dir)
      .where(col("value").isNotNull)
      .select(
        expr("cast(conv(substr(md5(cast(user_id as string)), 1, 4), 16, 10) as bigint) % 2")
          .as("variant"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("cents"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("d0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("d1"))
    // the bounded cent grid feeds the windows AND the totals aggregate
    // — persist or the events scan re-runs per consumer
    Place.persisted(per)
    import org.apache.spark.sql.expressions.Window
    val byCents = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("c0", sum(col("d0")).over(byCents))
      .withColumn("c1", sum(col("d1")).over(byCents))
    val tot = per.agg(sum(col("d0")).as("n0"), sum(col("d1")).as("n1"), count(lit(1)).as("n_grid"))
    val gaps = cum
      .crossJoin(broadcast(tot))
      // first factor decimal(38,0): c·n products wrap int64 at ~3e9
      // rows per variant (q170 discipline)
      .withColumn("gap", expr("abs(cast(c0 as decimal(38,0)) * n1 - cast(c1 as decimal(38,0)) * n0)"))
    Place.persisted(gaps)
    val mx = gaps.agg(max(col("gap")).as("max_gap"))
    gaps
      .crossJoin(broadcast(mx))
      .where(col("gap") === col("max_gap"))
      .groupBy(col("n0"), col("n1"), col("n_grid"))
      .agg(min(col("cents")).as("ks_at_cents"), max(col("gap")).as("gap"))
      .withColumn("ks_ppm", expr("cast((gap * 1000000) div (cast(n0 as decimal(38,0)) * n1) as bigint)"))
      .select(col("n0"), col("n1"), col("n_grid"), col("ks_at_cents"), col("ks_ppm"))
  }

  val q316Oracle: String =
    """WITH per AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d0,
      |    CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d1
      |  FROM events WHERE value IS NOT NULL GROUP BY 1),
      |cum AS (
      |  SELECT cents,
      |    CAST(SUM(d0) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c0,
      |    CAST(SUM(d1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1
      |  FROM per),
      |tot AS (
      |  SELECT CAST(SUM(d0) AS BIGINT) AS n0, CAST(SUM(d1) AS BIGINT) AS n1,
      |    CAST(COUNT(*) AS BIGINT) AS n_grid
      |  FROM per),
      |gaps AS (
      |  SELECT cents, abs(CAST(c0 AS HUGEINT) * n1 - CAST(c1 AS HUGEINT) * n0) AS gap
      |  FROM cum, tot),
      |mx AS (SELECT MAX(gap) AS max_gap FROM gaps)
      |SELECT tot.n0, tot.n1, tot.n_grid,
      |  CAST(MIN(cents) AS BIGINT) AS ks_at_cents,
      |  CAST((MAX(gap) * 1000000) // (CAST(tot.n0 AS HUGEINT) * tot.n1) AS BIGINT) AS ks_ppm
      |FROM gaps, mx, tot
      |WHERE gap = max_gap
      |GROUP BY tot.n0, tot.n1, tot.n_grid""".stripMargin
  query("q316_ks_distance", q316KsDistance, Some(q316Oracle))

  // ---------------------------------------------------------------- q317
  /** MANN–WHITNEY U WITH MIDRANKS — the nonparametric A/B test
    * statistic (Mann & Whitney 1947) next to q300's CUPED and q307's
    * Wilson intervals: rank all values jointly (ties get the midrank),
    * U₀ = R₀ − n₀(n₀+1)/2, and AUC = U₀/(n₀n₁) is the probability a
    * variant-0 draw exceeds a variant-1 draw. Midranks are
    * half-integers, so EVERYTHING runs on the 2× grid and stays
    * integer-exact: per cent value with t = t₀+t₁ ties and C = count
    * before it, each element's doubled midrank is 2C + t + 1, so
    * R₀×2 = Σ t₀·(2C + t + 1). The law U₀ + U₁ = n₀n₁ (doubled:
    * U₀ₓ₂ + U₁ₓ₂ = 2n₀n₁) rides as a verdict column — a single
    * mis-ranked tie block cannot cancel. Same bounded-grid cumulative
    * as q316 (≤ 49,002 cent rows at any corpus size), products staged
    * to decimal(38,0).
    *
    * PRECONDITION: same as q316 — a non-empty events table with at
    * least one non-null value; on a fully empty input the Spark global
    * aggregate yields one all-null row where the oracle's GROUP BY
    * yields zero (the q313 degenerate-corpus divergence, never
    * produced by the generator at any SF).
    */
  def q317MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val per = Tables
      .events(s, dir)
      .where(col("value").isNotNull)
      .select(
        expr("cast(conv(substr(md5(cast(user_id as string)), 1, 4), 16, 10) as bigint) % 2")
          .as("variant"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("cents"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("t0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("t1"))
      .withColumn("t", col("t0") + col("t1"))
    Place.persisted(per)
    import org.apache.spark.sql.expressions.Window
    val byCents = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per.withColumn("ct", sum(col("t")).over(byCents))
    val tot = per.agg(sum(col("t0")).as("n0"), sum(col("t1")).as("n1"))
    cum
      .withColumn("c_prev", col("ct") - col("t")) // exclusive cumulative
      .crossJoin(broadcast(tot))
      .agg(
        max(col("n0")).as("n0"),
        max(col("n1")).as("n1"),
        // doubled midrank sum per group; first factors decimal(38,0)
        sum(expr("cast(t0 as decimal(38,0)) * (2 * c_prev + t + 1)")).as("r0_x2"),
        sum(expr("cast(t1 as decimal(38,0)) * (2 * c_prev + t + 1)")).as("r1_x2"))
      .withColumn("u0_x2", expr("r0_x2 - cast(n0 as decimal(38,0)) * (n0 + 1)"))
      .withColumn("u1_x2", expr("r1_x2 - cast(n1 as decimal(38,0)) * (n1 + 1)"))
      .withColumn("law_ok", expr("u0_x2 + u1_x2 = 2 * cast(n0 as decimal(38,0)) * n1"))
      .withColumn("auc_ppm", expr("cast((u0_x2 * 1000000) div (2 * cast(n0 as decimal(38,0)) * n1) as bigint)"))
      .select(
        col("n0"), col("n1"),
        col("u0_x2").cast("long").as("u0_x2"),
        col("u1_x2").cast("long").as("u1_x2"),
        col("law_ok"), col("auc_ppm"))
  }

  val q317Oracle: String =
    """WITH per AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS t0,
      |    CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS t1
      |  FROM events WHERE value IS NOT NULL GROUP BY 1),
      |cum AS (
      |  SELECT cents, t0, t1, t0 + t1 AS t,
      |    CAST(SUM(t0 + t1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      - (t0 + t1) AS c_prev
      |  FROM per),
      |tot AS (SELECT CAST(SUM(t0) AS BIGINT) AS n0, CAST(SUM(t1) AS BIGINT) AS n1 FROM per),
      |r AS (
      |  SELECT tot.n0, tot.n1,
      |    CAST(SUM(CAST(t0 AS HUGEINT) * (2 * c_prev + t + 1)) AS HUGEINT) AS r0_x2,
      |    CAST(SUM(CAST(t1 AS HUGEINT) * (2 * c_prev + t + 1)) AS HUGEINT) AS r1_x2
      |  FROM cum, tot GROUP BY tot.n0, tot.n1),
      |u AS (
      |  SELECT n0, n1,
      |    r0_x2 - CAST(n0 AS HUGEINT) * (n0 + 1) AS u0_x2,
      |    r1_x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS u1_x2
      |  FROM r)
      |SELECT n0, n1,
      |  CAST(u0_x2 AS BIGINT) AS u0_x2, CAST(u1_x2 AS BIGINT) AS u1_x2,
      |  (u0_x2 + u1_x2 = 2 * CAST(n0 AS HUGEINT) * n1) AS law_ok,
      |  CAST((u0_x2 * 1000000) // (2 * CAST(n0 AS HUGEINT) * n1) AS BIGINT) AS auc_ppm
      |FROM u""".stripMargin
  query("q317_mann_whitney", q317MannWhitney, Some(q317Oracle))

  // ---------------------------------------------------------------- q318
  /** IMPORTANCE-WEIGHT ESS DIAGNOSTIC (Kong 1992's effective sample
    * size, the reweighting sanity check next to q62/q142/q304's
    * mixture planners): reweighting the EMPIRICAL per-source document
    * distribution to the UNIFORM-over-sources target gives each doc in
    * source s the weight w_s = N/(k·n_s); the diagnostic every
    * reweighted-training run needs is ESS = (Σw)²/Σw² — how many
    * effective documents the weighted corpus is worth. Algebra
    * collapses it to ESS = k²/Σ_s(1/n_s) (k · harmonic mean), so the
    * statistic is DEFINED on the 10¹² reciprocal grid (each 1/n_s as
    * the floor integer 10¹² div n_s — grid definition, not
    * approximation: both engines replay the floor identically, the
    * repo-wide exact-replay recipe). Per-source w ppm rides as a
    * column, plus the ESS ≤ N readout — a LAW in the reals (AM–HM:
    * equality iff the corpus is already uniform) but a DIAGNOSTIC on
    * the grid: floor(10¹²/n_s) under-counts Σ(1/n_s), so a
    * near-uniform corpus can read a few grid units above N; both
    * engines compute the identical grid value either way. One
    * row-count scan of documents — no token work.
    */
  def q318ImportanceEss(s: SparkSession, dir: String): DataFrame = {
    val per = Tables
      .documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"))
    Place.persisted(per)
    val tot = per.agg(
      sum(col("n_s")).as("n"),
      count(lit(1)).as("k"),
      sum(expr("1000000000000 div n_s")).as("inv_sum"))
    per
      .crossJoin(broadcast(tot))
      .select(
        col("source"),
        col("n_s"),
        // per-doc importance weight in ppm: (N · 10⁶) div (k · n_s)
        expr("cast((cast(n as decimal(38,0)) * 1000000) div (k * n_s) as bigint)").as("w_ppm"),
        col("n"),
        col("k"),
        // ESS = k² / Σ(1/n_s) on the 10¹² grid, emitted in docs
        expr("cast((cast(k as decimal(38,0)) * k * 1000000000000) div inv_sum as bigint)").as("ess_docs"),
        // effective fraction of the corpus in ppm
        expr("cast(((cast(k as decimal(38,0)) * k * 1000000000000) div inv_sum) * 1000000 div n as bigint)")
          .as("ess_ppm"))
      .withColumn("ess_le_n", col("ess_docs") <= col("n"))
      .orderBy(col("source"))
  }

  val q318Oracle: String =
    """WITH per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY source
      |), tot AS (
      |  SELECT CAST(SUM(n_s) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(1000000000000 // n_s) AS BIGINT) AS inv_sum
      |  FROM per
      |)
      |SELECT per.source, per.n_s,
      |  CAST((CAST(n AS HUGEINT) * 1000000) // (k * n_s) AS BIGINT) AS w_ppm,
      |  tot.n, tot.k,
      |  CAST((CAST(k AS HUGEINT) * k * 1000000000000) // inv_sum AS BIGINT) AS ess_docs,
      |  CAST(((CAST(k AS HUGEINT) * k * 1000000000000) // inv_sum) * 1000000 // n AS BIGINT) AS ess_ppm,
      |  (CAST(k AS HUGEINT) * k * 1000000000000) // inv_sum <= n AS ess_le_n
      |FROM per, tot
      |ORDER BY per.source""".stripMargin
  query("q318_importance_ess", q318ImportanceEss, Some(q318Oracle))

  // ---------------------------------------------------------------- q319
  /** ZIPF RANK-FREQUENCY SLOPE, integer-exact (Zipf's law: freq ∝
    * rank^−s with s ≈ 1 — the corpus-health fingerprint next to q303's
    * Heaps law and q137's vocab stats; a slope far from −1 flags
    * boilerplate or templated spam): word frequencies from one token
    * scan, rank by (freq DESC, word), keep the top-1024 ranks (a
    * BOUNDED model-state frame at any corpus size), take integer log₂
    * of rank and frequency via length(bin(x))−1 (the q199
    * engine-portable recipe — no transcendental ever evaluated), and
    * fit OLS on the (log₂ rank, log₂ freq) grid from exact integer
    * sufficient statistics: slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) in ppm,
    * decimal(38,0)-staged cross products (the q134 recipe).
    */
  def q319ZipfSlope(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables
      .documents(s, dir)
      .select(explode(TextStats.tokens(lower(col("text")))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
    // top-1024 via orderBy+limit FIRST (TakeOrderedAndProject — fully
    // distributed partial top-k), THEN the rank window on the bounded
    // 1024-row frame; a global row_number over the full vocabulary
    // would single-partition-sort the whole vocab at corpus scale
    val ranked = freq
      .orderBy(col("freq").desc, col("word"))
      .limit(1024)
      .withColumn("rk", row_number().over(Window.orderBy(col("freq").desc, col("word"))))
      .select(
        expr("cast(length(bin(rk)) - 1 as bigint)").as("x"),
        expr("cast(length(bin(freq)) - 1 as bigint)").as("y"))
    ranked
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
      .select(
        col("n"),
        col("sx"),
        col("sy"),
        expr("cast(((cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy) * 1000000) div (cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx) as bigint)")
          .as("slope_ppm"))
      .withColumn("zipf_like", col("slope_ppm") < 0)
  }

  val q319Oracle: String =
    """WITH freq AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |    FROM documents)
      |  WHERE length(word) > 0
      |  GROUP BY word
      |), ranked AS (
      |  SELECT CAST(length(bin(rk)) - 1 AS BIGINT) AS x,
      |         CAST(length(bin(freq)) - 1 AS BIGINT) AS y
      |  FROM (SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rk FROM freq)
      |  WHERE rk <= 1024
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      |  FROM ranked
      |)
      |SELECT n, sx, sy,
      |  CAST(((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000000)
      |    // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS slope_ppm,
      |  ((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000000)
      |    // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) < 0 AS zipf_like
      |FROM stats""".stripMargin
  query("q319_zipf_slope", q319ZipfSlope, Some(q319Oracle))

  // ---------------------------------------------------------------- q320
  /** COHEN'S KAPPA ANNOTATOR AGREEMENT (Cohen 1960 — the label-noise
    * diagnostic an LLM-data pipeline runs between any two quality
    * raters before trusting either): two deterministic rule
    * "annotators" over documents — A: length rule (≥ 64 tokens),
    * B: stopword rule (stopword tokens ≥ ¼ of tokens, integer
    * cross-multiplied) — one confusion-matrix aggregate, then kappa as
    * the EXACT RATIONAL (N·agree − Σ marginal products) /
    * (N² − Σ marginal products), emitted in ppm with a single
    * truncating division last (both engines truncate toward zero —
    * the q198-probed law, so a negative kappa replays identically
    * too). The kappa ≤ po law (exact in the rationals whenever
    * pe > 0) rides as a column. PRECONDITION (q313 posture): the two
    * annotators must not be constant AND identical — pe = 1 makes
    * kappa undefined (DuckDB raises, Spark ANSI-off nulls), which no
    * generator corpus produces. Chance-corrected agreement, one scan.
    */
  def q320CohensKappa(s: SparkSession, dir: String): DataFrame = {
    val stopArr = TextStats.stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    val labeled = Tables
      .documents(s, dir)
      .select(TextStats.tokens(lower(col("text"))).as("toks"))
      .select(
        when(size(col("toks")) >= 64, 1L).otherwise(0L).as("a"),
        when(
          expr(s"size(filter(toks, t -> array_contains($stopArr, t))) * 4 >= size(toks)"),
          1L).otherwise(0L).as("b"))
    labeled
      .agg(
        count(lit(1)).as("n"),
        sum(expr("case when a = 1 and b = 1 then 1 else 0 end")).as("n11"),
        sum(expr("case when a = 1 and b = 0 then 1 else 0 end")).as("n10"),
        sum(expr("case when a = 0 and b = 1 then 1 else 0 end")).as("n01"),
        sum(expr("case when a = 0 and b = 0 then 1 else 0 end")).as("n00"))
      .select(
        col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        expr("cast(((n11 + n00) * 1000000) div n as bigint)").as("po_ppm"),
        // pe numerator: marginal products a1·b1 + a0·b0 (decimal-staged)
        expr("""cast(((cast(n as decimal(38,0)) * (n11 + n00)
               |      - (cast(n11 + n10 as decimal(38,0)) * (n11 + n01)
               |         + cast(n01 + n00 as decimal(38,0)) * (n10 + n00))) * 1000000)
               |  div (cast(n as decimal(38,0)) * n
               |       - (cast(n11 + n10 as decimal(38,0)) * (n11 + n01)
               |          + cast(n01 + n00 as decimal(38,0)) * (n10 + n00))) as bigint)""".stripMargin)
          .as("kappa_ppm"))
      .withColumn("kappa_le_po", col("kappa_ppm") <= col("po_ppm"))
  }

  val q320Oracle: String = {
    val stopList = graft.ops.TextStats.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH lab AS (
      |  SELECT CASE WHEN len(toks) >= 64 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN len(list_filter(toks, t -> list_contains($stopList, t))) * 4 >= len(toks)
      |         THEN 1 ELSE 0 END AS b
      |  FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents)
      |), c AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |  FROM lab
      |)
      |SELECT n, n11, n10, n01, n00,
      |  CAST(((n11 + n00) * 1000000) // n AS BIGINT) AS po_ppm,
      |  CAST(((CAST(n AS HUGEINT) * (n11 + n00)
      |         - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |            + CAST(n01 + n00 AS HUGEINT) * (n10 + n00))) * 1000000)
      |    // (CAST(n AS HUGEINT) * n
      |        - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |           + CAST(n01 + n00 AS HUGEINT) * (n10 + n00))) AS BIGINT) AS kappa_ppm,
      |  CAST(((CAST(n AS HUGEINT) * (n11 + n00)
      |         - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |            + CAST(n01 + n00 AS HUGEINT) * (n10 + n00))) * 1000000)
      |    // (CAST(n AS HUGEINT) * n
      |        - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |           + CAST(n01 + n00 AS HUGEINT) * (n10 + n00))) AS BIGINT)
      |    <= CAST(((n11 + n00) * 1000000) // n AS BIGINT) AS kappa_le_po
      |FROM c""".stripMargin
  }
  query("q320_cohens_kappa", q320CohensKappa, Some(q320Oracle))
  // ---------------------------------------------------------------- q96
  /** PageRank (ops/PageRank) over the part↔supplier co-occurrence graph
    * — the canonical iterative-graph workload, 3 power-iteration rounds
    * at d = 0.85 on the symmetrized DISTINCT lineitem edge set. Each
    * round is one src-keyed join + one dst-keyed decimal-accumulated
    * aggregate (order-independent sums — engine- and partitioning-
    * exact), localCheckpointed per round. Oracle: the same three rounds
    * UNROLLED as DuckDB CTEs, generated by the same Scala loop that
    * could unroll any round count — query and oracle share the round
    * definition by construction.
    */
  def q96PageRank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // r15: run the iteration on LONG node ids (partkey·2 / suppkey·2+1)
    // and re-attach the "p…"/"s…" strings only on the tiny output frame.
    // The rank values are a pure function of graph STRUCTURE (degrees,
    // adjacency, N) — the decimal-staged sums never see the key bytes —
    // so the result is bit-identical while the three rounds of joins,
    // aggregates and the edge distinct shuffle/hash/compare 8-byte longs
    // instead of strings (oracle keeps the string form end to end).
    val edges = PageRank.symmetrize(
      li.select(
        (col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")
      ).distinct()
    )
    PageRank
      .run(edges, iters = 3, damping = 0.85)
      .select(
        when(col("node") % 2 === 0, concat(lit("p"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
          .as("node"),
        round(col("r"), 10).as("r"))
      .orderBy(col("node"))
  }

  val q96Oracle: String = {
    // unroll r1..r3 with the same recurrence the Spark loop runs
    val rounds = (1 to 3)
      .map { i =>
        s"""r$i AS (
           |  SELECT e.dst AS node,
           |    ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / any_value(nn.n)) +
           |    0.85 * CAST(SUM(CAST(p.r / deg.deg AS DECIMAL(38,12))) AS DOUBLE) AS r
           |  FROM e
           |  JOIN r${i - 1} p ON e.src = p.node
           |  JOIN deg ON e.src = deg.src, nn
           |  GROUP BY e.dst
           |)""".stripMargin
      }
      .mkString(", ")
    s"""WITH d AS (
       |  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
       |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM lineitem
       |), e AS (
       |  SELECT src, dst FROM d UNION SELECT dst, src FROM d
       |), deg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
       |), nodes AS (
       |  SELECT DISTINCT src AS node FROM e
       |), nn AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
       |), r0 AS (
       |  SELECT node, 1.0 / nn.n AS r FROM nodes, nn
       |), $rounds
       |SELECT node, round(r, 10) AS r FROM r3
       |ORDER BY node""".stripMargin
  }
  query("q96_pagerank", q96PageRank, Some(q96Oracle))

  // ---------------------------------------------------------------- q106
  /** PageRank on a DIRECTED graph with dangling nodes — exercises the
    * two general-graph behaviors q96's symmetrized run never touches:
    * parts are pure sinks (no out-edges → their rank folds back
    * uniformly each round) and suppliers are pure sources (no in-edges
    * → they must keep their teleport share instead of dropping out of
    * round 2+). Same round algebra as q96; the oracle unrolls the
    * recurrence INCLUDING the per-round dangling-mass scalar, so the
    * fold is driver-certified, not just spec-asserted.
    */
  def q106PagerankDirected(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // long node ids for the iteration, strings re-attached on the output
    // frame only — same mechanism and bit-identity argument as q96 (the
    // dangling-mass scalar is a decimal sum over ranks, key-blind too)
    val edges = li
      .select(
        (col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2).as("dst")
      )
      .distinct()
    PageRank
      .run(edges, iters = 3, damping = 0.85)
      .select(
        when(col("node") % 2 === 0, concat(lit("p"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
          .as("node"),
        round(col("r"), 10).as("r"))
      .orderBy(col("node"))
  }

  val q106Oracle: String = {
    // unroll r1..r3 with the same recurrence PageRank.run executes:
    // csum via decimal(38,12)-staged sums; dm = rank mass on nodes with
    // no out-edges, folded back as d·dm/N; nodes with no in-edges keep
    // (1-d)/N + d·dm/N via the LEFT JOIN's NULL csum
    val rounds = (1 to 3)
      .map { i =>
        s"""c$i AS (
           |  SELECT e.dst AS node,
           |    CAST(SUM(CAST(p.r / deg.deg AS DECIMAL(38,12))) AS DOUBLE) AS csum
           |  FROM e
           |  JOIN r${i - 1} p ON e.src = p.node
           |  JOIN deg ON e.src = deg.src
           |  GROUP BY e.dst
           |), dm$i AS (
           |  SELECT CAST(COALESCE(SUM(CAST(r AS DECIMAL(38,12))), 0) AS DOUBLE) AS dm
           |  FROM r${i - 1} WHERE node NOT IN (SELECT src FROM deg)
           |), r$i AS (
           |  SELECT n.node,
           |    ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n) +
           |    0.85 * (COALESCE(c$i.csum, CAST(0 AS DOUBLE)) + (dm$i.dm / nn.n)) AS r
           |  FROM nodes n LEFT JOIN c$i ON n.node = c$i.node, nn, dm$i
           |)""".stripMargin
      }
      .mkString(", ")
    s"""WITH e AS (
       |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
       |                  'p' || CAST(l_partkey AS VARCHAR) AS dst
       |  FROM lineitem
       |), deg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
       |), nodes AS (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e
       |), nn AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
       |), r0 AS (
       |  SELECT node, 1.0 / nn.n AS r FROM nodes, nn
       |), $rounds
       |SELECT node, round(r, 10) AS r FROM r3
       |ORDER BY node""".stripMargin
  }
  query("q106_pagerank_directed", q106PagerankDirected, Some(q106Oracle))

  // ---------------------------------------------------------------- q107
  /** HARD-NEGATIVE mining at PRODUCTION shape — q91's contract served
    * from LSH candidates instead of the exact all-pairs pass (q91 stays
    * as the oracled audit-scale baseline; its cost is quadratic by
    * design). Candidates are vectors within Hamming distance 1 of the
    * anchor's sign sketch in ANY table (the q31 one-side multiprobe
    * geometry): one shuffle on the 8-byte (tbl, bucket) key, per-anchor
    * argmax over ~candidate rows, never n. SELF-AUDITING on the bounded
    * anchor slice (the q46 pattern), grounded by an exact slice×corpus
    * pass: `audit_slice_neg_top1_agree` (mined hardest negative equals
    * the exact one) and `audit_slice_neg_in_cands` (the exact hardest
    * negative was in the anchor's candidate set at all — separates
    * candidate-recall misses from argmax misses). ORACLED since round 5:
    * the dynamic LshSql replay ([[q107OracleFor]]) re-derives the whole
    * pipeline — candidates, both argmaxes, both audits — in SQL at the
    * verify corpus's own geometry. The crossover claim below is
    * MEASURED by ops.SimilaritySpec's candidate-fraction ladder
    * (CandidateFractionSpec): as n grows and lshParams raises nbits,
    * the candidate fraction provably collapses.
    *
    * Honest cost note, MEASURED in CandidateFractionSpec (round 5):
    * with n = 2000 and 2^5 buckets the candidate set is ~a third of
    * the corpus, so this does NOT beat q91's exact pass HERE. As n
    * grows and lshParams raises nbits, the per-anchor candidate
    * fraction falls ~n^(−1/3) (measured 0.70 → 0.46 → 0.30 over
    * n = 2¹¹..2¹⁷ at this contract), then FLOORS at ~27% when the
    * maxTables backoff pins nbits — a bounded few-× per-anchor win
    * over the exact pass at the same recall contract, NOT an unbounded
    * collapse; the sub-5% collapse (measured 0.034 at n = 2²⁰) belongs
    * to the higher-cosine contract (targetCosine ≈ 0.7) a production
    * miner uses once candidates only need the top of the similarity
    * range. The audits certify the quality side of the trade: 0.96 of
    * exact hardest negatives survive the candidate cut.
    */
  def q107HardNegativesAnn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val (nbits, tables) =
      Similarity.lshParams(e.count(), targetCosine = 0.4, probeHamming = 1)
    val idx = Similarity
      // spread: the sketch pass ran as a single 2.3 s task (r15)
      .bucketIndex(
        Place.spread(e, col("vec_id")),
        "vec_id", "embedding", nbits, tables)
      .transform(Place.materialized) // eager: both self-join sides share this cache
    // radius-1 multiprobe on the anchor side: a pair whose sketches
    // differ by <= 1 bit collides in some probed bucket (see
    // Similarity.nearDupsEmbedding's orientation argument)
    val probed = array(
      (col("bucket") +: (0 until nbits).map(j => col("bucket").bitwiseXOR(lit(1L << j)))).toIndexedSeq: _*
    )
    val aSide = idx.select(col("tbl"), explode(probed).as("bucket"), col("vec_id").as("anchor"))
    val bSide = idx.select(col("tbl"), col("bucket"), col("vec_id").as("other"))
    val cands = aSide
      .join(bSide, Seq("tbl", "bucket"))
      .filter(col("anchor") =!= col("other"))
      .select(col("anchor"), col("other"))
      .distinct()
      .transform(Place.materialized) // eager: mining + candidate-recall audit share this cache
    // both bucket-join sides are folded into the materialized cands —
    // the index cache is dead from here (r15, the postingsReleasable
    // discipline)
    idx.unpersist()
    val va = e.select(col("vec_id").as("anchor"), col("embedding").as("va"), col("label").as("la"))
    val vb = e.select(col("vec_id").as("other"), col("embedding").as("vb"), col("label").as("lb"))
    val mined = cands
      .join(va, "anchor")
      .join(vb, "other")
      .select(
        col("anchor"), col("la"), col("other"), col("lb"),
        round(Similarity.cosine(col("va"), col("vb")), 6).as("sim")
      )
      .groupBy(col("anchor"))
      .agg(
        max(when(col("la") === col("lb"), struct(col("sim"), (-col("other")).as("nid")))).as("pos"),
        max(when(col("la") =!= col("lb"), struct(col("sim"), (-col("other")).as("nid")))).as("neg")
      )
      .filter(col("pos").isNotNull && col("neg").isNotNull)
      .select(
        col("anchor"),
        (-col("pos.nid")).as("pos_id"),
        col("pos.sim").as("pos_sim"),
        (-col("neg.nid")).as("neg_id"),
        col("neg.sim").as("neg_sim"),
        round(col("pos.sim") - col("neg.sim"), 6).as("margin")
      )
      .transform(Place.materialized) // eager: output + agreement audit share this cache
    // exact hardest negative on the bounded anchor slice (slice×corpus)
    val exactNeg = e
      .filter(col("vec_id") < 500)
      .select(col("vec_id").as("anchor"), col("embedding").as("va"), col("label").as("la"))
      // spread: the slice×corpus exact pass ran as one task (r15)
      .transform(Place.spread(_, col("anchor")))
      .join(vb, col("anchor") =!= col("other"))
      .select(
        col("anchor"), col("la"), col("other"), col("lb"),
        round(Similarity.cosine(col("va"), col("vb")), 6).as("sim")
      )
      .filter(col("la") =!= col("lb"))
      .groupBy(col("anchor"))
      .agg(max(struct(col("sim"), (-col("other")).as("nid"))).as("xneg"))
      .select(col("anchor"), (-col("xneg.nid")).as("xneg_id"))
      .transform(Place.materialized) // eager: both audit consumers share this cache
    val agree = exactNeg
      .join(mined.select(col("anchor"), col("neg_id")), Seq("anchor"), "left")
      .agg(
        round(avg(when(col("neg_id") === col("xneg_id"), 1.0).otherwise(0.0)), 4)
          .as("audit_slice_neg_top1_agree")
      )
    val inCands = exactNeg
      .join(
        cands.select(col("anchor"), col("other").as("xneg_id"), lit(1).as("hit")),
        Seq("anchor", "xneg_id"),
        "left"
      )
      .agg(
        round(avg(coalesce(col("hit"), lit(0)).cast("double")), 4)
          .as("audit_slice_neg_in_cands")
      )
    mined
      .crossJoin(broadcast(agree))
      .crossJoin(broadcast(inCands))
      .orderBy(col("anchor"))
  }
  query("q107_hard_negatives_ann", q107HardNegativesAnn, None)

  // ---------------------------------------------------------------- q109
  /** IVF-PQ two-stage ANN serving (round 6) — the PRODUCTION vector
    * search stack composed from the proven pieces: an IVF coarse
    * quantizer (q35's trained k-means) partitions the corpus into
    * cells; every vector is PQ-encoded (q94's 16×4-bit codes, 32×
    * memory); a query probes its `nprobe` nearest cells, ADC-scores
    * ONLY the codes in those cells (≈ nprobe/k of the corpus), takes a
    * shortlist, and exact-reranks the shortlisted raw floats. At
    * 100 TB this is the shape that serves: the float corpus is never
    * scanned — a probe touches nprobe/k of an 8-byte-per-vector code
    * table map-side, and the float fetch is shortlist-sized.
    * Self-auditing: recall@k against the exact brute top-k over the
    * FULL corpus, plus the measured scanned fraction.
    *
    * ORACLED (dynamic, [[q109OracleFor]]): composes the two trained
    * replays end-to-end — IvfSql's Lloyd chain re-trains the coarse
    * quantizer in SQL, the fitted PQ codebooks embed as literals
    * (q94's builders), and probing, candidate confinement, ADC,
    * re-rank, recall and scanned-fraction arithmetic all replay
    * relationally.
    */
  private[graft] val q109KCells = 16
  private[graft] val q109IvfIters = 2
  private[graft] val q109Nprobe = 2
  private[graft] val q109NQ = 20
  private[graft] val q109K = 10
  private[graft] val q109Short = 40

  def q109IvfPq(s: SparkSession, dir: String): DataFrame = {
    val (kc, ivfIters, nprobe) = (q109KCells, q109IvfIters, q109Nprobe)
    val (m, ksub, pqIters) = (q94M, q94Ksub, q94Iters)
    val (nQ, k, short) = (q109NQ, q109K, q109Short)
    val e = Tables
      .embeddings(s, dir)
      .select(
        col("vec_id"),
        col("embedding"), // raw floats: centroid scoring + exact rerank/baseline
        Pq.normalize(col("embedding")).as("vec") // normalized: PQ fit/encode/LUT
      )
      .transform(Place.persisted)
    val n = e.count() // eager: fit + encode + probe + baseline share this cache
    val cents = Ivf.fitCentroids(e, kc, ivfIters)
    val assigned = Ivf.assign(e, cents)
    val codebooks = Pq.fit(e.filter(pmod(col("vec_id"), lit(4)) === 0), m, ksub, pqIters)
    // the serving-side index: 8-byte codes + a cell id per vector —
    // this narrow frame is ALL a probe ever scans
    val encoded = Pq
      .encode(e, codebooks)
      .join(assigned.select(col("vec_id"), col("cluster_id")), "vec_id")
    val queries = e.filter(col("vec_id") < nQ)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cluster_id"))
    val probes = queries
      .crossJoin(broadcast(cents))
      .withColumn(
        "sim",
        Similarity.cosine(col("embedding"), transform(col("centroid"), _.cast("float")))
      )
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("cluster_id"))
    val cands = encoded
      .join(broadcast(probes), Seq("cluster_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("qvec"), col("codes"))
      .transform(Place.materialized) // eager: scanned-fraction + ADC consumers share this cache
    val scanned = cands
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_cand"))
      .agg(round(sum(col("n_cand")) / lit(nQ.toDouble * (n - 1)), 4).as("scanned_fraction"))
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    val shortlist = cands
      .select(
        col("query_id"),
        col("neighbor_id"),
        Pq.adcScore(col("qvec"), col("codes"), codebooks).as("score")
      )
      .withColumn("rank", row_number().over(wa))
      .filter(col("rank") <= short)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rscore").desc, col("neighbor_id"))
    val reranked = shortlist
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nemb")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("rscore", Similarity.cosine(col("qemb"), col("nemb")))
      .withColumn("rrank", row_number().over(wr))
      .filter(col("rrank") <= k)
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("xscore").desc, col("neighbor_id"))
    val exact = e
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        Similarity.cosine(col("qemb"), col("embedding")).as("xscore")
      )
      .withColumn("xrank", row_number().over(wx))
      .filter(col("xrank") <= k)
    val recall = reranked
      .select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"))
      .agg(round(count(lit(1)) / lit(nQ.toDouble * k), 4).as("recall_at_k"))
    recall
      .crossJoin(broadcast(scanned))
      .select(
        lit(n).as("n_vectors"),
        lit(nQ).as("n_queries"),
        lit(k).as("k"),
        lit(kc).as("cells"),
        lit(nprobe).as("nprobe"),
        lit(short).as("shortlist"),
        col("recall_at_k"),
        col("scanned_fraction"),
        lit((64 * 4) / (q94M / 2)).as("compression_x")
      )
  }

  /** q109 generated oracle — the composed trained replay (mirrors
    * q94OracleFor's codebook/encode/LUT builders verbatim and splices
    * in IvfSql's Lloyd chain; kept self-contained so q94's green
    * generator stays untouched).
    */
  def q109OracleFor(s: SparkSession, dir: String): String = {
    val (kc, ivfIters, nprobe) = (q109KCells, q109IvfIters, q109Nprobe)
    val (m, ksub, pqIters) = (q94M, q94Ksub, q94Iters)
    val (nQ, k, short) = (q109NQ, q109K, q109Short)
    val dim = 64
    val dsub = dim / m
    val eFit = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), Pq.normalize(col("embedding")).as("vec"))
      .filter(pmod(col("vec_id"), lit(4)) === 0)
    val codebooks = Pq.fit(eFit, m, ksub, pqIters)
    val n = Tables.embeddings(s, dir).count()
    val cwRows = (0 until m)
      .flatMap { sIdx =>
        codebooks(sIdx).sortBy(_._1).map { case (code, w) =>
          val ws = w.map(x => s"CAST('$x' AS DOUBLE)").mkString(", ")
          s"($sIdx, $code, $ws)"
        }
      }
      .mkString(",\n    ")
    val normChain = (1 to dim)
      .map(i => s"CAST(embedding[$i] AS DOUBLE)*CAST(embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    def sqDistChain(vec: String): String =
      (1 to dsub)
        .map(j => s"($vec[cw.s*$dsub+$j]-cw.w$j)*($vec[cw.s*$dsub+$j]-cw.w$j)")
        .mkString(" + ")
    def dotChain(vec: String): String =
      (1 to dsub).map(j => s"$vec[cw.s*$dsub+$j]*cw.w$j").mkString(" + ")
    val cosRR = IvfSql.cosFloatFloat("ce.embedding", "qe.embedding")
    val cosEX = IvfSql.cosFloatFloat("c.embedding", "q.embedding")
    s"""WITH cw(s, code, ${(1 to dsub).map("w" + _).mkString(", ")}) AS (
       |  VALUES
       |    $cwRows
       |), e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), ${IvfSql.lloydChain(kc, ivfIters)}, ${IvfSql.assignCte("idx2", s"c$ivfIters")}, qp AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${IvfSql.cosFloatDouble("e.embedding", "c.cd")} DESC, c.cid ASC) AS rn
       |    FROM e, c$ivfIters c WHERE e.vec_id < $nQ
       |  ) WHERE rn <= $nprobe
       |), nv AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt($normChain)) AS v
       |  FROM e
       |), enc AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT nv.vec_id, cw.s, cw.code,
       |      row_number() OVER (PARTITION BY nv.vec_id, cw.s
       |        ORDER BY (${sqDistChain("nv.v")}) ASC, cw.code ASC) AS rn
       |    FROM nv, cw
       |  ) WHERE rn = 1
       |), lut AS (
       |  SELECT q.vec_id AS query_id, cw.s, cw.code, (${dotChain("q.v")}) AS d
       |  FROM nv q, cw WHERE q.vec_id < $nQ
       |), cand AS (
       |  SELECT q.query_id, i.vec_id AS neighbor_id
       |  FROM qp q JOIN idx2 i USING (cid)
       |  WHERE i.vec_id <> q.query_id
       |), sf AS (
       |  SELECT round(count(*) / CAST('${nQ.toDouble * (n - 1)}' AS DOUBLE), 4) AS scanned_fraction
       |  FROM cand
       |), adc AS (
       |  SELECT l.query_id, en.vec_id AS neighbor_id,
       |    list_reduce(list(l.d ORDER BY l.s), (x, y) -> x + y) AS score
       |  FROM enc en
       |  JOIN lut l ON en.s = l.s AND en.code = l.code
       |  JOIN cand c ON c.query_id = l.query_id AND c.neighbor_id = en.vec_id
       |  GROUP BY l.query_id, en.vec_id
       |), short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |    FROM adc
       |  ) WHERE rank <= $short
       |), rrk AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT s.query_id, s.neighbor_id,
       |      row_number() OVER (PARTITION BY s.query_id ORDER BY $cosRR DESC, s.neighbor_id) AS rrank
       |    FROM short s
       |    JOIN e ce ON s.neighbor_id = ce.vec_id
       |    JOIN e qe ON s.query_id = qe.vec_id
       |  ) WHERE rrank <= $k
       |), ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $cosEX DESC, c.vec_id) AS xrank
       |    FROM e c, e q WHERE q.vec_id < $nQ AND c.vec_id <> q.vec_id
       |  ) WHERE xrank <= $k
       |), rc AS (
       |  SELECT round(count(*) / CAST('${nQ.toDouble * k}' AS DOUBLE), 4) AS recall_at_k
       |  FROM rrk JOIN ex USING (query_id, neighbor_id)
       |)
       |SELECT CAST($n AS BIGINT) AS n_vectors, $nQ AS n_queries, $k AS k,
       |  $kc AS cells, $nprobe AS nprobe, $short AS shortlist,
       |  rc.recall_at_k, sf.scanned_fraction,
       |  ${(64 * 4) / (m / 2)} AS compression_x
       |FROM rc, sf""".stripMargin
  }
  query("q109_ivf_pq", q109IvfPq, None)

  // ---------------------------------------------------------------- q188
  /** BENFORD FIRST-DIGIT AUDIT — the data-quality screen for fabricated
    * or truncated numeric columns: per event type, the first-digit
    * distribution of positive cent values against Benford's
    * log10(1 + 1/d), with a scaled chi-square statistic. The Benford
    * masses are fixed 1e-6-grid integer literals (transcendental-free
    * recipe), the digit comes from the decimal string head (no
    * floating log10), and the chi-square numerator (obs·10⁶ − n·p)²
    * reaches ~4e20 — per-row INT64 overflow, so it rides
    * decimal(38,0)/HUGEINT (the q170/q182 widen-first lesson).
    */
  def q188Benford(s: SparkSession, dir: String): DataFrame = {
    val p6 = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L, 57991L, 51152L, 45757L)
    val ev = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .where(col("cents") > 0)
      .withColumn("d", expr("cast(substring(cast(cents as string), 1, 1) as int)"))
    val obs = ev.groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("obs"))
    val totals = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    import s.implicits._
    val bexp = Seq.tabulate(9)(i => (i + 1, p6(i))).toDF("d_e", "p_e6")
    val obs2 = obs.withColumnsRenamed(Map("event_type" -> "o_et", "d" -> "o_d"))
    val full = totals
      .crossJoin(bexp)
      .join(obs2, col("event_type") === col("o_et") && col("d_e") === col("o_d"), "left")
      .select(
        col("event_type"),
        col("d_e"),
        coalesce(col("obs"), lit(0L)).as("obs"),
        col("n"),
        col("p_e6"))
    val chi = full
      .withColumn(
        "dev2",
        expr("(cast(obs as decimal(38,0)) * 1000000 - cast(n as decimal(38,0)) * p_e6) * " +
          "(cast(obs as decimal(38,0)) * 1000000 - cast(n as decimal(38,0)) * p_e6)"))
      .withColumn("term", expr("cast(dev2 div (cast(n as decimal(38,0)) * p_e6 * 1000000) as bigint)"))
    chi
      .groupBy(col("event_type"), col("n"))
      .agg(
        sum(when(col("d_e") === 1, col("obs")).otherwise(0L)).as("obs_d1"),
        sum(when(col("d_e") === 9, col("obs")).otherwise(0L)).as("obs_d9"),
        sum(col("term")).as("chi2_scaled"))
      .orderBy(col("event_type"))
  }

  val q188Oracle: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events
      |), pos AS (
      |  SELECT event_type,
      |    CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS d
      |  FROM ev WHERE cents > 0
      |), obs AS (SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS obs FROM pos GROUP BY 1, 2),
      |totals AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM pos GROUP BY 1),
      |bexp AS (
      |  SELECT CAST(u.d AS INT) AS d_e, u.p AS p_e6 FROM (
      |    SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d,
      |           unnest([301029,176091,124938,96910,79181,66946,57991,51152,45757]) AS p) u
      |), fl AS (
      |  SELECT t.event_type, b.d_e, COALESCE(o.obs, 0) AS obs, t.n, b.p_e6
      |  FROM totals t CROSS JOIN bexp b
      |  LEFT JOIN obs o ON o.event_type = t.event_type AND o.d = b.d_e
      |), chi AS (
      |  SELECT event_type, n, d_e, obs,
      |    CAST(((CAST(obs AS HUGEINT) * 1000000 - CAST(n AS HUGEINT) * p_e6) *
      |          (CAST(obs AS HUGEINT) * 1000000 - CAST(n AS HUGEINT) * p_e6))
      |         // (CAST(n AS HUGEINT) * p_e6 * 1000000) AS BIGINT) AS term
      |  FROM fl
      |)
      |SELECT event_type, n,
      |  CAST(SUM(CASE WHEN d_e = 1 THEN obs ELSE 0 END) AS BIGINT) AS obs_d1,
      |  CAST(SUM(CASE WHEN d_e = 9 THEN obs ELSE 0 END) AS BIGINT) AS obs_d9,
      |  CAST(SUM(term) AS BIGINT) AS chi2_scaled
      |FROM chi
      |GROUP BY event_type, n
      |ORDER BY event_type""".stripMargin
  query("q188_benford", q188Benford, Some(q188Oracle))

  // ---------------------------------------------------------------- q203
  /** IDW INTERPOLATION — the reference domain's actual spatial use
    * case: estimate a measurement at an arbitrary point from nearby
    * stations by inverse-distance weighting. Exact-integer contract:
    * weights are `SCALE div (d2 + 1)` (the +1 makes a co-located
    * station dominant without a zero division; floor IS the
    * definition), the estimate is ⌊Σ v·w / Σ w⌋, and the v·w products
    * ride decimal(38,0)/HUGEINT (per-term ≈ 5e19 overflows INT64 —
    * the widen-first lesson again). Candidates come from the q202 grid
    * radius join; uncovered points (no station within 5°) are counted,
    * not invented.
    */
  def q203IdwInterpolation(s: SparkSession, dir: String): DataFrame = {
    val R = 5000000L
    val st = Tables
      .supplier(s, dir)
      .select(col("s_suppkey").as("sk"))
      .withColumn("slat", expr("((sk * 2654435761) % 120000000) - 60000000"))
      .withColumn("slon", expr("((sk * 2246822519) % 360000000) - 180000000"))
      .withColumn("v_cents", expr("(sk * 7919) % 50000"))
    val pts = Tables
      .customer(s, dir)
      .where(col("c_custkey") <= 2000)
      .select(col("c_custkey").as("pk"))
      .withColumn("plat", expr("((pk * 3266489917) % 120000000) - 60000000"))
      .withColumn("plon", expr("((pk * 668265263) % 360000000) - 180000000"))
    val pairs = graft.ops.Geo
      .radiusJoin(pts, st, "plat", "plon", "slat", "slon", R)
      .withColumn("w", expr("1000000000000000 div (d2 + 1)"))
    val est = pairs
      .groupBy(col("pk"))
      .agg(
        count(lit(1)).as("n_near"),
        sum(expr("cast(v_cents as decimal(38,0)) * w")).as("vw"),
        sum(col("w")).as("wsum"))
      .withColumn("est_cents", expr("cast(vw div wsum as bigint)"))
    pts
      .select(col("pk"))
      .join(est, Seq("pk"), "left")
      .groupBy(expr("pk div 200").as("bucket"))
      .agg(
        count(lit(1)).as("n_points"),
        sum(col("est_cents").isNotNull.cast("long")).as("n_covered"),
        coalesce(sum(col("est_cents")), lit(0L)).as("sum_est_cents"),
        coalesce(sum(col("n_near")), lit(0L)).as("n_pairs"))
      .orderBy(col("bucket"))
  }

  val q203Oracle: String =
    """WITH st AS (
      |  SELECT s_suppkey AS sk,
      |    ((s_suppkey * 2654435761) % 120000000) - 60000000 AS slat,
      |    ((s_suppkey * 2246822519) % 360000000) - 180000000 AS slon,
      |    (s_suppkey * 7919) % 50000 AS v_cents
      |  FROM supplier
      |), pts AS (
      |  SELECT c_custkey AS pk,
      |    ((c_custkey * 3266489917) % 120000000) - 60000000 AS plat,
      |    ((c_custkey * 668265263) % 360000000) - 180000000 AS plon
      |  FROM customer WHERE c_custkey <= 2000
      |), pairs AS (
      |  SELECT pk,
      |    (plat - slat) * (plat - slat) + (plon - slon) * (plon - slon) AS d2,
      |    v_cents
      |  FROM pts, st
      |  WHERE (plat - slat) * (plat - slat) + (plon - slon) * (plon - slon)
      |        <= CAST(5000000 AS BIGINT) * 5000000
      |), w AS (
      |  SELECT pk, v_cents, 1000000000000000 // (d2 + 1) AS w FROM pairs
      |), est AS (
      |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_near,
      |    CAST(SUM(CAST(v_cents AS HUGEINT) * w) // SUM(w) AS BIGINT) AS est_cents
      |  FROM w GROUP BY pk
      |)
      |SELECT CAST(pts.pk // 200 AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_points,
      |  CAST(SUM(CASE WHEN est.est_cents IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  CAST(COALESCE(SUM(est.est_cents), 0) AS BIGINT) AS sum_est_cents,
      |  CAST(COALESCE(SUM(est.n_near), 0) AS BIGINT) AS n_pairs
      |FROM pts LEFT JOIN est ON est.pk = pts.pk
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin
  query("q203_idw_interpolation", q203IdwInterpolation, Some(q203Oracle))

  // ---------------------------------------------------------------- q207
  /** CC CROSS-IMPLEMENTATION AGREEMENT — the two connected-components
    * engines ([[graft.ops.Components.connectedComponents]] min-label,
    * O(diameter) rounds, and
    * [[graft.ops.Components.largeStarSmallStar]], O(log n) rounds)
    * must produce the IDENTICAL (id → min-reachable-id) labeling on
    * the block graph. Disagreements are counted via a null-safe
    * full-outer label join (pinned 0), and the summary (nodes,
    * components, label checksum) is what the oracle recomputes from
    * the recursive-CTE reachability definition — three independent
    * implementations, one answer.
    */
  def q207CcAgreement(s: SparkSession, dir: String): DataFrame = {
    val edges = blockGraph(s, dir)
    // the two implementations are independent sequential eager loops:
    // overlap them on two driver threads (Place.overlap)
    val (a, b) = Place.overlap(
      graft.ops.Components
        .connectedComponents(edges, "u", "v")
        .withColumnsRenamed(Map("component" -> "ca")),
      graft.ops.Components
        .largeStarSmallStar(edges, "u", "v")
        .withColumnsRenamed(Map("component" -> "cb")))
    val joined = a.join(b, Seq("id"), "full_outer")
    val dis = joined
      .agg(
        count(lit(1)).as("n_nodes"),
        sum((!(col("ca") <=> col("cb"))).cast("long")).as("n_disagreements"))
    val summ = a.agg(
      countDistinct(col("ca")).as("n_components"),
      sum(col("ca")).as("label_sum"))
    dis
      .crossJoin(summ)
      .select(
        col("n_nodes"),
        col("n_components"),
        col("n_disagreements"),
        col("label_sum"))
  }

  val q207Oracle: String =
    s"""WITH RECURSIVE eset AS (
       |$BlockGraphSql
       |), sym AS (
       |  SELECT u AS src, v AS dst FROM eset
       |  UNION ALL SELECT v, u FROM eset
       |), reach(id, comp) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
       |), lab AS (
       |  SELECT id, MIN(comp) AS component FROM reach GROUP BY id
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
       |  CAST(0 AS BIGINT) AS n_disagreements,
       |  CAST(SUM(component) AS BIGINT) AS label_sum
       |FROM lab""".stripMargin
  query("q207_cc_agreement", q207CcAgreement, Some(q207Oracle))

  // ---------------------------------------------------------------- q265
  /** LOCAL CLUSTERING COEFFICIENT — the per-node closure of q174's
    * global triangle count: cc(n) = 2·t(n) / (deg(n)·(deg(n)−1)),
    * where t(n) is the number of triangles through n (each q174
    * degree-ordered triangle row exploded to its three corners — no
    * second triangle pass) and deg(n) the simple undirected degree.
    * Integer-exact in ppm (2·10⁶·t div deg·(deg−1)); degree-1 nodes
    * carry NULL. Rolled up per 100-node bucket: node count, closed
    * wedges (Σ2t), open+closed wedges (Σ deg·(deg−1)), exact-rational
    * bucket coefficient, and min/max per-node ppm — the skew profile a
    * curriculum-sampling pass reads. Oracle replays the textbook
    * canonical x<y<z triple join + corner unnest.
    */
  def q265ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val edges = blockGraph(s, dir)
    val canon = edges
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    val deg = canon
      .select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("deg"))
    val tri = graft.ops.Triangles
      .triangles(edges, "u", "v")
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("tri"))
    val perNode = deg
      .join(tri, Seq("node"), "left")
      .na.fill(0L, Seq("tri"))
      .withColumn("wedges", col("deg") * (col("deg") - 1))
      .withColumn(
        "cc_ppm",
        when(col("deg") >= 2, expr("(2000000 * tri) div wedges")))
    perNode
      .groupBy(expr("node div 100").as("bucket"))
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(lit(2) * col("tri")).as("closed_wedges"),
        sum(col("wedges")).as("all_wedges"),
        expr("CASE WHEN sum(wedges) > 0 THEN (2000000 * sum(tri)) div sum(wedges) END")
          .as("bucket_cc_ppm"),
        min(col("cc_ppm")).as("min_cc_ppm"),
        max(col("cc_ppm")).as("max_cc_ppm"))
      .orderBy(col("bucket"))
  }

  val q265Oracle: String =
    s"""WITH e AS (
      |$BlockGraphSql
      |), canon AS (
      |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM e WHERE u <> v
      |), deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
      |  FROM (SELECT a AS node FROM canon UNION ALL SELECT b FROM canon)
      |  GROUP BY node
      |), t AS (
      |  SELECT x.a AS n1, x.b AS n2, y.b AS n3
      |  FROM canon x
      |  JOIN canon y ON y.a = x.a AND y.b > x.b
      |  JOIN canon z ON z.a = x.b AND z.b = y.b
      |), tri AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri
      |  FROM (SELECT unnest([n1, n2, n3]) AS node FROM t)
      |  GROUP BY node
      |), pn AS (
      |  SELECT deg.node, deg.deg, COALESCE(tri.tri, 0) AS tri,
      |    deg.deg * (deg.deg - 1) AS wedges,
      |    CASE WHEN deg.deg >= 2
      |         THEN (2000000 * COALESCE(tri.tri, 0)) // (deg.deg * (deg.deg - 1))
      |    END AS cc_ppm
      |  FROM deg LEFT JOIN tri ON tri.node = deg.node
      |)
      |SELECT node // 100 AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |  CAST(SUM(2 * tri) AS BIGINT) AS closed_wedges,
      |  CAST(SUM(wedges) AS BIGINT) AS all_wedges,
      |  CAST(CASE WHEN SUM(wedges) > 0
      |            THEN (2000000 * SUM(tri)) // SUM(wedges) END AS BIGINT)
      |    AS bucket_cc_ppm,
      |  CAST(MIN(cc_ppm) AS BIGINT) AS min_cc_ppm,
      |  CAST(MAX(cc_ppm) AS BIGINT) AS max_cc_ppm
      |FROM pn
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin
  query("q265_clustering_coeff", q265ClusteringCoeff, Some(q265Oracle))

  // ---------------------------------------------------------------- q269
  /** HILBERT vs Z-ORDER, MEASURED — q208's rectangle probe plus the
    * metric that actually separates the curves: the CLUSTERING NUMBER
    * (Moon et al., "Analysis of the clustering properties of the
    * Hilbert space-filling curve", TKDE 2001) — how many CONTIGUOUS
    * curve ranges a query rectangle shatters into, i.e. the number of
    * seeks a range-pruned scan pays. File counts on the sparse sample
    * tie (files_z = files_h at this occupancy — measured, kept as
    * evidence); the cluster count over the rectangle's full cell grid
    * shows the textbook ~2× Hilbert advantage (measured here: 281 vs
    * 156 summed over the 20 probes). Runs are counted with one lag
    * window per curve over the tiny qid×64-cell frame: a cell starts
    * a run iff position−1 is absent. [[graft.ops.Layout.hilbertValue]]
    * / [[graft.ops.Layout.hilbertSqlCtes]] emit both engines' round
    * arithmetic from one generator.
    */
  def q269Hilbert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val queries = (0 until 20)
      .map(i => (i, (i * 37L) % 248, (i * 53L) % 248))
      .toDF("qid", "x0", "y0")
    // data-sample file counts (q208's probe, third layout added)
    val keyed0 = Tables
      .lineitem(s, dir)
      .select(
        (col("l_partkey") % 256).as("x"),
        ((col("l_suppkey") * 131) % 256).as("y"))
      .withColumn(
        "zkey",
        graft.ops.Layout.zValue(Seq((col("x"), 0L, 255L), (col("y"), 0L, 255L)), 8))
    val keyed = graft.ops.Layout
      .hilbertValue(keyed0, "x", "y", 8, "hkey")
      .withColumn("file_z", expr("zkey div 256"))
      .withColumn("file_h", expr("hkey div 256"))
    val files = keyed
      .crossJoin(broadcast(queries))
      .where(
        col("x") >= col("x0") && col("x") <= col("x0") + 7 &&
          col("y") >= col("y0") && col("y") <= col("y0") + 7)
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("file_z")).as("files_z"),
        countDistinct(col("file_h")).as("files_h"))
    // grid-exact cluster counts: every cell of every rectangle
    val cells0 = queries
      .withColumn("dx", explode(expr("sequence(0L, 7L)")))
      .withColumn("dy", explode(expr("sequence(0L, 7L)")))
      .select(col("qid"), (col("x0") + col("dx")).as("x"), (col("y0") + col("dy")).as("y"))
      .withColumn(
        "zkey",
        graft.ops.Layout.zValue(Seq((col("x"), 0L, 255L), (col("y"), 0L, 255L)), 8))
    val cells = graft.ops.Layout.hilbertValue(cells0, "x", "y", 8, "hkey")
    def runStart(key: String): Column = {
      val prev = lag(col(key), 1).over(Window.partitionBy(col("qid")).orderBy(col(key)))
      when(prev.isNull || prev =!= col(key) - 1, 1L).otherwise(0L)
    }
    val clusters = cells
      .withColumn("zrun", runStart("zkey"))
      .withColumn("hrun", runStart("hkey"))
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("zrun")).as("clusters_z"),
        sum(col("hrun")).as("clusters_h"))
    files
      .join(clusters, Seq("qid"))
      .withColumn("hilbert_wins", col("clusters_h") <= col("clusters_z"))
      .select(
        col("qid"), col("n_rows"), col("files_z"), col("files_h"),
        col("n_cells"), col("clusters_z"), col("clusters_h"), col("hilbert_wins"))
      .orderBy(col("qid"))
  }

  val q269Oracle: String = {
    val zsql = graft.ops.Layout.zValueSql(Seq(("x", 0L, 255L), ("y", 0L, 255L)), 8)
    val (hilbertCtes, hfin) =
      graft.ops.Layout.hilbertSqlCtes("rows_k", Seq("rid", "x AS x", "y AS y"), "x", "y", 8)
    val (cellCtes, cfin) =
      graft.ops.Layout.hilbertSqlCtes("cells0", Seq("qid", "x AS x", "y AS y"), "x", "y", 8)
    // the two chains share round CTE names — prefix the cell chain
    val cellCtesP = cellCtes.replace("__h", "__c")
    val cfinP = cfin.replace("__h", "__c")
    s"""WITH rows_k AS (
       |  SELECT row_number() OVER () AS rid,
       |    l_partkey % 256 AS x, (l_suppkey * 131) % 256 AS y
       |  FROM lineitem
       |),
       |$hilbertCtes,
       |keyed AS (
       |  SELECT h.x, h.y,
       |    $zsql // 256 AS file_z,
       |    h.hkey // 256 AS file_h
       |  FROM $hfin h
       |), q AS (
       |  SELECT CAST(i AS INT) AS qid, (i * 37) % 248 AS x0, (i * 53) % 248 AS y0
       |  FROM (SELECT unnest(range(0, 20)) AS i)
       |), files AS (
       |  SELECT q.qid, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(COUNT(DISTINCT file_z) AS BIGINT) AS files_z,
       |    CAST(COUNT(DISTINCT file_h) AS BIGINT) AS files_h
       |  FROM keyed JOIN q
       |    ON x BETWEEN x0 AND x0 + 7 AND y BETWEEN y0 AND y0 + 7
       |  GROUP BY q.qid
       |), cells0 AS (
       |  SELECT qid, x0 + dx.d AS x, y0 + dy.d AS y
       |  FROM q,
       |    (SELECT unnest(range(0, 8)) AS d) dx,
       |    (SELECT unnest(range(0, 8)) AS d) dy
       |),
       |$cellCtesP,
       |ck AS (
       |  SELECT qid, $zsql AS zkey, hkey
       |  FROM $cfinP
       |), runs AS (
       |  SELECT qid,
       |    CASE WHEN lag(zkey) OVER (PARTITION BY qid ORDER BY zkey) IS NULL
       |           OR lag(zkey) OVER (PARTITION BY qid ORDER BY zkey) <> zkey - 1
       |         THEN 1 ELSE 0 END AS zrun,
       |    CASE WHEN lag(hkey) OVER (PARTITION BY qid ORDER BY hkey) IS NULL
       |           OR lag(hkey) OVER (PARTITION BY qid ORDER BY hkey) <> hkey - 1
       |         THEN 1 ELSE 0 END AS hrun
       |  FROM ck
       |), clusters AS (
       |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cells,
       |    CAST(SUM(zrun) AS BIGINT) AS clusters_z,
       |    CAST(SUM(hrun) AS BIGINT) AS clusters_h
       |  FROM runs GROUP BY qid
       |)
       |SELECT f.qid, f.n_rows, f.files_z, f.files_h,
       |  c.n_cells, c.clusters_z, c.clusters_h,
       |  (c.clusters_h <= c.clusters_z) AS hilbert_wins
       |FROM files f JOIN clusters c ON c.qid = f.qid
       |ORDER BY f.qid""".stripMargin
  }
  query("q269_hilbert", q269Hilbert, Some(q269Oracle))

}
