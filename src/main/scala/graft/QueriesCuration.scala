package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** corpus curation, export/shard planning, profiling */
private[graft] trait QueriesCuration extends QueryRegistration {
  this: QueriesCore with QueriesCuration with QueriesAnalytics with QueriesExact with QueriesGraph =>
  // ---------------------------------------------------------------- q88
  /** Per-cluster embedding DISPERSION from sufficient statistics — the
    * representation-collapse monitor for embedding pipelines: the mean
    * pairwise dot product within each label group, computed WITHOUT
    * pairs via E[⟨vᵢ,vⱼ⟩]·n(n−1) = ‖Σv‖² − Σ‖v‖². Two linear
    * aggregates (per-(label, dim) component sums + per-label squared
    * norms, both decimal-accumulated so reduction order can't smear the
    * doubles) replace the O(n²) pairwise pass entirely — the identity
    * is what makes corpus-dispersion tracking free at 100 TB.
    */
  def q88Dispersion(s: SparkSession, dir: String): DataFrame = {
    val ed = Tables
      .embeddings(s, dir)
      .select(
        col("label"),
        transform(col("embedding"), x => x.cast("double")).as("ed")
      )
      .withColumn(
        "sq",
        aggregate(col("ed"), lit(0.0), (acc, x) => acc + x * x)
      )
      .transform(Place.materialized) // eager: both sufficient-stat consumers share this cache
    val norms = ed
      .groupBy(col("label"))
      .agg(
        sum(col("sq").cast("decimal(38,12)")).cast("double").as("qq"),
        count(lit(1)).as("n")
      )
    val comps = ed
      .select(col("label"), posexplode(col("ed")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col").cast("decimal(38,12)")).cast("double").as("sd"))
      .groupBy(col("label"))
      .agg(sum((col("sd") * col("sd")).cast("decimal(38,12)")).cast("double").as("s2"))
    norms
      .join(comps, Seq("label"))
      .select(
        col("label"),
        col("n"),
        round(
          (col("s2") - col("qq")) /
            (col("n").cast("double") * (col("n").cast("double") - 1.0)),
          6
        ).as("mean_pair_dot"),
        round(col("qq") / col("n").cast("double"), 6).as("mean_sq_norm")
      )
      .orderBy(col("label"))
  }

  val q88Oracle: String =
    """WITH e AS (
      |  SELECT label, embedding::DOUBLE[] AS ed FROM embeddings
      |), q AS (
      |  SELECT label, list_aggregate(list_transform(ed, x -> x * x), 'sum') AS sq FROM e
      |), norms AS (
      |  SELECT label, CAST(SUM(CAST(sq AS DECIMAL(38,12))) AS DOUBLE) AS qq,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM q GROUP BY label
      |), comps AS (
      |  SELECT label, CAST(SUM(CAST(sd * sd AS DECIMAL(38,12))) AS DOUBLE) AS s2 FROM (
      |    SELECT label, i, CAST(SUM(CAST(ed[i+1] AS DECIMAL(38,12))) AS DOUBLE) AS sd
      |    FROM (SELECT label, ed, unnest(range(0, len(ed))) AS i FROM e)
      |    GROUP BY label, i
      |  ) GROUP BY label
      |)
      |SELECT norms.label, norms.n,
      |  round((comps.s2 - norms.qq) /
      |        (CAST(norms.n AS DOUBLE) * (CAST(norms.n AS DOUBLE) - 1.0)), 6) AS mean_pair_dot,
      |  round(norms.qq / CAST(norms.n AS DOUBLE), 6) AS mean_sq_norm
      |FROM norms JOIN comps USING (label)
      |ORDER BY label""".stripMargin
  query("q88_dispersion", q88Dispersion, Some(q88Oracle))

  // ---------------------------------------------------------------- q89
  /** Z-ORDER data layout (ops/Layout.zValue) with a pruning-effectiveness
    * audit — the file-skipping story for 100 TB multi-dim filters. Every
    * lineitem row gets a Morton z-value over (l_partkey, l_suppkey)
    * ranks (8 bits/dim, data-derived closed bounds — the footer-stats
    * pass at scale, a 4-long scalar constant here) and an equal-WIDTH
    * z-range file id: pure map-side integer arithmetic, NO global sort —
    * unlike an ntile layout, this assignment distributes embarrassingly
    * (writing real files would add one `repartitionByRange` on the
    * z-value). Output: per-file min/max extents
    * on both dims, plus corpus audit columns — expected fraction of
    * files a point query must scan (= mean normalized extent width) for
    * the z layout vs an insertion-order (orderkey-range) layout. The
    * z curve holds BOTH dims narrow; insertion order holds neither.
    */
  def q89ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val bits = 8
    val nFiles = 64
    val li = Tables.lineitem(s, dir)
    // closed per-dim bounds: scalar constants (bytes, not data)
    val b = li
      .agg(
        min(col("l_partkey")).as("plo"), max(col("l_partkey")).as("phi"),
        min(col("l_suppkey")).as("slo"), max(col("l_suppkey")).as("shi"),
        min(col("l_orderkey")).as("olo"), max(col("l_orderkey")).as("ohi")
      )
      .head()
    val (pLo, pHi, sLo, sHi) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val (oLo, oHi) = (b.getLong(4), b.getLong(5))
    val z = Layout.zValue(Seq((col("l_partkey"), pLo, pHi), (col("l_suppkey"), sLo, sHi)), bits)
    val zWidth = (1L << (2 * bits)) / nFiles
    // the insertion-order baseline: contiguous ORDERKEY ranges (orderkey
    // is arrival order in this data), the layout an append-only writer
    // produces — NOT a hash scramble; equal-width buckets over the
    // data-derived closed orderkey bounds
    val linWidth = (oHi - oLo + 1 + nFiles - 1) / nFiles
    val base = li
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .withColumn("file_z", floor(z / lit(zWidth)))
      .withColumn("file_lin", floor((col("l_orderkey") - lit(oLo)) / lit(linWidth)))
      .transform(Place.materialized) // eager: both layout aggregates share this cache
    def scanFrac(fileCol: String): DataFrame = base
      .groupBy(col(fileCol))
      .agg(
        ((max(col("l_partkey")) - min(col("l_partkey")) + 1.0) / (pHi - pLo + 1).toDouble).as("pf"),
        ((max(col("l_suppkey")) - min(col("l_suppkey")) + 1.0) / (sHi - sLo + 1).toDouble).as("sf")
      )
      .agg(
        round(avg(col("pf")), 6).as("pk"),
        round(avg(col("sf")), 6).as("sk")
      )
    val zf = scanFrac("file_z")
      .select(col("pk").as("z_scan_frac_pk"), col("sk").as("z_scan_frac_sk"))
    val lf = scanFrac("file_lin")
      .select(col("pk").as("lin_scan_frac_pk"), col("sk").as("lin_scan_frac_sk"))
    base
      .groupBy(col("file_z").as("file_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk")
      )
      .crossJoin(broadcast(zf))
      .crossJoin(broadcast(lf))
      .orderBy(col("file_id"))
  }

  val q89Oracle: String = {
    val bits = 8
    val nFiles = 64
    val zExpr = graft.ops.Layout.zValueSqlDynamic(
      Seq(("l_partkey", "b.plo", "b.phi"), ("l_suppkey", "b.slo", "b.shi")), bits)
    val zWidth = (1L << (2 * bits)) / nFiles
    s"""WITH b AS (
       |  SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
       |         min(l_suppkey) AS slo, max(l_suppkey) AS shi,
       |         min(l_orderkey) AS olo, max(l_orderkey) AS ohi
       |  FROM lineitem
       |), base AS (
       |  SELECT l_partkey, l_suppkey,
       |    CAST(floor($zExpr / $zWidth.0) AS BIGINT) AS file_z,
       |    CAST(floor((l_orderkey - b.olo) /
       |         CAST((b.ohi - b.olo + 1 + $nFiles - 1) // $nFiles AS DOUBLE)) AS BIGINT) AS file_lin,
       |    b.plo, b.phi, b.slo, b.shi
       |  FROM lineitem, b
       |), zf AS (
       |  SELECT round(avg(pf), 6) AS z_scan_frac_pk, round(avg(sf), 6) AS z_scan_frac_sk FROM (
       |    SELECT (max(l_partkey) - min(l_partkey) + 1.0) / (any_value(phi) - any_value(plo) + 1) AS pf,
       |           (max(l_suppkey) - min(l_suppkey) + 1.0) / (any_value(shi) - any_value(slo) + 1) AS sf
       |    FROM base GROUP BY file_z
       |  )
       |), lf AS (
       |  SELECT round(avg(pf), 6) AS lin_scan_frac_pk, round(avg(sf), 6) AS lin_scan_frac_sk FROM (
       |    SELECT (max(l_partkey) - min(l_partkey) + 1.0) / (any_value(phi) - any_value(plo) + 1) AS pf,
       |           (max(l_suppkey) - min(l_suppkey) + 1.0) / (any_value(shi) - any_value(slo) + 1) AS sf
       |    FROM base GROUP BY file_lin
       |  )
       |)
       |SELECT file_z AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
       |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk,
       |  zf.z_scan_frac_pk, zf.z_scan_frac_sk,
       |  lf.lin_scan_frac_pk, lf.lin_scan_frac_sk
       |FROM base, zf, lf
       |GROUP BY file_z, zf.z_scan_frac_pk, zf.z_scan_frac_sk,
       |         lf.lin_scan_frac_pk, lf.lin_scan_frac_sk
       |ORDER BY file_id""".stripMargin
  }
  query("q89_zorder_layout", q89ZorderLayout, Some(q89Oracle))

  // ---------------------------------------------------------------- q90
  /** Small-file COMPACTION planning (ops/Layout.compactionPlan) — the
    * other half of the 100 TB layout problem: a table ingested in daily
    * increments accretes under-sized files whose per-file overhead
    * dominates scans. The file inventory here is simulated from orders
    * (one "file" per order-day, size = row count, partitioned by month);
    * the planner bin-packs each partition's files in date order into
    * ~500-row targets with ONE window (exclusive prefix sum ÷ target) —
    * file METADATA only, no record ever moves during planning. Output:
    * per-(month, bin) rewrite manifest plus the before/after small-file
    * census that justifies the rewrite.
    */
  def q90CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val target = 500L
    val files = Tables
      .orders(s, dir)
      .groupBy(
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("part"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("file_day")
      )
      .agg(count(lit(1)).as("size_rows"))
    val planned = Layout
      .compactionPlan(files, Seq("part"), "file_day", "size_rows", target)
      .transform(Place.materialized) // eager: manifest + census consumers share this cache
    val census = planned
      .agg(
        sum(when(col("size_rows") < target, 1L).otherwise(0L)).as("small_files_before"),
        count(lit(1)).as("files_before")
      )
    planned
      .groupBy(col("part"), col("bin"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("size_rows")).as("rows_total"),
        min(col("file_day")).as("first_day"),
        max(col("file_day")).as("last_day")
      )
      .crossJoin(broadcast(census))
      .orderBy(col("part"), col("bin"))
  }

  val q90Oracle: String =
    """WITH files AS (
      |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS part,
      |         strftime(o_orderdate, '%Y-%m-%d') AS file_day,
      |         CAST(count(*) AS BIGINT) AS size_rows
      |  FROM orders GROUP BY 1, 2
      |), planned AS (
      |  SELECT part, file_day, size_rows,
      |    CAST(floor(COALESCE(SUM(size_rows) OVER (
      |      PARTITION BY part ORDER BY file_day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500.0) AS BIGINT) AS bin
      |  FROM files
      |), census AS (
      |  SELECT CAST(SUM(CASE WHEN size_rows < 500 THEN 1 ELSE 0 END) AS BIGINT) AS small_files_before,
      |         CAST(count(*) AS BIGINT) AS files_before
      |  FROM planned
      |)
      |SELECT part, bin, CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(SUM(size_rows) AS BIGINT) AS rows_total,
      |  MIN(file_day) AS first_day, MAX(file_day) AS last_day,
      |  census.small_files_before, census.files_before
      |FROM planned, census
      |GROUP BY part, bin, census.small_files_before, census.files_before
      |ORDER BY part, bin""".stripMargin
  query("q90_compaction_plan", q90CompactionPlan, Some(q90Oracle))

  // ---------------------------------------------------------------- q91
  /** HARD-NEGATIVE mining for contrastive training: for every anchor
    * vector, the most-similar vector with a DIFFERENT label (hardest
    * negative) and the most-similar with the SAME label (nearest
    * positive), plus the triplet margin between them — the pair-mining
    * pass an embedding-model trainer runs per epoch. Deterministic
    * argmax via max(struct(sim, -id)): highest similarity, then lowest
    * id on ties — no window needed, one partial-aggregating groupBy.
    * This is the exact all-pairs form (oracle-checkable, q45's class);
    * at 100 TB the candidate set comes from the multiprobe-LSH buckets
    * (q30/q31) and only candidates are scored — same agg, ~k rows per
    * anchor instead of n.
    */
  def q91HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // spread: the n² cosine pass ran as one task at sf0.1 (r15); keyed on
    // the anchor, it also pre-clusters the per-anchor argmax (no 2nd exchange)
    val a = e
      .select(col("vec_id").as("anchor"), col("embedding").as("va"), col("label").as("la"))
      .transform(Place.spread(_, col("anchor")))
    val b = e.select(col("vec_id").as("other"), col("embedding").as("vb"), col("label").as("lb"))
    a.join(b, col("anchor") =!= col("other"))
      .select(
        col("anchor"), col("la"), col("other"), col("lb"),
        round(Similarity.cosine(col("va"), col("vb")), 6).as("sim")
      )
      .groupBy(col("anchor"))
      .agg(
        max(when(col("la") === col("lb"), struct(col("sim"), (-col("other")).as("nid")))).as("pos"),
        max(when(col("la") =!= col("lb"), struct(col("sim"), (-col("other")).as("nid")))).as("neg")
      )
      // an anchor whose label has no second member (or a one-label
      // corpus) has no positive/negative — drop it, matching the
      // oracle's inner join of the two rank CTEs
      .filter(col("pos").isNotNull && col("neg").isNotNull)
      .select(
        col("anchor"),
        (-col("pos.nid")).as("pos_id"),
        col("pos.sim").as("pos_sim"),
        (-col("neg.nid")).as("neg_id"),
        col("neg.sim").as("neg_sim"),
        round(col("pos.sim") - col("neg.sim"), 6).as("margin")
      )
      .orderBy(col("anchor"))
  }

  val q91Oracle: String =
    """WITH s AS (
      |  SELECT a.vec_id AS anchor, a.label AS la, b.vec_id AS other, b.label AS lb,
      |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |), pos AS (
      |  SELECT anchor, other AS pos_id, sim AS pos_sim,
      |    row_number() OVER (PARTITION BY anchor ORDER BY sim DESC, other ASC) AS rn
      |  FROM s WHERE la = lb
      |), neg AS (
      |  SELECT anchor, other AS neg_id, sim AS neg_sim,
      |    row_number() OVER (PARTITION BY anchor ORDER BY sim DESC, other ASC) AS rn
      |  FROM s WHERE la <> lb
      |)
      |SELECT p.anchor, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
      |  round(p.pos_sim - n.neg_sim, 6) AS margin
      |FROM pos p JOIN neg n ON p.anchor = n.anchor AND p.rn = 1 AND n.rn = 1
      |ORDER BY p.anchor""".stripMargin
  query("q91_hard_negatives", q91HardNegatives, Some(q91Oracle))

  // ---------------------------------------------------------------- q92
  /** Ingest FRESHNESS / inter-arrival profile — the lag-monitoring
    * query a pipeline operator alarms on: per event type, the p50/p95
    * and max gap between consecutive events. Gaps are computed inside
    * (event_type, day) window partitions — thousands of small ordered
    * runs that distribute across executors (a per-type-only window
    * would serialize each type through one task at 100 TB). The
    * percentiles are DISCRETE order statistics (value at rank
    * floor(q·(n−1))+1), not interpolated: interpolating engines
    * (Spark `percentile`, DuckDB `quantile_cont`) use different
    * last-ulp formulas — lower+(upper−lower)·f vs a lerp — so their
    * outputs diverge in the 3rd decimal; a rank-selected VALUE is
    * bit-identical everywhere. Microsecond longs end to end — DuckDB's
    * parquet reader TRUNCATES the ns timestamps to µs at scan (probed:
    * epoch_ns returns µs·1000), so the engine-portable grain is
    * floor-µs (`ts_ns div 1000`, exactly Tables.events' `ts`); no
    * float unit conversion ever touches the checked output.
    */
  def q92Freshness(s: SparkSession, dir: String): DataFrame = {
    val wGap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts_us"), col("event_id"))
    val gaps = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        to_date(col("ts")).as("day"),
        expr("ts_ns div 1000").as("ts_us"),
        col("event_id")
      )
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(wGap))
      .filter(col("gap_us").isNotNull)
      .select(col("event_type"), col("gap_us"))
    Stats
      .rankSelect(
        gaps,
        Seq("event_type"),
        "gap_us",
        Seq(0.5 -> "p50_gap_us", 0.95 -> "p95_gap_us"),
        extra = Seq(count(lit(1)).as("n_gaps"), max(col("gap_us")).as("max_gap_us"))
      )
      .select(
        col("event_type"), col("n_gaps"),
        col("p50_gap_us"), col("p95_gap_us"), col("max_gap_us")
      )
      .orderBy(col("event_type"))
  }

  val q92Oracle: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY event_type, CAST(ts AS DATE)
      |      ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events
      |), r AS (
      |  SELECT event_type, gap_us,
      |    row_number() OVER (PARTITION BY event_type ORDER BY gap_us) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM g WHERE gap_us IS NOT NULL
      |)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |  MAX(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 THEN gap_us END) AS p50_gap_us,
      |  MAX(CASE WHEN rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1 THEN gap_us END) AS p95_gap_us,
      |  MAX(gap_us) AS max_gap_us
      |FROM r
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
  query("q92_freshness", q92Freshness, Some(q92Oracle))

  // ---------------------------------------------------------------- q93
  /** Ordered FUNNEL: users who viewed, then clicked AFTER their first
    * view, then purchased AFTER that first qualifying click — the
    * sequential-constraint analytics query (strictly stronger than
    * "did all three ever": each stage's timestamp must follow the
    * previous stage's). Three stage aggregates, each a filtered
    * equi-join on user_id + min() — partial-aggregated map-side, no
    * window, no per-user event array ever materializes (the
    * collect_list form would haul every user's full history through
    * one task's memory at 100 TB). Stage comparisons run on floor-µs
    * (`ts_ns div 1000`, the q92 rule): the oracle engine reads the ns
    * parquet timestamps at µs precision, so raw-ns strict comparisons
    * would diverge the moment two same-user events share a µs.
    */
  def q93Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("ts_us"))
    val v = ev
      .filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t_view"))
    val c = ev
      .filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts_us") > col("t_view"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t_click"))
    val p = ev
      .filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts_us") > col("t_click"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .agg(
        count(lit(1)).as("n_view"),
        count(col("t_click")).as("n_click_after_view"),
        count(col("t_purchase")).as("n_purchase_after_click")
      )
      .select(
        col("n_view"),
        col("n_click_after_view"),
        col("n_purchase_after_click"),
        round(col("n_click_after_view") / col("n_view").cast("double"), 6).as("view_to_click"),
        round(col("n_purchase_after_click") / col("n_click_after_view").cast("double"), 6).as("click_to_purchase")
      )
  }

  val q93Oracle: String =
    """WITH v AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t_view
      |  FROM events WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
      |  GROUP BY e.user_id
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_view,
      |  CAST(count(c.t_click) AS BIGINT) AS n_click_after_view,
      |  CAST(count(p.t_purchase) AS BIGINT) AS n_purchase_after_click,
      |  round(count(c.t_click) / CAST(count(*) AS DOUBLE), 6) AS view_to_click,
      |  round(count(p.t_purchase) / CAST(count(c.t_click) AS DOUBLE), 6) AS click_to_purchase
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin
  query("q93_funnel", q93Funnel, Some(q93Oracle))

  // ---------------------------------------------------------------- q94
  /** PQ-ADC approximate similarity search (ops/Pq) with an in-registry
    * recall audit — the MEMORY story for 100 TB vector search: each
    * 64-dim float vector (256 B) becomes 16 four-bit codes (8 B packed,
    * 32×), fitted per-subspace by seeded k-means++ with sample-side
    * Lloyd refinement then distributed Lloyd passes, scored
    * by asymmetric distance (exact query subvectors × quantized corpus)
    * against codebook literals — encode and scoring are pure map-side;
    * the only shuffle is the WindowGroupLimit-pruned top-k. ORACLED
    * since round 5 via the TRAINED-codebook replay ([[q94OracleFor]]):
    * the generated SQL embeds the fitted codebooks as literals and
    * replays encode/ADC/rerank bit-exactly. The output stays self-
    * auditing too: one row carrying recall@10 of the raw ADC ranking AND of
    * the production two-stage path — ADC shortlist (8k, the usual
    * 4-32× re-rank multiplier) then exact re-rank of only the
    * shortlisted vectors (the float fetch touches 8k/n of the corpus
    * per query, the standard PQ serving shape) —
    * plus the mean |ADC − exact| score error and the compression
    * ratio. Composes with IVF cells (q35) so a probe scores ~nprobe/k
    * of the codes at scale.
    */
  /** q94's fixed geometry — shared by the query and [[q94OracleFor]]
    * (the generated oracle must replay exactly these constants). */
  private[graft] final val q94M = 16
  private[graft] final val q94Ksub = 16
  private[graft] final val q94Iters = 2
  private[graft] final val q94NQ = 50
  private[graft] final val q94K = 10

  def q94PqAdc(s: SparkSession, dir: String): DataFrame = {
    val (m, ksub, iters, nQ, k) = (q94M, q94Ksub, q94Iters, q94NQ, q94K)
    val shortlist = 8 * k
    val e = Tables
      .embeddings(s, dir)
      .select(
        col("vec_id"),
        col("embedding"), // raw floats for the codegen'd exact scorer
        Pq.normalize(col("embedding")).as("vec")
      )
      .transform(Place.materialized) // eager: fit + encode + exact baseline share this cache
    val dim = 64
    // codebooks fit on a quarter SAMPLE — the production shape (the
    // fit never needs the full corpus; only encode does), and the
    // interpreted HOF argmin pass is 4× cheaper
    val codebooks = Pq.fit(e.filter(pmod(col("vec_id"), lit(4)) === 0), m, ksub, iters)
    val encoded = Pq.encode(e, codebooks)
    val queries = e.filter(col("vec_id") < nQ)
    val pq = Pq
      .adcTopK(queries, encoded, codebooks, shortlist)
      .transform(Place.materialized) // eager: recall + rerank + score-error consumers share this cache
    // exact baseline: native codegen'd cosine on the raw floats — the
    // same ranking as normalized dot (and the same value), without the
    // interpreted HOF fold in the hot 100k-pair loop
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("xscore").desc, col("neighbor_id"))
    val exact = e
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        Similarity.cosine(col("qemb"), col("embedding")).as("xscore")
      )
      .withColumn("xrank", row_number().over(wx))
      .filter(col("xrank") <= k)
    val recallAdc = pq
      .filter(col("rank") <= k)
      .join(exact, Seq("query_id", "neighbor_id"))
      .agg((count(lit(1)) / (nQ.toDouble * k)).as("recall_adc"))
    // two-stage serving path: exact cosine over the shortlisted floats only
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rscore").desc, col("neighbor_id"))
    val scoredShortlist = pq
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nemb")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("rscore", Similarity.cosine(col("qemb"), col("nemb")))
      .transform(Place.materialized) // eager: rerank + score-error consumers share this cache
    val reranked = scoredShortlist
      .select(col("query_id"), col("neighbor_id"), col("rscore"))
      .withColumn("rrank", row_number().over(wr))
      .filter(col("rrank") <= k)
    val recallRerank = reranked
      .join(exact, Seq("query_id", "neighbor_id"))
      .agg((count(lit(1)) / (nQ.toDouble * k)).as("recall_rerank"))
    // quantization score error across the whole shortlist (ADC
    // approximates normalized dot == cosine); decimal-staged so the
    // mean is order-independent and the generated oracle can hash it
    val err = scoredShortlist
      .agg((sum(abs(col("score") - col("rscore")).cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("mean_abs_err"))
    recallAdc
      .crossJoin(recallRerank)
      .crossJoin(err)
      .select(
        lit(nQ).as("n_queries"),
        lit(k).as("k"),
        lit(shortlist).as("shortlist"),
        round(col("recall_adc"), 4).as("recall_adc_at_k"),
        round(col("recall_rerank"), 4).as("recall_rerank_at_k"),
        round(col("mean_abs_err"), 4).as("mean_abs_score_err"),
        lit(dim * 4).as("bytes_raw"),
        lit(m / 2).as("bytes_code"),
        lit((dim * 4) / (m / 2)).as("compression_x")
      )
  }

  /** Generated oracle for q94 (round 5) — the TRAINED-codebook replay:
    * [[q94OracleFor]] re-runs the exact Pq.fit the query runs (same
    * quarter-sample, seeds, decimal-staged Lloyd — byte-identical
    * codebooks) and embeds the result as string-cast double literals,
    * then replays normalization, per-subspace argmin encoding, ADC
    * scoring, both recall joins, and the decimal-staged error mean in
    * SQL. Ordering bit-exactness: every dot/distance is a
    * left-associated term chain (the q103 recipe); the ADC score's
    * fold over subspaces becomes list_reduce(list(d ORDER BY s)) — the
    * same accumulation order as the Spark fold.
    */
  def q94OracleFor(s: SparkSession, dir: String): String = {
    val (m, ksub, iters, nQ, k) = (q94M, q94Ksub, q94Iters, q94NQ, q94K)
    val shortlist = 8 * k
    val dim = 64
    val dsub = dim / m
    val eFit = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), Pq.normalize(col("embedding")).as("vec"))
      .filter(pmod(col("vec_id"), lit(4)) === 0)
    val codebooks = Pq.fit(eFit, m, ksub, iters)
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
    val cosCE = IvfSql.cosFloatFloat("c.embedding", "q.embedding")
    val cosRR = IvfSql.cosFloatFloat("ce.embedding", "qe.embedding")
    s"""WITH cw(s, code, ${(1 to dsub).map("w" + _).mkString(", ")}) AS (
       |  VALUES
       |    $cwRows
       |), e AS (
       |  SELECT vec_id, embedding FROM embeddings
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
       |), adc AS (
       |  SELECT l.query_id, en.vec_id AS neighbor_id,
       |    list_reduce(list(l.d ORDER BY l.s), (x, y) -> x + y) AS score
       |  FROM enc en JOIN lut l ON en.s = l.s AND en.code = l.code
       |  WHERE en.vec_id <> l.query_id
       |  GROUP BY l.query_id, en.vec_id
       |), pq AS (
       |  SELECT query_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM adc
       |), short AS (
       |  SELECT * FROM pq WHERE rank <= $shortlist
       |), ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $cosCE DESC, c.vec_id) AS xrank
       |    FROM e c, e q WHERE q.vec_id < $nQ AND c.vec_id <> q.vec_id
       |  ) WHERE xrank <= $k
       |), ra AS (
       |  SELECT count(*) / CAST('${nQ.toDouble * k}' AS DOUBLE) AS recall_adc
       |  FROM short JOIN ex USING (query_id, neighbor_id) WHERE short.rank <= $k
       |), rr0 AS (
       |  SELECT s.query_id, s.neighbor_id, s.score, $cosRR AS rscore
       |  FROM short s
       |  JOIN e ce ON s.neighbor_id = ce.vec_id
       |  JOIN e qe ON s.query_id = qe.vec_id
       |), rrk AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rscore DESC, neighbor_id) AS rrank
       |  FROM rr0
       |), rb AS (
       |  SELECT count(*) / CAST('${nQ.toDouble * k}' AS DOUBLE) AS recall_rerank
       |  FROM rrk JOIN ex USING (query_id, neighbor_id) WHERE rrank <= $k
       |), er AS (
       |  SELECT CAST(SUM(CAST(abs(score - rscore) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mean_abs_err
       |  FROM rr0
       |)
       |SELECT $nQ AS n_queries, $k AS k, $shortlist AS shortlist,
       |  round(ra.recall_adc, 4) AS recall_adc_at_k,
       |  round(rb.recall_rerank, 4) AS recall_rerank_at_k,
       |  round(er.mean_abs_err, 4) AS mean_abs_score_err,
       |  ${dim * 4} AS bytes_raw, ${m / 2} AS bytes_code,
       |  ${(dim * 4) / (m / 2)} AS compression_x
       |FROM ra, rb, er""".stripMargin
  }
  query("q94_pq_adc", q94PqAdc, None)

  // ---------------------------------------------------------------- q95
  /** BPE tokenizer TRAINING (ops/Bpe) — the full greedy merge loop, not
    * just q75's one-shot pair count: 8 rounds of corpus-wide
    * most-frequent-adjacent-pair fusion over the frequency-weighted
    * DISTINCT-WORD table (the corpus text is aggregated once; every
    * round then touches |vocab| rows — the reason real BPE trainers
    * pre-aggregate words, and the only shape that survives a
    * trillion-token corpus). Each round's winner is one collected row
    * (argmax scalar, not data); the apply step is a map-side fold.
    *
    * ORACLED since round 6 ([[q95Oracle]], STATIC and zero-literal —
    * the strongest oracle class in the registry): the round-5 "a
    * recursive CTE would be rewriting the trainer" claim missed a
    * closed form. The merge-apply fold is EQUIVALENT to one string
    * `replace` over a boundary-delimited token encoding
    * (`|t1||t2||…|`): `replace` substitutes left-to-right
    * non-overlapping — exactly the fold's greedy order — and the
    * explicit `|…|` boundaries make a token-suffix/prefix false match
    * impossible while the doubled inner separator keeps adjacent
    * matches from consuming each other's boundary (probed:
    * `[a,b,a,b]` fuses both pairs, `[xa,b]` fuses nothing, `[a,a,a]`
    * fuses once). Each round's winner is a scalar subquery (freq
    * desc, pair asc — the engine's tie rule), so DuckDB re-trains the
    * full 8 rounds from raw text with NO engine-provided content, then
    * recomputes the residual census and greedy invariant. The chained
    * round CTEs are MATERIALIZED — inlined, the ~4-way references per
    * round expand the scan 4^8 times (measured: fd exhaustion).
    *
    * SELF-AUDITING: output carries the residual top pair frequency after all
    * merges and `greedy_ok` — the invariant that no remaining pair
    * out-counts the last accepted merge (exact greedy order, verified
    * against hand-computed corpora in BpeSpec).
    */
  def q95BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nMerges = 8
    val (merges, finalWords) = Bpe.trainMerges(Tables.documents(s, dir), "text", nMerges)
    val residual = Bpe
      .pairCounts(finalWords, "tokens", "weight")
      .agg(coalesce(max(col("freq")), lit(0L)))
      .head()
      .getLong(0)
    val lastFreq = merges.lastOption.map(_._4).getOrElse(0L)
    merges
      .toDF("step", "left", "right", "freq")
      .withColumn("residual_top_freq", lit(residual))
      .withColumn("greedy_ok", lit(residual <= lastFreq))
      .orderBy(col("step"))
  }

  /** The q95 replay: unrolled by the same Scala loop shape as
    * [[q96Oracle]] — query and oracle share the round count by
    * construction. Per round k: pair census over the weighted
    * distinct-word table (list pairs via LATERAL unnest over 1-based
    * positions), argmax under (freq desc, left, right), then the
    * boundary-delimited `replace` that IS the merge-apply fold. The
    * pair columns are quoted ("left"/"right" are SQL keywords). */
  /** The shared w0→wN BPE re-training CTE chain (see [[q95Oracle]] for
    * the equivalence argument): word-carrying so [[q111Oracle]] can
    * join the final per-word encodings back to the doc stream; q95
    * simply never reads the word column. */
  private[graft] def bpeRoundsSql(n: Int): String = {
    val rounds = (1 to n)
      .map { k =>
        s"""p$k AS MATERIALIZED (
           |  SELECT t.toks[u.i] AS l, t.toks[u.i + 1] AS r, CAST(SUM(t.weight) AS BIGINT) AS freq
           |  FROM (SELECT string_split(substr(enc, 2, len(enc) - 2), '||') AS toks, weight FROM w${k - 1}) t,
           |       LATERAL unnest(range(1, len(t.toks))) AS u(i)
           |  GROUP BY 1, 2
           |), top$k AS MATERIALIZED (
           |  SELECT l, r, freq FROM p$k ORDER BY freq DESC, l, r LIMIT 1
           |), w$k AS MATERIALIZED (
           |  SELECT word, replace(enc,
           |    '|' || (SELECT l FROM top$k) || '||' || (SELECT r FROM top$k) || '|',
           |    '|' || (SELECT l FROM top$k) || (SELECT r FROM top$k) || '|') AS enc, weight
           |  FROM w${k - 1}
           |)""".stripMargin
      }
      .mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT word, '|' || array_to_string(string_split_regex(word, ''), '||') || '|' AS enc,
       |         CAST(COUNT(*) AS BIGINT) AS weight
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents)
       |  WHERE len(word) > 0
       |  GROUP BY word
       |),
       |$rounds""".stripMargin
  }

  val q95Oracle: String = {
    val n = 8
    val mergeRows = (1 to n)
      .map(k => s"""SELECT $k AS step, l AS "left", r AS "right", freq FROM top$k""")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeRoundsSql(n)},
       |p${n + 1} AS MATERIALIZED (
       |  SELECT CAST(SUM(t.weight) AS BIGINT) AS freq
       |  FROM (SELECT string_split(substr(enc, 2, len(enc) - 2), '||') AS toks, weight FROM w$n) t,
       |       LATERAL unnest(range(1, len(t.toks))) AS u(i)
       |  GROUP BY t.toks[u.i], t.toks[u.i + 1]
       |), resid AS (
       |  SELECT CAST(COALESCE(MAX(freq), 0) AS BIGINT) AS residual_top_freq FROM p${n + 1}
       |)
       |SELECT m.step, m."left", m."right", m.freq, resid.residual_top_freq,
       |       resid.residual_top_freq <= (SELECT freq FROM top$n) AS greedy_ok
       |FROM ($mergeRows) m, resid
       |ORDER BY m.step""".stripMargin
  }
  query("q95_bpe_train", q95BpeTrain, Some(q95Oracle))

  // ---------------------------------------------------------------- q111
  /** BPE tokenizer APPLY (encode) — the half of the tokenizer story
    * q95 trains: run the 8 trained merges over every document and
    * report per-doc token statistics (word count, subword count, char
    * count, chars-per-token — the fertility figure tokenizer work
    * tracks). The 100 TB shape: encoding is per-WORD, so it runs once
    * per DISTINCT word (the same pre-aggregation that makes training
    * affordable) and joins back to the doc stream broadcast — the
    * corpus is never re-folded, and the merge table is a driver-side
    * constant in the expression tree, exactly how a shipped tokenizer
    * applies its merges.txt.
    *
    * Oracle: static full replay — re-trains the merges via the q95
    * zero-literal CTE chain (shared [[bpeRoundsSql]] builder, word
    * column threaded through), reads each word's final token count
    * from the chain's last state, and re-aggregates per doc. Query
    * and oracle derive the merge sequence INDEPENDENTLY from raw
    * text; a hash match certifies train + encode end-to-end.
    */
  def q111BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (merges, _) = Bpe.trainMerges(docs, "text", nMerges = 8)
    val seq = merges.map(m => (m._2, m._3))
    val wdoc = docs
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val wdist = wdoc
      .select(col("word"))
      .distinct()
      .select(
        col("word"),
        size(Bpe.applyMerges(split(col("word"), ""), seq)).as("n_sub"),
        length(col("word")).as("n_chars_w")
      )
    wdoc
      .join(broadcast(wdist), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_sub")).cast("long").as("n_subwords"),
        sum(col("n_chars_w")).cast("long").as("n_chars"),
        round(
          sum(col("n_chars_w")).cast("double") / sum(col("n_sub")).cast("double"),
          6
        ).as("chars_per_token")
      )
      .orderBy(col("doc_id"))
  }

  val q111Oracle: String = {
    val n = 8
    s"""WITH ${bpeRoundsSql(n)},
       |enc AS (
       |  SELECT word,
       |    CAST(len(string_split(substr(enc, 2, len(enc) - 2), '||')) AS BIGINT) AS n_sub,
       |    CAST(len(word) AS BIGINT) AS n_chars_w
       |  FROM w$n
       |), wd AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       |  CAST(SUM(n_chars_w) AS BIGINT) AS n_chars,
       |  round(CAST(SUM(n_chars_w) AS DOUBLE) / CAST(SUM(n_sub) AS DOUBLE), 6) AS chars_per_token
       |FROM wd JOIN enc USING (word)
       |WHERE len(word) > 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
  query("q111_bpe_encode", q111BpeEncode, Some(q111Oracle))

  // ---------------------------------------------------------------- q112
  /** Sparse all-pairs TF-IDF cosine over word 3-grams (ops/SparseSim) —
    * the inverted-index near-dup miner for SPARSE feature spaces
    * (Bayardo et al., WWW'07), complementing the dense-vector ANN
    * family and the set-semantics MinHash/Jaccard miners (q27/q29):
    * same candidate generation (shared-feature join) but a WEIGHTED
    * similarity, so boilerplate shared by every document (high df → low
    * idf) stops dominating the score. Pair work is Σ df², and the
    * CONSTANT df-cap (64) bounds it by 64·|postings| — linear in corpus
    * size unconditionally (Σ_{df≤C} df² ≤ C·Σdf; SparseSim scaladoc).
    * Round 7: replaced the scale-following greatest(5, N/100) cap,
    * whose Σdf² the SparseCandidateSpec ladder measured ~quadratic
    * (head features saturate at df = N/100). Exact within the pruned
    * space; the oracle replays the identical law, decimal dots
    * end-to-end.
    */
  def q112SparseAllPairs(s: SparkSession, dir: String): DataFrame = {
    // spread: tokenize + 3-gram explode + partial tf ran as one 0.54 s task (r15)
    val docs = Place.spread(Tables.documents(s, dir), col("doc_id"))
    val (post, releaseTf) = SparseSim.postingsReleasable(
      docs, "doc_id", "text", n = 3,
      dfCap = lit(64.0)
    )
    SparseSim
      .allPairs(post, "doc_id", threshold = 0.5, afterMaterialize = releaseTf)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q112Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3
      |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM t),
      |idx AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t),
      |tf AS (
      |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS feature,
      |    CAST(count(*) AS BIGINT) AS tc
      |  FROM idx GROUP BY 1, 2
      |), df AS (SELECT feature, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |w AS (
      |  SELECT tf.doc_id, tf.feature,
      |    CAST(tf.tc AS DOUBLE) * ln((SELECT n_docs FROM n) / CAST(df.df AS DOUBLE)) AS w
      |  FROM tf JOIN df USING (feature)
      |  WHERE CAST(df.df AS DOUBLE) <= 64.0
      |), nrm AS (
      |  SELECT doc_id,
      |    sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nm
      |  FROM w GROUP BY 1
      |), p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,12))) AS DOUBLE) AS dot,
      |    CAST(count(*) AS BIGINT) AS n_shared
      |  FROM w a JOIN w b ON a.feature = b.feature AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b, n_shared,
      |  round(p.dot / (na.nm * nb.nm), 6) AS cosine
      |FROM p JOIN nrm na ON p.id_a = na.doc_id JOIN nrm nb ON p.id_b = nb.doc_id
      |WHERE round(p.dot / (na.nm * nb.nm), 6) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin
  query("q112_sparse_allpairs", q112SparseAllPairs, Some(q112Oracle))

  // ---------------------------------------------------------------- q113
  /** Training-export shard plan (ops/ExportPlan): deterministic global
    * pseudo-shuffle (portable multiplicative hash, the q85 split key)
    * + token-budgeted shard assignment via the two-pass distributed
    * prefix sum — the operator that turns a curated corpus into the
    * reproducible shard manifest a trainer reads. The oracle states the
    * SEMANTIC definition (one global window cumsum in (h, doc_id)
    * order); the Spark side computes it with zero global sorts — the
    * hash-bucket two-pass whose equivalence IS the thing certified.
    * Budget 2048 tokens/shard → ~13 shards at sf0.01, ~130 at sf0.1.
    */
  def q113ShardPlan(s: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val docs = Tables.documents(s, dir)
    val assigned = ExportPlan.assignShards(
      docs, "doc_id",
      weightCol = size(TextStats.tokens(col("text"))),
      budget = budget
    )
    ExportPlan
      .shardManifest(assigned, budget)
      .select(col("shard_id"), col("n_docs"), col("n_tokens"), col("h_lo"), col("h_hi"), col("fill_ppm"))
      .orderBy(col("shard_id"))
  }

  val q113Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, (doc_id * 2654435761) % 1000003 AS h,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wt
      |  FROM documents
      |), c AS (
      |  SELECT *, SUM(wt) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - wt AS cum_before
      |  FROM d
      |), s AS (SELECT *, CAST(cum_before // 2048 AS BIGINT) AS shard_id FROM c)
      |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(wt) AS BIGINT) AS n_tokens,
      |  CAST(MIN(h) AS BIGINT) AS h_lo, CAST(MAX(h) AS BIGINT) AS h_hi,
      |  CAST(SUM(wt) * 1000000 // 2048 AS BIGINT) AS fill_ppm
      |FROM s GROUP BY shard_id
      |ORDER BY shard_id""".stripMargin
  query("q113_shard_plan", q113ShardPlan, Some(q113Oracle))

  // ---------------------------------------------------------------- q114
  /** Decontamination COVERAGE report (ops/SparseSim coverage law): the
    * eval slice (doc_id % 10 = 7) becomes a frozen TF-IDF index; every
    * candidate training doc is scored by the asymmetric containment
    * "fraction of eval doc r's idf²-weighted 3-gram mass present in
    * probe p" — the graded form of the binary q61/q64 sweeps (those
    * answer "does any eval gram occur?", this answers "HOW MUCH of
    * which eval doc leaked?", the report a contamination audit ships).
    * Chosen over cosine so it needs ONE aggregation and no probe-side
    * norm. Pair work is again Σ df² over the CAPPED eval vocabulary —
    * constant cap 64, same linear-work bound as q112 (round 7; was the
    * scale-following cap the ladder measured superlinear); probe-side
    * work is map-side distinct-gram extraction only.
    */
  def q114DecontamCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // persist+materialize the frozen index (r15, the q153/Bm25 rankWithin
    // discipline): the index plan is read by the main feature join AND by
    // broadcast-build futures that otherwise race to recompute the whole
    // eval-side postings pipeline concurrently (traced as parallel
    // multi-second-task_ms jobs). One materialization, then cache reads.
    val idx = SparseSim.coverageIndex(
      docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", n = 3,
      dfCap = lit(64.0)
    ).transform(Place.materialized)
    val probes = SparseSim
      .distinctFeatures(
        // spread: the probe side's tokenize + explode, the heaviest map here, ran as one task (r15)
        Place.spread(docs.filter(col("doc_id") % 10 =!= 7), col("doc_id")),
        "doc_id", "text", n = 3)
      .withColumnRenamed("doc_id", "probe_id")
    SparseSim
      .coverageScores(probes, idx, threshold = 0.5)
      .orderBy(col("probe_id"), col("ref_id"))
  }

  val q114Oracle: String =
    """WITH ev AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |  WHERE doc_id % 10 = 7 AND len(string_split_regex(trim(text), '\s+')) >= 3
      |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM ev),
      |idx AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM ev),
      |tf AS (
      |  SELECT doc_id AS ref_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS feature,
      |    CAST(count(*) AS BIGINT) AS tc
      |  FROM idx GROUP BY 1, 2
      |), df AS (SELECT feature, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |w AS (
      |  SELECT tf.ref_id, tf.feature,
      |    CAST(tf.tc AS DOUBLE) * ln((SELECT n_docs FROM n) / CAST(df.df AS DOUBLE)) AS w
      |  FROM tf JOIN df USING (feature)
      |  WHERE CAST(df.df AS DOUBLE) <= 64.0
      |), nm AS (
      |  SELECT ref_id, CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE) AS nm2
      |  FROM w GROUP BY 1 HAVING CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE) > 0
      |), pr AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |  WHERE doc_id % 10 <> 7 AND len(string_split_regex(trim(text), '\s+')) >= 3
      |), pidx AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM pr),
      |pf AS (
      |  SELECT DISTINCT doc_id AS probe_id,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS feature
      |  FROM pidx
      |), cov AS (
      |  SELECT pf.probe_id, w.ref_id, CAST(count(*) AS BIGINT) AS n_shared,
      |    round(CAST(SUM(CAST(w.w * w.w AS DECIMAL(38,12))) AS DOUBLE) / MAX(nm.nm2), 6) AS coverage
      |  FROM pf JOIN w USING (feature) JOIN nm ON w.ref_id = nm.ref_id
      |  GROUP BY 1, 2
      |)
      |SELECT probe_id, ref_id, n_shared, coverage FROM cov
      |WHERE coverage >= 0.5
      |ORDER BY probe_id, ref_id""".stripMargin
  query("q114_decontam_coverage", q114DecontamCoverage, Some(q114Oracle))

  // ---------------------------------------------------------------- q115
  /** Weighted sampling without replacement (ops/WeightedSample,
    * Efraimidis–Spirakis A-Res): top-12 docs per source, probability
    * proportional to TOKEN COUNT — the token-budget-proportional draw
    * a mixture pipeline uses to subsample a source to budget while
    * keeping long docs represented by mass, not count. Deterministic
    * end-to-end (portable-hash u, rounded-key ranking), so the oracle
    * replays the identical key law and window. Map-side keys + one
    * WindowGroupLimit-pruned group shuffle.
    */
  def q115WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables
      .documents(s, dir)
      .select(col("source"), col("doc_id"), size(TextStats.tokens(col("text"))).as("n_tokens"))
    WeightedSample
      .topKByWeight(d, "source", "doc_id", col("n_tokens"), k = 12)
      .select(col("source"), col("rn"), col("doc_id"), col("n_tokens"), col("es_key"))
      .orderBy(col("source"), col("rn"))
  }

  val q115Oracle: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |    round(
      |      ln((CAST((doc_id * 2654435761) % 1000003 AS DOUBLE) + 0.5) / 1000003.0)
      |        / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE),
      |      6) AS es_key
      |  FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) > 0
      |), r AS (
      |  SELECT source, doc_id, n_tokens, es_key,
      |    CAST(ROW_NUMBER() OVER (
      |      PARTITION BY source ORDER BY es_key DESC, doc_id) AS BIGINT) AS rn
      |  FROM d
      |)
      |SELECT source, rn, doc_id, n_tokens, es_key FROM r
      |WHERE rn <= 12
      |ORDER BY source, rn""".stripMargin
  query("q115_weighted_sample", q115WeightedSample, Some(q115Oracle))

  // ---------------------------------------------------------------- q116
  /** Reproducible-export INTEGRITY digest (ops/ExportPlan.shardDigests):
    * per planned shard, two associative content digests — sum mod 2^61-1
    * and bit_xor of every member doc's portable 60-bit digest
    * (TextStats.contentDigest60). The verification half of the export
    * contract q113 plans: a trainer (or a re-run on a different cluster
    * size / engine) recomputes the pair per shard and diffs — any
    * membership drift flips both numbers, with no ordered fold and no
    * text movement (map-side-combined aggregates over 16-byte rows).
    * Budget matches q113 so the manifest and digest rows key together.
    */
  def q116ExportDigest(s: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val docs = Tables.documents(s, dir)
    val assigned = ExportPlan.assignShards(
      docs, "doc_id",
      weightCol = size(TextStats.tokens(col("text"))),
      budget = budget
    )
    val digests = docs.select(
      col("doc_id").as("id"),
      TextStats.contentDigest60(col("text")).as("digest")
    )
    ExportPlan
      .shardDigests(assigned, digests)
      .orderBy(col("shard_id"))
  }

  val q116Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, (doc_id * 2654435761) % 1000003 AS h,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wt,
      |    ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS digest
      |  FROM documents
      |), c AS (
      |  SELECT *, SUM(wt) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - wt AS cum_before
      |  FROM d
      |), s AS (SELECT *, CAST(cum_before // 2048 AS BIGINT) AS shard_id FROM c)
      |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST(digest AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT) AS digest_sum,
      |  bit_xor(digest) AS digest_xor
      |FROM s GROUP BY shard_id
      |ORDER BY shard_id""".stripMargin
  query("q116_export_digest", q116ExportDigest, Some(q116Oracle))

  // ---------------------------------------------------------------- q117
  /** CCNet head/middle/tail perplexity bucketing per language (Wenzek
    * et al.) — the pruning stage that CONSUMES q110's LM scores: within
    * each language, docs are ranked by avg_nll (best = closest to the
    * reference LM) and cut into terciles by DISCRETE rank arithmetic
    * ((rank-1)*3 div n — integer, so both engines agree to the row).
    * The per-language ranking deliberately does NOT use a
    * `partitionBy(lang)` window — a whole language in one task is the
    * single-partition collapse at 100 TB — but ops/Rank's range-binned
    * two-pass prefix sum, whose output IS the single-window definition
    * (the oracle replays the plain-window form; equality is the thing
    * certified, the q113 pattern). Scores ride rounded-6 into the rank
    * so tie order (then doc_id) is engine-exact.
    */
  def q117CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = LmScore.scoreHeldOut(docs, "doc_id", "text", refPred = col("doc_id") % 10 === 0)
    val withLang = scored.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val ranked = Rank.rankWithin(withLang, Seq("lang"), col("avg_nll"), col("doc_id"), "rn", bins = 64)
    val sizes = ranked.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    ranked
      .join(broadcast(sizes), Seq("lang"))
      .withColumn("bucket", expr("(rn - 1) * 3 div nl"))
      .groupBy(col("lang"), col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("avg_nll").cast("decimal(38,12)")).cast("double") / count(lit(1)), 6)
          .as("mean_nll"),
        min(col("avg_nll")).as("nll_lo"),
        max(col("avg_nll")).as("nll_hi")
      )
      .orderBy(col("lang"), col("bucket"))
  }

  val q117Oracle: String =
    lmScoredChainSql +
      """, lng AS (
        |  SELECT s.doc_id, s.avg_nll, d.lang
        |  FROM scored s JOIN documents d USING (doc_id)
        |), rk AS (
        |  SELECT lang, doc_id, avg_nll,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS nl
        |  FROM lng
        |)
        |SELECT lang, (rn - 1) * 3 // nl AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  round(CAST(SUM(CAST(avg_nll AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS mean_nll,
        |  MIN(avg_nll) AS nll_lo, MAX(avg_nll) AS nll_hi
        |FROM rk GROUP BY lang, (rn - 1) * 3 // nl
        |ORDER BY lang, bucket""".stripMargin
  query("q117_ccnet_buckets", q117CcnetBuckets, Some(q117Oracle))

  // ---------------------------------------------------------------- q118
  /** Per-source corpus integrity digest — the INCREMENTAL-ingest end of
    * the export contract (q116 is the per-shard end at export time):
    * (n_docs, sum-mod, bit_xor) of every doc's portable content digest,
    * grouped by source. Both digests are associative aggregates (the
    * ExportPlan.shardDigests law), so any batch or cross-engine re-run
    * recomputing the three numbers per source certifies the corpus.
    */
  def q118SourceDigest(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("source"), TextStats.contentDigest60(col("text")).as("digest"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("digest").cast("decimal(38,0)")) % lit(ExportPlan.DigestModulus))
          .cast("long").as("digest_sum"),
        expr("bit_xor(digest)").as("digest_xor")
      )
      .orderBy(col("source"))

  val q118Oracle: String =
    """WITH d AS (
      |  SELECT source,
      |    ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS digest
      |  FROM documents
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST(digest AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT) AS digest_sum,
      |  bit_xor(digest) AS digest_xor
      |FROM d GROUP BY source
      |ORDER BY source""".stripMargin
  query("q118_source_digest", q118SourceDigest, Some(q118Oracle))

  // ---------------------------------------------------------------- q119
  /** One-pass column profiler (ANALYZE-style): per numeric lineitem
    * column — row count, exact NDV, min, max, decimal-staged mean. The
    * table is scanned ONCE and `unpivot` melts the k profiled columns
    * into (col_name, value) rows map-side, so all k profiles cost one
    * scan + one aggregate pipeline instead of k separate jobs — the
    * difference between ANALYZE on a 100 TB table touching it once vs
    * k times. Exact NDV is the semantics here (count_distinct's partial
    * dedup shuffles (col_name, value) pairs); the sketch-grade variant
    * at open-ended cardinalities is q44's HLL — same query shape, one
    * agg swap.
    */
  def q119ColumnProfile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    Tables
      .lineitem(s, dir)
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
      .unpivot(Array.empty, cols.map(col).toArray, "col_name", "value")
      .groupBy(col("col_name"))
      .agg(
        count(col("value")).as("n"),
        count_distinct(col("value")).as("ndv"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        round(sum(col("value").cast("decimal(38,12)")).cast("double") / count(col("value")), 6)
          .as("vavg")
      )
      .orderBy(col("col_name"))
  }

  val q119Oracle: String = {
    val cols = Seq("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val union = cols
      .map(c => s"SELECT '$c' AS col_name, CAST($c AS DOUBLE) AS value FROM lineitem")
      .mkString("\n  UNION ALL ")
    s"""WITH u AS (
       |  $union
       |)
       |SELECT col_name, CAST(COUNT(value) AS BIGINT) AS n,
       |  CAST(COUNT(DISTINCT value) AS BIGINT) AS ndv,
       |  MIN(value) AS vmin, MAX(value) AS vmax,
       |  round(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / COUNT(value), 6) AS vavg
       |FROM u GROUP BY col_name
       |ORDER BY col_name""".stripMargin
  }
  query("q119_column_profile", q119ColumnProfile, Some(q119Oracle))

  // ---------------------------------------------------------------- q120
  /** The CURATION PIPELINE end-to-end — the capstone composition the
    * individual operators exist for, run as ONE dataflow: quality gate
    * (q21 law, score ≥ 0.5) → exact token-set dedup keep-min-id (q24/
    * q82 law) → eval-set decontamination (q61 law: drop any doc sharing
    * a distinct word-5-gram with the doc_id < 50 eval slice) → token-
    * budgeted shard plan over the survivors (q113 two-pass prefix sum)
    * → shard manifest merged with content digests (q116 law). Output:
    * one row per planned shard of the CURATED corpus, layout + integrity
    * columns together — the artifact a trainer consumes.
    *
    * Every stage is individually oracled elsewhere; THIS query's oracle
    * replays the full composition (nested CTEs of the same five laws),
    * certifying the stages compose without a seam — the difference
    * between a query zoo and a pipeline. Plan-wise nothing new appears:
    * map-side quality features, two gram/fp-keyed shuffles, the
    * broadcast eval probe, the bucketed prefix sum — every shape
    * audited by its own contract already; AQE re-plans freely between
    * stages at 100 TB.
    */
  def q120CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val docs = Tables.documents(s, dir)
    // 1. quality gate (corpus side only — the eval slice is not curated)
    val scored = TextStats
      .withQuality(docs.filter(col("doc_id") >= 50), "text")
      .filter(col("quality_score") >= 0.5)
      .select(col("doc_id"), col("text"))
    // 2. exact dedup: keep the min doc_id per token-set fingerprint
    val keepers = scored
      .groupBy(TextStats.tokenSetFingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = scored.join(keepers, Seq("doc_id"), "left_semi")
    // 3. decontamination: anti-join on shared distinct 5-grams vs eval
    val evalGrams = docs
      .filter(col("doc_id") < 50)
      .select(explode(TextDedup.shingles(col("text"), 5)).as("ng"))
      .distinct()
    val contaminated = deduped
      .select(col("doc_id"), explode(TextDedup.shingles(col("text"), 5)).as("ng"))
      .join(broadcast(evalGrams), Seq("ng"))
      .select(col("doc_id"))
      .distinct()
    // persist+materialize the curated survivors (r15, the q153/Bm25
    // rankWithin discipline): the whole quality→dedup→decontam chain
    // (three full tokenize passes) is read by assignShards' rankWithin
    // (three subtrees) AND the digests frame — unmaterialized it
    // recomputed per subtree.
    val curated = deduped
      .join(contaminated, Seq("doc_id"), "left_anti")
      .transform(Place.materialized)
    // 4.+5. shard plan + manifest + digests over the curated survivors
    val assigned = ExportPlan.assignShards(
      curated, "doc_id",
      weightCol = size(TextStats.tokens(col("text"))),
      budget = budget
    )
      // assigned is read by shardManifest AND shardDigests below; one
      // materialization instead of two rank-pipeline replays
      .transform(Place.materialized)
    val digests = curated.select(
      col("doc_id").as("id"),
      TextStats.contentDigest60(col("text")).as("digest")
    )
    ExportPlan
      .shardManifest(assigned, budget)
      .join(
        ExportPlan.shardDigests(assigned, digests).select(col("shard_id"), col("digest_sum"), col("digest_xor")),
        Seq("shard_id")
      )
      .select(
        col("shard_id"), col("n_docs"), col("n_tokens"),
        col("h_lo"), col("h_hi"), col("fill_ppm"),
        col("digest_sum"), col("digest_xor")
      )
      .orderBy(col("shard_id"))
  }

  val q120Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), qual AS (
      |  SELECT doc_id, text, toks FROM d
      |  WHERE doc_id >= 50 AND
      |    0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) >= 0.5
      |), keep AS (
      |  SELECT MIN(doc_id) AS doc_id
      |  FROM (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp FROM qual)
      |  GROUP BY fp
      |), dd AS (
      |  SELECT q.doc_id, q.text, q.toks FROM qual q JOIN keep k ON q.doc_id = k.doc_id
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(0, greatest(len(toks) - 4, 1)),
      |    i -> array_to_string(toks[i+1:i+5], ' '))) AS ngs
      |  FROM d
      |), bench AS (
      |  SELECT DISTINCT unnest(ngs) AS ng FROM sh WHERE doc_id < 50
      |), contaminated AS (
      |  SELECT DISTINCT e.doc_id
      |  FROM (SELECT s.doc_id, unnest(s.ngs) AS ng FROM sh s JOIN dd ON s.doc_id = dd.doc_id) e
      |  JOIN bench b ON e.ng = b.ng
      |), curated AS (
      |  SELECT dd.doc_id, dd.text, dd.toks FROM dd
      |  WHERE dd.doc_id NOT IN (SELECT doc_id FROM contaminated)
      |), w AS (
      |  SELECT doc_id, (doc_id * 2654435761) % 1000003 AS h,
      |    CAST(len(toks) AS BIGINT) AS wt,
      |    ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS digest
      |  FROM curated
      |), c AS (
      |  SELECT *, SUM(wt) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - wt AS cum_before
      |  FROM w
      |), s AS (SELECT *, CAST(cum_before // 2048 AS BIGINT) AS shard_id FROM c)
      |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(wt) AS BIGINT) AS n_tokens,
      |  CAST(MIN(h) AS BIGINT) AS h_lo, CAST(MAX(h) AS BIGINT) AS h_hi,
      |  CAST(SUM(wt) * 1000000 // 2048 AS BIGINT) AS fill_ppm,
      |  CAST(SUM(CAST(digest AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT) AS digest_sum,
      |  bit_xor(digest) AS digest_xor
      |FROM s GROUP BY shard_id
      |ORDER BY shard_id""".stripMargin
  query("q120_curation_pipeline", q120CurationPipeline, Some(q120Oracle))

  // ---------------------------------------------------------------- q121
  /** S4 DE positional-payload decode end-to-end (ops/Normalize
    * .decodeDePayload — reference app/main.py:747-783): DE-shaped
    * payload arrays are synthesized deterministically from events (the
    * q18/q19/q47 synthetic-generator discipline: both engines build the
    * IDENTICAL raw input, so the thing certified is the DECODE), with
    * every reference failure mode injected — short/malformed arrays
    * (every 10th row), unparseable values (every 7th), an unknown
    * component id in the rotation (the comp_map fallthrough), and
    * Berlin-naive key timestamps (January slice — away from the DST
    * hours where engines legitimately disagree, the q47 rule). All
    * map-side: a filter + projection over the scan, no shuffle until
    * the output sort.
    */
  def q121DePayloadDecode(s: SparkSession, dir: String): DataFrame = {
    val comps = array(lit("1"), lit("2"), lit("5"), lit("7"), lit("9"))
    val raw = Tables
      .events(s, dir)
      .filter(col("ts") < lit("2024-03-01"))
      .select(
        col("event_id"),
        col("user_id").cast("string").as("station_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("ts_str"),
        when(col("event_id") % 10 === 0, array(lit("1"), lit("x")))
          .otherwise(
            array(
              element_at(comps, (col("event_id") % 5 + 1).cast("int")),
              lit("measurement"),
              when(col("event_id") % 7 === 0, lit("not-a-number"))
                .otherwise(col("value").cast("string")),
              lit(""),
              when(col("event_id") % 3 === 0, lit("1")).otherwise(lit("0"))
            )
          )
          .as("payload")
      )
    Normalize
      .decodeDePayload(raw)
      .select(
        col("event_id"), col("station_id"), col("pollutant"), col("scope"),
        col("value"), col("unit"),
        date_format(col("ts_utc"), "yyyy-MM-dd HH:mm:ss").as("utc"),
        col("valid_flag"), col("source")
      )
      .orderBy(col("event_id"))
  }

  val q121Oracle: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(user_id AS VARCHAR) AS station_id, "value",
      |    strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_str
      |  FROM events WHERE ts < TIMESTAMP '2024-03-01'
      |), raw AS (
      |  SELECT event_id, station_id, ts_str,
      |    CASE WHEN event_id % 10 = 0 THEN ['1', 'x']
      |         ELSE [ ['1','2','5','7','9'][CAST(event_id % 5 + 1 AS INT)],
      |                'measurement',
      |                CASE WHEN event_id % 7 = 0 THEN 'not-a-number'
      |                     ELSE CAST("value" AS VARCHAR) END,
      |                '',
      |                CASE WHEN event_id % 3 = 0 THEN '1' ELSE '0' END ]
      |    END AS payload
      |  FROM ev
      |), dec AS (
      |  SELECT event_id, station_id,
      |    CASE payload[1] WHEN '1' THEN 'pm10' WHEN '2' THEN 'pm25'
      |                    WHEN '5' THEN 'no2' WHEN '7' THEN 'o3'
      |                    ELSE payload[1] END AS pollutant,
      |    payload[2] AS scope,
      |    TRY_CAST(payload[3] AS DOUBLE) AS "value",
      |    'ug/m3' AS unit,
      |    strftime(
      |      timezone('UTC', timezone('Europe/Berlin',
      |        TRY_STRPTIME(ts_str, '%Y-%m-%dT%H:%M:%S'))),
      |      '%Y-%m-%d %H:%M:%S') AS utc,
      |    payload[5] AS valid_flag,
      |    'de' AS source
      |  FROM raw WHERE len(payload) >= 3
      |)
      |SELECT * FROM dec WHERE "value" IS NOT NULL
      |ORDER BY event_id""".stripMargin
  query("q121_de_payload_decode", q121DePayloadDecode, Some(q121Oracle))

  // ---------------------------------------------------------------- q122
  /** BM25 ranked retrieval (ops.Bm25): inverted-index top-k search over
    * the documents corpus for a fixed multi-term query set — the
    * retrieval primitive behind targeted decontamination scoring and
    * corpus search. Postings are cut to query terms by a broadcast
    * semi join before anything heavy, idf is bounded model state (one
    * double per query term), scores fold components in deterministic
    * term order (the q35 bit-exact discipline), and top-k rides the
    * ops/Rank two-pass distributed rank — no per-query single-task
    * window even when one term matches half the corpus.
    *
    * DYNAMIC oracle (q122OracleFor): idf and avgdl are transcendental /
    * corpus-derived, so Verify computes them once in Scala and embeds
    * them as string-cast double literals (shortest-repr round-trip is
    * bit-exact); DuckDB then replays the identical +,*,/ arithmetic,
    * the ordered list_reduce fold, and the (score desc, doc_id) rank.
    */
  def q122Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "merge", "batch"),
    3 -> Seq("vector", "scan", "slow"),
    4 -> Seq("customer")
  )

  def q122Bm25(s: SparkSession, dir: String): DataFrame =
    Bm25
      .search(s, Tables.documents(s, dir), "doc_id", "text", q122Queries, k = 10)
      .orderBy(col("qid"), col("rank"))

  def q122OracleFor(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val terms = q122Queries.flatMap(_._2).distinct
    val st = Bm25.fitStats(docs, "doc_id", "text", terms,
      Bm25.postings(docs, "doc_id", "text", terms))
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val qvals = q122Queries
      .flatMap { case (qid, ts) =>
        ts.distinct.map(t => s"($qid, '$t', CAST('${st.idf(t)}' AS DOUBLE))")
      }
      .mkString(", ")
    val k1p1 = s"CAST('${Bm25.K1 + 1.0}' AS DOUBLE)"
    val k1 = s"CAST('${Bm25.K1}' AS DOUBLE)"
    val oneMinusB = s"CAST('${1.0 - Bm25.B}' AS DOUBLE)"
    val b = s"CAST('${Bm25.B}' AS DOUBLE)"
    val avgdl = s"CAST('${st.avgdl}' AS DOUBLE)"
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    len(string_split_regex(lower(trim(text)), '\\s+')) AS dl,
       |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, any_value(dl) AS dl
       |  FROM toks WHERE term IN ($termList)
       |  GROUP BY doc_id, term
       |), q(qid, term, idf) AS (VALUES $qvals),
       |comp AS (
       |  SELECT q.qid, tf.doc_id, q.term,
       |    q.idf * (tf * $k1p1) /
       |      (tf + $k1 * ($oneMinusB + $b * dl / $avgdl)) AS c
       |  FROM tf JOIN q USING (term)
       |), scored AS (
       |  SELECT qid, doc_id,
       |    list_reduce(
       |      list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY term)),
       |      (x, y) -> x + y) AS score
       |  FROM comp GROUP BY qid, doc_id
       |), ranked AS (
       |  SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
       |  FROM scored
       |)
       |SELECT qid, CAST(rnk AS BIGINT) AS "rank", doc_id, score
       |FROM ranked WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }
  query("q122_bm25", q122Bm25, None)

  // ---------------------------------------------------------------- q123
  /** Per-shard ORDER digest (ExportPlan.shardOrderDigests): certifies
    * the (h, doc_id) pseudo-shuffle order a trainer reads — the
    * complement of q116, whose sum/xor membership digests are
    * order-blind by design. Σ pos·digest mod 2^61-1 with pos from the
    * ops/Rank two-pass distributed rank (never a per-shard single-task
    * window); per-row mod before the sum keeps the decimal accumulator
    * exact at any shard size. The oracle replays the full assignment +
    * a plain row_number window + the same modular sum in HUGEINT —
    * CAST to BIGINT at every emission point (the r7 shard_id lesson).
    */
  def q123OrderDigest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val assigned = ExportPlan.assignShards(
      docs, "doc_id",
      weightCol = size(TextStats.tokens(col("text"))),
      budget = 2048L
    )
    val digests = docs.select(
      col("doc_id").as("id"),
      TextStats.contentDigest60(col("text")).as("digest")
    )
    ExportPlan.shardOrderDigests(assigned, digests).orderBy(col("shard_id"))
  }

  val q123Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, (doc_id * 2654435761) % 1000003 AS h,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wt,
      |    ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS digest
      |  FROM documents
      |), c AS (
      |  SELECT *, SUM(wt) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - wt AS cum_before
      |  FROM d
      |), s AS (SELECT *, CAST(cum_before // 2048 AS BIGINT) AS shard_id FROM c
      |), p AS (
      |  SELECT shard_id, digest,
      |    row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS pos
      |  FROM s
      |)
      |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM((CAST(pos AS HUGEINT) * digest) % 2305843009213693951)
      |       % 2305843009213693951 AS BIGINT) AS order_digest
      |FROM p GROUP BY shard_id
      |ORDER BY shard_id""".stripMargin
  query("q123_order_digest", q123OrderDigest, Some(q123Oracle))

  // ---------------------------------------------------------------- q124
  /** Incremental corpus-digest maintenance law (ops.CorpusDelta): two
    * snapshots are derived deterministically from the documents table
    * (drops, text edits, and a source MOVE — the q74 CDC-derivation
    * pattern), diffed id-keyed, and the per-source digest congruence
    *   sum_after ≡ sum_before + Σ events (mod 2^61-1)
    * is certified per group with the event counts. This is the law
    * that lets q118's corpus digests update from a change feed at
    * 100 TB without rescanning; the oracle replays the full algebra —
    * snapshots, diff, events, modular sums — and must agree on every
    * count, both sums, the event delta, AND the law verdict.
    */
  def q124DeltaDigest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def snap(df: DataFrame): DataFrame =
      df.select(
        col("doc_id"),
        col("source"),
        TextStats.contentDigest60(col("text")).as("digest")
      )
    val before = snap(docs.filter(col("doc_id") % 11 =!= 3))
    val after = snap(
      docs
        .filter(col("doc_id") % 13 =!= 5)
        .withColumn(
          "text",
          when(col("doc_id") % 17 === 1, concat(col("text"), lit(" updated")))
            .otherwise(col("text"))
        )
        .withColumn(
          "source",
          when(col("doc_id") % 19 === 4, concat(col("source"), lit("_x")))
            .otherwise(col("source"))
        )
    )
    CorpusDelta
      .deltaDigest(before, after, "doc_id", "source", "digest")
      .orderBy(col("g"))
  }

  val q124Oracle: String =
    """WITH b AS (
      |  SELECT doc_id, source AS gb,
      |    ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS db
      |  FROM documents WHERE doc_id % 11 <> 3
      |), a0 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 19 = 4 THEN source || '_x' ELSE source END AS ga,
      |    CASE WHEN doc_id % 17 = 1 THEN text || ' updated' ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 5
      |), a AS (
      |  SELECT doc_id, ga,
      |    ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS da
      |  FROM a0
      |), j AS (
      |  SELECT gb, db, ga, da
      |  FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id
      |), ev AS (
      |  SELECT gb AS g, -CAST(db AS HUGEINT) AS d FROM j
      |    WHERE da IS NULL OR (db IS NOT NULL AND ga <> gb)
      |  UNION ALL
      |  SELECT ga, CAST(da AS HUGEINT) FROM j
      |    WHERE db IS NULL OR (da IS NOT NULL AND ga <> gb)
      |  UNION ALL
      |  SELECT ga, CAST(da AS HUGEINT) - db FROM j
      |    WHERE db IS NOT NULL AND da IS NOT NULL AND ga = gb AND da <> db
      |), delta AS (
      |  SELECT g, CAST(((SUM(d) % 2305843009213693951) + 2305843009213693951)
      |                 % 2305843009213693951 AS BIGINT) AS delta_sum
      |  FROM ev GROUP BY g
      |), cnt AS (
      |  SELECT g,
      |    CAST(SUM(CASE WHEN k = 'add' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |    CAST(SUM(CASE WHEN k = 'rm' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |    CAST(SUM(CASE WHEN k = 'chg' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
      |  FROM (
      |    SELECT ga AS g, 'add' AS k FROM j WHERE db IS NULL OR (da IS NOT NULL AND ga <> gb)
      |    UNION ALL
      |    SELECT gb, 'rm' FROM j WHERE da IS NULL OR (db IS NOT NULL AND ga <> gb)
      |    UNION ALL
      |    SELECT ga, 'chg' FROM j WHERE db IS NOT NULL AND da IS NOT NULL AND ga = gb AND da <> db
      |  ) GROUP BY g
      |), sb AS (
      |  SELECT gb AS g, CAST(SUM(CAST(db AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS sum_before,
      |    CAST(count(*) AS BIGINT) AS n_before
      |  FROM b GROUP BY gb
      |), sa AS (
      |  SELECT ga AS g, CAST(SUM(CAST(da AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS sum_after,
      |    CAST(count(*) AS BIGINT) AS n_after
      |  FROM a GROUP BY ga
      |)
      |SELECT g,
      |  CAST(COALESCE(n_before, 0) AS BIGINT) AS n_before,
      |  CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
      |  CAST(COALESCE(n_added, 0) AS BIGINT) AS n_added,
      |  CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
      |  CAST(COALESCE(n_changed, 0) AS BIGINT) AS n_changed,
      |  CAST(COALESCE(delta_sum, 0) AS BIGINT) AS delta_sum,
      |  CAST(COALESCE(sum_before, 0) AS BIGINT) AS digest_sum_before,
      |  CAST(COALESCE(sum_after, 0) AS BIGINT) AS digest_sum_after,
      |  (CAST((COALESCE(sum_before, 0) + COALESCE(delta_sum, 0))
      |        % 2305843009213693951 AS BIGINT) = COALESCE(sum_after, 0)) AS law_holds
      |FROM sb
      |FULL OUTER JOIN sa USING (g)
      |FULL OUTER JOIN delta USING (g)
      |FULL OUTER JOIN cnt USING (g)
      |ORDER BY g""".stripMargin
  query("q124_delta_digest", q124DeltaDigest, Some(q124Oracle))

  // ---------------------------------------------------------------- q125
  /** Stratified mixture-balanced sharding (ExportPlan.stratifiedShards):
    * each source dealt round-robin over 16 shards in within-source
    * pseudo-shuffle order, so every shard is an unbiased mini-corpus —
    * the complement of q113's budget packing. The oracle replays the
    * plain per-source window rank + mod + counts + balance verdict;
    * the ranking itself rides ops/Rank's two-pass (equality to the
    * single-window definition is the certified law, the q117 pattern).
    */
  def q125StratifiedShards(s: SparkSession, dir: String): DataFrame = {
    val assigned = ExportPlan.stratifiedShards(
      Tables.documents(s, dir), "doc_id", "source", nShards = 16)
    ExportPlan
      .stratifiedManifest(assigned, nShards = 16)
      .orderBy(col("shard_id"), col("src"))
  }

  val q125Oracle: String =
    """WITH d AS (
      |  SELECT doc_id AS id, source AS src,
      |    (doc_id * 2654435761) % 1000003 AS h
      |  FROM documents
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY h, id) AS rn FROM d
      |), a AS (
      |  SELECT src, CAST((rn - 1) % 16 AS BIGINT) AS shard_id FROM r
      |), c AS (
      |  SELECT shard_id, src, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM a GROUP BY shard_id, src
      |), bs AS (
      |  SELECT src, max(n_docs) AS max_n, min(n_docs) AS min_n,
      |    count(*) AS shards_used
      |  FROM c GROUP BY src
      |), b AS (
      |  SELECT src,
      |    (max_n - CASE WHEN shards_used < 16 THEN 0 ELSE min_n END) <= 1
      |      AS src_balanced
      |  FROM bs
      |)
      |SELECT shard_id, src, n_docs, src_balanced
      |FROM c JOIN b USING (src)
      |ORDER BY shard_id, src""".stripMargin
  query("q125_stratified_shards", q125StratifiedShards, Some(q125Oracle))

  // ---------------------------------------------------------------- q126
  /** The GOPHER RULE SET (TextStats.withGopherRules): word-count and
    * mean-word-length bounds, required-stopword floor, CHAR-WEIGHTED
    * top-n-gram caps for n = 2..4 and a char-weighted duplicate-5-gram
    * cap, composed into the `keep` verdict — the published
    * Gopher/MassiveText repetition rules (Rae et al. 2021, Table A1)
    * that complement q58's count-ratio signals (a 20-char gram repeated
    * twice weighs 4× a 5-char one here, so the two catch different
    * boilerplate). Entirely map-side column algebra over one corpus
    * scan — zero shuffles before the final presentation sort; every
    * fraction is an exact-integer numerator over total token chars with
    * one double division, so the oracle replays it bit-for-bit. Rule
    * booleans compare the UNROUNDED doubles in both engines (rounding
    * is presentation-only), keeping verdicts threshold-exact.
    */
  def q126GopherRules(s: SparkSession, dir: String): DataFrame =
    TextStats
      .withGopherRules(Tables.documents(s, dir), "text")
      .select(
        col("doc_id"),
        col("n_words"),
        col("total_chars"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        col("stop_hits"),
        round(col("top2gram_char_frac"), 6).as("top2gram_char_frac"),
        round(col("top3gram_char_frac"), 6).as("top3gram_char_frac"),
        round(col("top4gram_char_frac"), 6).as("top4gram_char_frac"),
        round(col("dup5gram_char_frac"), 6).as("dup5gram_char_frac"),
        col("word_count_ok"),
        col("mean_len_ok"),
        col("stop_ok"),
        col("rep2_ok"),
        col("rep3_ok"),
        col("rep4_ok"),
        col("dup5_ok"),
        col("keep")
      )
      .orderBy(col("doc_id"))

  val q126Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, toks,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_chars,
      |    list_transform(range(0, greatest(len(toks)-2, 0) + 1), i -> array_to_string(toks[i+1:i+2], ' ')) AS g2,
      |    list_transform(range(0, greatest(len(toks)-3, 0) + 1), i -> array_to_string(toks[i+1:i+3], ' ')) AS g3,
      |    list_transform(range(0, greatest(len(toks)-4, 0) + 1), i -> array_to_string(toks[i+1:i+4], ' ')) AS g4,
      |    list_transform(range(0, greatest(len(toks)-5, 0) + 1), i -> array_to_string(toks[i+1:i+5], ' ')) AS g5
      |  FROM t
      |), m AS (
      |  SELECT doc_id, n_words, total_chars,
      |    CAST(total_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mwl,
      |    CAST(len(list_intersect(list_distinct(toks), ['the','a','of','and','is','to','in'])) AS BIGINT) AS stop_hits,
      |    greatest(0, list_max(list_transform(list_distinct(g2), u -> len(list_filter(g2, x -> x = u)) * (length(u) - 1)))) AS m2,
      |    greatest(0, list_max(list_transform(list_distinct(g3), u -> len(list_filter(g3, x -> x = u)) * (length(u) - 2)))) AS m3,
      |    greatest(0, list_max(list_transform(list_distinct(g4), u -> len(list_filter(g4, x -> x = u)) * (length(u) - 3)))) AS m4,
      |    list_sum(list_transform(list_distinct(g5), u -> (len(list_filter(g5, x -> x = u)) - 1) * (length(u) - 4))) AS d5
      |  FROM b
      |), f AS (
      |  SELECT doc_id, n_words, total_chars, mwl, stop_hits,
      |    CAST(m2 AS DOUBLE) / CAST(total_chars AS DOUBLE) AS f2,
      |    CAST(m3 AS DOUBLE) / CAST(total_chars AS DOUBLE) AS f3,
      |    CAST(m4 AS DOUBLE) / CAST(total_chars AS DOUBLE) AS f4,
      |    CAST(d5 AS DOUBLE) / CAST(total_chars AS DOUBLE) AS f5
      |  FROM m
      |)
      |SELECT doc_id, n_words, total_chars,
      |  round(mwl, 6) AS mean_word_len,
      |  stop_hits,
      |  round(f2, 6) AS top2gram_char_frac,
      |  round(f3, 6) AS top3gram_char_frac,
      |  round(f4, 6) AS top4gram_char_frac,
      |  round(f5, 6) AS dup5gram_char_frac,
      |  (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
      |  (mwl >= 3.0 AND mwl <= 10.0) AS mean_len_ok,
      |  (stop_hits >= 2) AS stop_ok,
      |  (f2 <= 0.20) AS rep2_ok,
      |  (f3 <= 0.18) AS rep3_ok,
      |  (f4 <= 0.16) AS rep4_ok,
      |  (f5 <= 0.15) AS dup5_ok,
      |  (n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
      |   AND stop_hits >= 2 AND f2 <= 0.20 AND f3 <= 0.18 AND f4 <= 0.16
      |   AND f5 <= 0.15) AS keep
      |FROM f
      |ORDER BY doc_id""".stripMargin
  query("q126_gopher_rules", q126GopherRules, Some(q126Oracle))

  // ---------------------------------------------------------------- q127
  /** LEAKAGE-SAFE train/val/test split (ops/Splits.componentSplit): the
    * split hash is keyed on the NEAR-DUP COMPONENT label, not the doc
    * id, so a cluster can never straddle train and eval — the repair
    * for exactly the contamination q85's census MEASURES. The audit
    * re-derives the cross-split pair count (provably 0 by construction)
    * instead of asserting it: both engines count it from their own
    * assignment, so a regression in the label join turns the row red.
    * Pairs here come from the oracled exact-Jaccard audit slice (the
    * q84 discipline — the recursive-CTE CC replay bounds the SQL); at
    * corpus scale the same operator takes LSH band candidates and the
    * identical one-left-join assignment.
    */
  def q127LeakSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.documents(s, dir).filter(col("doc_id") < 300)
    // cut, not persist (r15): q140's finding — the CC rounds inside
    // componentSplit re-analyze the plan under `pairs` every round, and
    // with the whole nearDupsExact pipeline there that is real per-round
    // driver time; the cut truncates it to one LogicalRDD (and is the
    // eager materialization the two consumers below need anyway)
    val pairs = graft.ops.Checkpoints.cut(
      TextDedup
        .nearDupsExact(slice, "doc_id", "text", threshold = 0.9)
        .select(col("id_a"), col("id_b"))
        // AQE-width repartition before the cut — same rationale as q140:
        // store the sub-MB pair frame at an honest width, not the heavy
        // pair-scan's spread width that every CC round would re-schedule
        .repartition(col("id_a")))
    val assigned = Splits
      .componentSplit(slice, pairs, "doc_id")
      .transform(Place.materialized) // eager: audit + profile consumers share this cache
    val leaky = pairs
      .join(assigned.select(col("doc_id").as("id_a"), col("split").as("split_a")), Seq("id_a"))
      .join(assigned.select(col("doc_id").as("id_b"), col("split").as("split_b")), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .agg(count(lit(1)).as("leaky_pairs"))
    assigned
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("component").isNotNull, 1L).otherwise(0L)).as("n_clustered")
      )
      .crossJoin(broadcast(leaky))
      .select(col("source"), col("split"), col("n_docs"), col("n_clustered"), col("leaky_pairs"))
      .orderBy(col("source"), col("split"))
  }

  val q127Oracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, source, list_distinct(string_split_regex(trim(text), '\s+')) AS tk
      |  FROM documents WHERE doc_id < 300
      |), edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
      |        CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) >= 0.9
      |), sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM edges
      |  UNION ALL
      |  SELECT id_b, id_a FROM edges
      |), reach(id, comp) AS (
      |  SELECT DISTINCT src, src FROM sym
      |  UNION
      |  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
      |), comps AS (
      |  SELECT id, MIN(comp) AS component FROM reach GROUP BY id
      |), k AS (
      |  SELECT t.doc_id, t.source, c.component,
      |    COALESCE(c.component, t.doc_id) AS split_key
      |  FROM t LEFT JOIN comps c ON t.doc_id = c.id
      |), sp AS (
      |  SELECT doc_id, source, component,
      |    CASE WHEN (split_key * 2654435761) % 1000003 < 800000 THEN 'train'
      |         WHEN (split_key * 2654435761) % 1000003 < 900000 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM k
      |), lk AS (
      |  SELECT CAST(count(*) AS BIGINT) AS leaky_pairs
      |  FROM edges e
      |  JOIN sp a ON e.id_a = a.doc_id
      |  JOIN sp b ON e.id_b = b.doc_id
      |  WHERE a.split <> b.split
      |)
      |SELECT sp.source, sp.split, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN sp.component IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
      |  lk.leaky_pairs
      |FROM sp, lk
      |GROUP BY sp.source, sp.split, lk.leaky_pairs
      |ORDER BY source, split""".stripMargin
  query("q127_leak_safe_split", q127LeakSafeSplit, Some(q127Oracle))

  // ---------------------------------------------------------------- q128
  /** Distributed CLASSIFIER TRAINING (ops/Classifier): 6 full-batch
    * gradient-descent iterations of a language-filter linear model over
    * surface-statistics features — each iteration ONE map-side
    * aggregate of 4 exact integer gradient sums (the treeAggregate
    * shape; model state = 4 driver-side doubles broadcast back as
    * literals). The rational fast-sigmoid + integer-grid quantization
    * make the whole weight TRAJECTORY bit-replayable, so the oracle
    * RE-TRAINS the model in DuckDB (zero literals, the q95 BPE
    * discipline) through 6 chained materialized CTEs and must land on
    * the identical per-doc scores. On this vocabulary-flat synthetic
    * corpus the model honestly converges toward the base rate — the
    * certified artifact is the TRAINING LAW, plus the quantized
    * Brier-sum convergence verdict (brier_final_q < brier_init_q),
    * which both engines derive from their own trained weights.
    */
  def q128TrainClassifier(s: SparkSession, dir: String): DataFrame = {
    val feats = Classifier
      .features(Tables.documents(s, dir), "text", "lang")
      .transform(Place.materialized) // eager: 6 GD iterations + 2 Brier sums + scoring share this cache
    val w = Classifier.fit(feats, iters = 6)
    val brier0 = Classifier.brierQSum(feats, Array(0.0, 0.0, 0.0, 0.0))
    val brierT = Classifier.brierQSum(feats, w)
    val p = Classifier.probExpr(Classifier.zExpr(w))
    feats
      .select(
        col("doc_id"),
        round(p, 6).as("score"),
        (p >= lit(0.5)).as("pred_en"),
        (col("y") === lit(1.0)).as("is_en"),
        lit(brier0).as("brier_init_q"),
        lit(brierT).as("brier_final_q"),
        lit(brierT < brier0).as("brier_improved")
      )
      .orderBy(col("doc_id"))
  }

  /** q128 replay: DuckDB re-trains all 6 iterations. Generated by the
    * same Scala loop shape Classifier.fit runs — query and oracle share
    * the iteration definition by construction. CTEs are MATERIALIZED:
    * w{i-1} is referenced twice per iteration (gradient + update), so
    * inlining would branch 2^6 ways (the q95 lesson).
    */
  val q128Oracle: String = {
    val sigma = "(0.5 + z/(2.0*(1.0+abs(z))))"
    def gradSums = (0 to 3)
      .map(k =>
        s"CAST(SUM(CAST(floor(($sigma - y)*x$k*1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS g$k"
      )
      .mkString(",\n|      ")
    def zFrom(wcte: String) =
      s"SELECT f.*, w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 AS z FROM feats f, $wcte w"
    val iters = (1 to 6)
      .map { i =>
        s"""g$i AS MATERIALIZED (
           |  SELECT $gradSums
           |  FROM (${zFrom(s"w${i - 1}")})
           |), w$i AS MATERIALIZED (
           |  SELECT ${(0 to 3)
                .map(k => s"w.w$k - 0.5*(CAST(g.g$k AS DOUBLE)/1000000.0/nn.n) AS w$k")
                .mkString(", ")}
           |  FROM w${i - 1} w, g$i g, nn
           |)""".stripMargin
      }
      .mkString(", ")
    def brier(wcte: String) =
      s"""SELECT CAST(SUM(CAST(floor(($sigma - y)*($sigma - y)*1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS b
         |  FROM (${zFrom(wcte)})""".stripMargin
    s"""WITH feats AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    CAST(1.0 AS DOUBLE) AS x0,
       |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) /
       |      CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS x1,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |           x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) /
       |      CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS x2,
       |    least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / CAST(200.0 AS DOUBLE),
       |          CAST(1.0 AS DOUBLE)) AS x3,
       |    CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
       |  FROM documents
       |), nn AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM feats
       |), w0 AS MATERIALIZED (
       |  SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
       |         CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3
       |), $iters, b0 AS (
       |  ${brier("w0")}
       |), bt AS (
       |  ${brier("w6")}
       |)
       |SELECT f.doc_id,
       |  round($sigma, 6) AS score,
       |  ($sigma >= 0.5) AS pred_en,
       |  (f.y = CAST(1.0 AS DOUBLE)) AS is_en,
       |  b0.b AS brier_init_q,
       |  bt.b AS brier_final_q,
       |  (bt.b < b0.b) AS brier_improved
       |FROM (${zFrom("w6")}) f, b0, bt
       |ORDER BY f.doc_id""".stripMargin
  }
  query("q128_train_classifier", q128TrainClassifier, Some(q128Oracle))

  // ---------------------------------------------------------------- q129
  /** Johnson–Lindenstrauss ±1 RANDOM PROJECTION (ops/RandomProjection,
    * Achlioptas 2003) 64 → 16 dims, certified by a distance-
    * preservation audit: for each consecutive-id pair in the bounded
    * slice, the projected/original squared-distance ratio and its
    * (1±ε) verdict, plus the corpus-level within-count — every number
    * DERIVED independently by both engines (the oracle regenerates the
    * sign matrix from the portable-hash parity formula, zero literals).
    * The projection itself is pure map-side ordered folds against a
    * broadcast constant matrix; at corpus scale it cuts ANN shuffle
    * and cache bytes 4× before any bucketing.
    */
  def q129JlProjection(s: SparkSession, dir: String): DataFrame = {
    val pr = RandomProjection.withProjection(
      Tables.embeddings(s, dir).filter(col("vec_id") < 100),
      "embedding", outDim = 16, inDim = 64)
    val a = pr
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id_a"), col("embedding").as("va"), col("proj").as("pa"))
    val b = pr
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("proj").as("pb"))
    val pairs = a
      .join(b, col("id_b") === col("id_a") + 1)
      .withColumn("d2_orig", RandomProjection.sqDistExpr(col("va"), col("vb")))
      .withColumn("d2_proj", RandomProjection.sqDistExpr(col("pa"), col("pb")))
      .filter(col("d2_orig") > 0.0)
      .withColumn("ratio", col("d2_proj") / col("d2_orig"))
      .withColumn("within", col("ratio") >= 0.25 && col("ratio") <= 2.5)
      .transform(Place.materialized) // eager: summary + row output share this cache
    val summary = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("within").cast("long")).as("n_within")
    )
    pairs
      .select(
        col("id_a"),
        col("id_b"),
        round(col("d2_orig"), 6).as("d2_orig"),
        round(col("d2_proj"), 6).as("d2_proj"),
        round(col("ratio"), 6).as("ratio"),
        col("within")
      )
      .crossJoin(broadcast(summary))
      .orderBy(col("id_a"))
  }

  val q129Oracle: String =
    """WITH e AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100
      |), R AS (
      |  SELECT j, list_transform(range(0, 64), k ->
      |    CASE WHEN ('0x' || substr(md5(CAST(j*64 + k AS VARCHAR)), 1, 1))::BIGINT % 2 = 0
      |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS r
      |  FROM range(0, 16) t(j)
      |), p AS (
      |  SELECT e.vec_id, e.embedding,
      |    list(
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(0, 64), k -> CAST(e.embedding[k+1] AS DOUBLE) * R.r[k+1])),
      |        (a, b) -> a + b) / sqrt(CAST(16.0 AS DOUBLE))
      |      ORDER BY R.j) AS proj
      |  FROM e, R
      |  GROUP BY e.vec_id, e.embedding
      |), pr AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(0, 64), k ->
      |        (CAST(a.embedding[k+1] AS DOUBLE) - CAST(b.embedding[k+1] AS DOUBLE)) *
      |        (CAST(a.embedding[k+1] AS DOUBLE) - CAST(b.embedding[k+1] AS DOUBLE)))),
      |      (x, y) -> x + y) AS d2_orig,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(0, 16), j ->
      |        (a.proj[j+1] - b.proj[j+1]) * (a.proj[j+1] - b.proj[j+1]))),
      |      (x, y) -> x + y) AS d2_proj
      |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0
      |), r2 AS (
      |  SELECT *, d2_proj / d2_orig AS ratio FROM pr WHERE d2_orig > 0.0
      |), s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(CASE WHEN ratio >= 0.25 AND ratio <= 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_within
      |  FROM r2
      |)
      |SELECT id_a, id_b,
      |  round(d2_orig, 6) AS d2_orig,
      |  round(d2_proj, 6) AS d2_proj,
      |  round(ratio, 6) AS ratio,
      |  (ratio >= 0.25 AND ratio <= 2.5) AS within,
      |  s.n_pairs, s.n_within
      |FROM r2, s
      |ORDER BY id_a""".stripMargin
  query("q129_jl_projection", q129JlProjection, Some(q129Oracle))

  // ---------------------------------------------------------------- q130
  /** JL-ACCELERATED nearest-neighbor RANKING AGREEMENT: top-10 by
    * squared L2 in the 16-dim projected space vs the exact 64-dim
    * ranking, recall@10 per query + corpus mean — the measured quality
    * gate for putting q129's projection in front of the ANN stack
    * (rank in 16 dims = 4× fewer distance flops and shuffle bytes;
    * this query certifies what that costs in recall). Exact all-pairs
    * on a bounded slice is the deliberate oracled audit baseline (the
    * q91 discipline); both rankings break ties by id over bit-exact
    * fold distances, so the two engines derive identical neighbor
    * sets and the recall numbers are exact rationals.
    *
    * MEASURED verdict on this corpus: mean recall@10 ≈ 0.18 — the
    * audit's honest finding, not a defect. The synthetic embeddings
    * are near-isotropic, so pairwise distances CONCENTRATE (all
    * neighbors nearly equidistant); JL keeps every distance within
    * (1±ε) (q129 passes) yet ε exceeds the tiny gaps that order the
    * top-10, and the ranking scrambles. That is exactly the
    * production lesson this gate exists to teach: measure ranking
    * agreement per corpus before deploying a projection in front of
    * top-k — distance preservation alone (q129) is NOT sufficient
    * when the distance spectrum is flat; on clustered real-world
    * embeddings (wide spectrum) the same projection scores high.
    */
  def q130JlAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val pr = RandomProjection
      .withProjection(
        Tables.embeddings(s, dir).filter(col("vec_id") < 200),
        "embedding", outDim = 16, inDim = 64)
      .select(col("vec_id"), col("embedding"), col("proj"))
      .transform(Place.materialized) // eager: query side + corpus side share this cache
    val q = pr
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("proj").as("qp"))
    val pairs = broadcast(q)
      .crossJoin(pr.select(col("vec_id").as("id"), col("embedding").as("cv"), col("proj").as("cp")))
      .filter(col("id") =!= col("qid"))
      .withColumn("d2o", RandomProjection.sqDistExpr(col("qv"), col("cv")))
      .withColumn("d2p", RandomProjection.sqDistExpr(col("qp"), col("cp")))
      .transform(Place.materialized) // eager: two rankings share this cache
    val we = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2o").asc, col("id").asc)
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2p").asc, col("id").asc)
    val exact = pairs.withColumn("rn", row_number().over(we)).filter(col("rn") <= 10).select("qid", "id")
    val approx = pairs.withColumn("rn", row_number().over(wp)).filter(col("rn") <= 10).select("qid", "id")
    val hits = exact.join(approx, Seq("qid", "id")).groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    val perQ = q
      .select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .transform(Place.materialized) // eager: summary + row output share this cache
    // the materialized perQ supersedes both upstream caches: the final
    // frame reads perQ only (r15, the postingsReleasable discipline)
    pr.unpersist()
    pairs.unpersist()
    val summary = perQ.agg(
      (sum(col("n_hits")).cast("double") / lit(100.0)).as("mean_recall")
    )
    perQ
      .select(
        col("qid").as("query_id"),
        col("n_hits"),
        round(col("n_hits").cast("double") / lit(10.0), 6).as("recall")
      )
      .crossJoin(broadcast(summary))
      .withColumn("mean_recall", round(col("mean_recall"), 6))
      .orderBy(col("query_id"))
  }

  val q130Oracle: String =
    """WITH e AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
      |), R AS (
      |  SELECT j, list_transform(range(0, 64), k ->
      |    CASE WHEN ('0x' || substr(md5(CAST(j*64 + k AS VARCHAR)), 1, 1))::BIGINT % 2 = 0
      |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS r
      |  FROM range(0, 16) t(j)
      |), p AS (
      |  SELECT e.vec_id, e.embedding,
      |    list(
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(0, 64), k -> CAST(e.embedding[k+1] AS DOUBLE) * R.r[k+1])),
      |        (a, b) -> a + b) / sqrt(CAST(16.0 AS DOUBLE))
      |      ORDER BY R.j) AS proj
      |  FROM e, R
      |  GROUP BY e.vec_id, e.embedding
      |), q AS (
      |  SELECT vec_id AS qid, embedding AS qv, proj AS qp FROM p WHERE vec_id < 10
      |), pr AS (
      |  SELECT q.qid, c.vec_id AS id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(0, 64), k ->
      |        (CAST(q.qv[k+1] AS DOUBLE) - CAST(c.embedding[k+1] AS DOUBLE)) *
      |        (CAST(q.qv[k+1] AS DOUBLE) - CAST(c.embedding[k+1] AS DOUBLE)))),
      |      (x, y) -> x + y) AS d2o,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(0, 16), j ->
      |        (q.qp[j+1] - c.proj[j+1]) * (q.qp[j+1] - c.proj[j+1]))),
      |      (x, y) -> x + y) AS d2p
      |  FROM q, p c WHERE c.vec_id <> q.qid
      |), ex AS (
      |  SELECT qid, id FROM (
      |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d2o, id) AS rn FROM pr
      |  ) WHERE rn <= 10
      |), ap AS (
      |  SELECT qid, id FROM (
      |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d2p, id) AS rn FROM pr
      |  ) WHERE rn <= 10
      |), h AS (
      |  SELECT qid, CAST(count(*) AS BIGINT) AS n_hits
      |  FROM ex JOIN ap USING (qid, id) GROUP BY qid
      |), pq AS (
      |  SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
      |  FROM q LEFT JOIN h USING (qid)
      |), s AS (
      |  SELECT CAST(SUM(n_hits) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS mean_recall FROM pq
      |)
      |SELECT pq.qid AS query_id, pq.n_hits,
      |  round(CAST(pq.n_hits AS DOUBLE) / CAST(10.0 AS DOUBLE), 6) AS recall,
      |  round(s.mean_recall, 6) AS mean_recall
      |FROM pq, s
      |ORDER BY query_id""".stripMargin
  query("q130_jl_ann_recall", q130JlAnnRecall, Some(q130Oracle))

  // ---------------------------------------------------------------- q131
  /** COUNT-MIN sketch (expr.CountMinSketch, Cormode–Muthukrishnan
    * 2005): corpus token frequencies through a 4×256 counter matrix —
    * constant aggregation state per group however many rows stream
    * through, and, unlike Misra–Gries (q70), EXACTLY mergeable
    * (elementwise sum): the matrix is a pure function of the token
    * multiset, bit-reproducible under any partitioning. The md5-derived
    * row hashes make the whole matrix relationally replayable, so the
    * oracle rebuilds every counter with one GROUP BY and re-derives
    * every estimate — est values themselves are checked, plus the
    * never-undercount law per token (the sketch's deterministic
    * guarantee). Width 16 against the 31-term vocabulary: pigeonhole
    * forces collisions in EVERY row, so overcounts are visibly
    * non-zero while min-over-rows still recovers several tokens
    * exactly via their luckiest row — both sketch regimes exercised
    * and oracle-checked. The probe
    * pass is map-side against the broadcast matrix (d·w longs of
    * bounded model state — the IVF-centroid class).
    */
  def q131CountMin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShim
    val depth = 4
    val width = 16
    val toks = Tables
      .documents(s, dir)
      .select(explode(TextStats.tokens(col("text"))).as("tok"))
      .transform(Place.materialized) // eager: sketch build + exact counts share this cache
    val matrix: Seq[Seq[Long]] = toks
      .agg(
        GraftShim
          .column(
            graft.expr
              .CountMinSketch(
                GraftShim.expression(col("tok")),
                GraftShim.expression(lit(depth)),
                GraftShim.expression(lit(width)))
              .toAggregateExpression()
          )
          .as("cm")
      )
      .head()
      .getSeq[scala.collection.Seq[Long]](0)
      .map(_.toSeq)
    val mLit = typedlit(matrix)
    def bucket(i: Int): org.apache.spark.sql.Column =
      conv(substring(md5(concat(lit(s"$i:"), col("tok"))), 1, 15), 16, 10).cast("long") % width
    val est = (0 until depth)
      .map(i => element_at(element_at(mLit, i + 1), (bucket(i) + 1).cast("int")))
      .reduce((a, b) => least(a, b))
    toks
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("exact_count"))
      .withColumn("cm_est", est)
      .withColumn("overcount", col("cm_est") - col("exact_count"))
      .withColumn("never_under", col("cm_est") >= col("exact_count"))
      .orderBy(col("tok"))
  }

  val q131Oracle: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
      |), cells AS MATERIALIZED (
      |  SELECT r.i,
      |    ('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || tok), 1, 15))::BIGINT % 16 AS c,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM toks, range(0, 4) r(i)
      |  GROUP BY r.i, c
      |), vocab AS MATERIALIZED (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS exact_count FROM toks GROUP BY tok
      |), est AS (
      |  SELECT v.tok, min(cl.cnt) AS cm_est
      |  FROM vocab v
      |  JOIN range(0, 4) r(i) ON true
      |  JOIN cells cl ON cl.i = r.i
      |    AND cl.c = ('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || v.tok), 1, 15))::BIGINT % 16
      |  GROUP BY v.tok
      |)
      |SELECT v.tok, v.exact_count,
      |  CAST(e.cm_est AS BIGINT) AS cm_est,
      |  CAST(e.cm_est - v.exact_count AS BIGINT) AS overcount,
      |  (e.cm_est >= v.exact_count) AS never_under
      |FROM vocab v JOIN est e USING (tok)
      |ORDER BY tok""".stripMargin
  query("q131_count_min", q131CountMin, Some(q131Oracle))

  // ---------------------------------------------------------------- q140
  /** INCREMENTAL connected components (Components.incrementalUpdate):
    * yesterday's dedup clusters absorb today's near-dup edges by
    * re-running CC over the AFFECTED SUBGRAPH only (touched components
    * collapse to star edges; untouched labels pass through verbatim) —
    * the maintenance shape a streaming near-dup index needs at corpus
    * scale, where full recompute per batch is the thing you cannot
    * afford. The certified law: the merged labelling EQUALS the full
    * recompute over all edges — the oracle replays the full recursive-
    * CTE CC over the whole slice (old ∪ new), so any seam between the
    * incremental pieces turns the row red. Old batch = doc_id < 200,
    * arrivals = edges touching [200, 300); per-component output carries
    * the old/new member split (components spanning both = the genuinely
    * incremental merges).
    */
  def q140IncrementalCc(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.documents(s, dir).filter(col("doc_id") < 300)
    // cut, not persist (r15): the pair frame's plan is the whole
    // nearDupsExact token pipeline, and the two CC runs below re-enter
    // analysis of whatever plan sits under their edges in EVERY round —
    // measured as ~14 s of per-action driver gaps with a persist (which
    // caches data but not lineage). The cut truncates the plan to one
    // LogicalRDD so each round analyzes a two-node tree.
    val pairs = graft.ops.Checkpoints.cut(
      TextDedup
        .nearDupsExact(slice, "doc_id", "text", threshold = 0.9)
        .select(col("id_a"), col("id_b"))
        // keyed repartition WITHOUT an explicit count (r15): here AQE's
        // size-based coalescing is the point — the heavy intersect scan
        // upstream keeps its spread width, but the surviving pair frame
        // is sub-MB and the cut would otherwise store it at the scan's
        // 64/128-block width, making EVERY CC round's map side pay
        // 128-task scheduling for ~hundreds of rows (traced: 15+ such
        // stages). AQE sizes the stored width honestly at any scale.
        .repartition(col("id_a")))
    val oldEdges = pairs.filter(col("id_a") < 200 && col("id_b") < 200)
    val newEdges = pairs.filter(col("id_a") >= 200 || col("id_b") >= 200)
    val oldLabels = Components.connectedComponents(oldEdges)
    Components
      .incrementalUpdate(oldLabels, newEdges)
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("id") < 200, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("id") >= 200, 1L).otherwise(0L)).as("n_new")
      )
      .orderBy(col("component"))
  }

  val q140Oracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS tk
      |  FROM documents WHERE doc_id < 300
      |), edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
      |        CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) >= 0.9
      |), sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM edges
      |  UNION ALL
      |  SELECT id_b, id_a FROM edges
      |), reach(id, comp) AS (
      |  SELECT DISTINCT src, src FROM sym
      |  UNION
      |  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
      |), comps AS (
      |  SELECT id, MIN(comp) AS component FROM reach GROUP BY id
      |)
      |SELECT component, CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(SUM(CASE WHEN id < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
      |  CAST(SUM(CASE WHEN id >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |FROM comps
      |GROUP BY component
      |ORDER BY component""".stripMargin
  query("q140_incremental_cc", q140IncrementalCc, Some(q140Oracle))

  // ---------------------------------------------------------------- q139
  /** NATIVE whole-operator top-k (plans.AnnTopKJoin) — the §2.10
    * item-(c) extension running in the registry: custom LogicalPlan +
    * optimizer Rule + SparkStrategy + SparkPlan via
    * SparkSessionExtensions. Exact cosine top-10 for 10 query vectors,
    * but the n·q scored pairs never reach an exchange: the exec holds
    * per-query top-k buffers inside one corpus pass and ships only
    * q·k rows per partition to the final rank (shuffle bytes n·q →
    * q·k·partitions — the TakeOrderedAndProject trick generalized per
    * query). The oracle replays the declarative definition (cosine +
    * rounded rank window), so the row-for-row equality of the two
    * FORMS is itself the certified law (AnnTopKJoinSpec pins it
    * in-engine as well, plus the no-exchange plan shape and the
    * degenerate-fold rule).
    */
  def q139NativeTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val qs = graft.plans.AnnTopKJoin.queriesFrom(
      e.filter(col("vec_id") >= 10 && col("vec_id") < 20), "vec_id", "embedding")
    graft.plans.AnnTopKJoin
      .topK(e, "vec_id", "embedding", qs, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  val q139Oracle: String =
    """SELECT query_id, rank, neighbor_id, sim FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS sim,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
      |               c.vec_id) AS rank
      |  FROM embeddings c, embeddings q
      |  WHERE q.vec_id >= 10 AND q.vec_id < 20 AND c.vec_id <> q.vec_id
      |) WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin
  query("q139_native_topk", q139NativeTopK, Some(q139Oracle))

  // ---------------------------------------------------------------- q136
  /** Per-source GOPHER ADOPTION REPORT — the rollout view a curation
    * team reads before enabling q126's rule set as a hard filter: per
    * source, the keep rate and EACH rule's individual failure count
    * (which rule would do the cutting, and where). One map-side rule
    * pass (q126's algebra) + one (source) aggregate of boolean sums —
    * integer-exact, trivially replayable.
    */
  def q136GopherReport(s: SparkSession, dir: String): DataFrame = {
    def fails(c: String): org.apache.spark.sql.Column = sum((!col(c)).cast("long"))
    TextStats
      .withGopherRules(Tables.documents(s, dir), "text")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"),
        fails("word_count_ok").as("f_word_count"),
        fails("mean_len_ok").as("f_mean_len"),
        fails("stop_ok").as("f_stop"),
        fails("rep2_ok").as("f_rep2"),
        fails("rep3_ok").as("f_rep3"),
        fails("rep4_ok").as("f_rep4"),
        fails("dup5_ok").as("f_dup5")
      )
      .withColumn(
        "keep_rate",
        round(col("n_keep").cast("double") / col("n_docs").cast("double"), 6)
      )
      .orderBy(col("source"))
  }

  val q136Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, source, toks,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_chars,
      |    list_transform(range(0, greatest(len(toks)-2, 0) + 1), i -> array_to_string(toks[i+1:i+2], ' ')) AS g2,
      |    list_transform(range(0, greatest(len(toks)-3, 0) + 1), i -> array_to_string(toks[i+1:i+3], ' ')) AS g3,
      |    list_transform(range(0, greatest(len(toks)-4, 0) + 1), i -> array_to_string(toks[i+1:i+4], ' ')) AS g4,
      |    list_transform(range(0, greatest(len(toks)-5, 0) + 1), i -> array_to_string(toks[i+1:i+5], ' ')) AS g5
      |  FROM t
      |), m AS (
      |  SELECT doc_id, source, n_words, total_chars,
      |    CAST(total_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mwl,
      |    CAST(len(list_intersect(list_distinct(toks), ['the','a','of','and','is','to','in'])) AS BIGINT) AS stop_hits,
      |    greatest(0, list_max(list_transform(list_distinct(g2), u -> len(list_filter(g2, x -> x = u)) * (length(u) - 1)))) AS m2,
      |    greatest(0, list_max(list_transform(list_distinct(g3), u -> len(list_filter(g3, x -> x = u)) * (length(u) - 2)))) AS m3,
      |    greatest(0, list_max(list_transform(list_distinct(g4), u -> len(list_filter(g4, x -> x = u)) * (length(u) - 3)))) AS m4,
      |    list_sum(list_transform(list_distinct(g5), u -> (len(list_filter(g5, x -> x = u)) - 1) * (length(u) - 4))) AS d5
      |  FROM b
      |), v AS (
      |  SELECT source,
      |    (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
      |    (mwl >= 3.0 AND mwl <= 10.0) AS mean_len_ok,
      |    (stop_hits >= 2) AS stop_ok,
      |    (CAST(m2 AS DOUBLE) / CAST(total_chars AS DOUBLE) <= 0.20) AS rep2_ok,
      |    (CAST(m3 AS DOUBLE) / CAST(total_chars AS DOUBLE) <= 0.18) AS rep3_ok,
      |    (CAST(m4 AS DOUBLE) / CAST(total_chars AS DOUBLE) <= 0.16) AS rep4_ok,
      |    (CAST(d5 AS DOUBLE) / CAST(total_chars AS DOUBLE) <= 0.15) AS dup5_ok
      |  FROM m
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN word_count_ok AND mean_len_ok AND stop_ok AND rep2_ok
      |                 AND rep3_ok AND rep4_ok AND dup5_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  CAST(SUM(CASE WHEN NOT word_count_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_word_count,
      |  CAST(SUM(CASE WHEN NOT mean_len_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_mean_len,
      |  CAST(SUM(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_stop,
      |  CAST(SUM(CASE WHEN NOT rep2_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_rep2,
      |  CAST(SUM(CASE WHEN NOT rep3_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_rep3,
      |  CAST(SUM(CASE WHEN NOT rep4_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_rep4,
      |  CAST(SUM(CASE WHEN NOT dup5_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_dup5,
      |  round(CAST(SUM(CASE WHEN word_count_ok AND mean_len_ok AND stop_ok AND rep2_ok
      |                 AND rep3_ok AND rep4_ok AND dup5_ok THEN 1 ELSE 0 END) AS DOUBLE)
      |        / CAST(count(*) AS DOUBLE), 6) AS keep_rate
      |FROM v
      |GROUP BY source
      |ORDER BY source""".stripMargin
  query("q136_gopher_report", q136GopherReport, Some(q136Oracle))

  // ---------------------------------------------------------------- q137
  /** Per-source VOCABULARY statistics — the corpus-linguistics panel
    * (type/token ratio, hapax fraction) that flags template-generated
    * or boilerplate-heavy sources before training: n_tokens, n_types,
    * TTR, hapax count (types occurring once IN THAT SOURCE) and hapax
    * share of types. Two keyed aggregates over one token explode; all
    * ratios exact-integer numerators with one double division.
    */
  def q137VocabStats(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .documents(s, dir)
      .select(col("source"), explode(TextStats.tokens(col("text"))).as("w"))
    val perType = toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    perType
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c") === 1).cast("long")).as("n_hapax")
      )
      .select(
        col("source"),
        col("n_tokens"),
        col("n_types"),
        col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6).as("hapax_frac")
      )
      .orderBy(col("source"))
  }

  val q137Oracle: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
      |), pt AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY source, w
      |)
      |SELECT source,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  round(CAST(count(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
      |  round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS hapax_frac
      |FROM pt
      |GROUP BY source
      |ORDER BY source""".stripMargin
  query("q137_vocab_stats", q137VocabStats, Some(q137Oracle))

  // ---------------------------------------------------------------- q138
  /** Language-ID CONFUSION MATRIX — the evaluation harness for q22's
    * n-gram-marker heuristic against the metadata label: (lang,
    * lang_pred) counts plus per-true-lang recall — how a pipeline
    * decides whether a cheap classifier is good enough to gate on
    * (here it measurably is NOT for this vocabulary-flat corpus: the
    * honest baseline a trained filter like q128 would be compared
    * against). One map-side classification pass + one (lang, pred)
    * count aggregate; recall joins back on the broadcast per-lang
    * totals.
    */
  def q138LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = TextStats
      .withLangId(Tables.documents(s, dir), "text")
      .select(col("lang"), col("lang_pred"))
      .transform(Place.materialized) // eager: cell counts + per-lang totals share this cache
    val cells = pred.groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
    val totals = pred.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    cells
      .join(broadcast(totals), Seq("lang"))
      .select(
        col("lang"),
        col("lang_pred"),
        col("n"),
        col("n_lang"),
        round(col("n").cast("double") / col("n_lang").cast("double"), 6).as("cell_rate"),
        (col("lang") === col("lang_pred")).as("is_correct")
      )
      .orderBy(col("lang"), col("lang_pred"))
  }

  val q138Oracle: String =
    """WITH t AS (
      |  SELECT lang, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), p AS (
      |  SELECT lang,
      |    len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS cnt_en,
      |    len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS cnt_es,
      |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS cnt_de
      |  FROM t
      |), pr AS (
      |  SELECT lang,
      |    CASE WHEN cnt_en >= cnt_es AND cnt_en >= cnt_de AND cnt_en > 0 THEN 'en'
      |         WHEN cnt_es >= cnt_de AND cnt_es > 0 THEN 'es'
      |         WHEN cnt_de > 0 THEN 'de'
      |         ELSE 'unknown' END AS lang_pred
      |  FROM p
      |), cells AS (
      |  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY lang, lang_pred
      |), tot AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM pr GROUP BY lang
      |)
      |SELECT c.lang, c.lang_pred, c.n, t.n_lang,
      |  round(CAST(c.n AS DOUBLE) / CAST(t.n_lang AS DOUBLE), 6) AS cell_rate,
      |  (c.lang = c.lang_pred) AS is_correct
      |FROM cells c JOIN tot t USING (lang)
      |ORDER BY lang, lang_pred""".stripMargin
  query("q138_lang_confusion", q138LangConfusion, Some(q138Oracle))

  // ---------------------------------------------------------------- q135
  /** DELETION-PROPAGATION PLAN — the right-to-be-forgotten governance
    * pass over a sharded export: given a delete list (doc_id % 97 = 0
    * here — deterministic, engine-portable), emit per shard how many
    * docs leave, the digest DELTA the deletions carry, and the expected
    * post-deletion membership digests — then CERTIFY the algebra by
    * recomputing digests on the survivors and deriving the law columns
    * ((sum_before − Δ) mod P = sum_after; xor_before ⊕ xor_Δ =
    * xor_after; fully-deleted shards collapse to the empty digest 0 on
    * both sides of each law). This is why q116 chose associative
    * digests: deletions UNDO by subtraction/xor without rescanning the
    * surviving corpus — at 100 TB the plan touches 16 bytes/doc for the
    * DELETE LIST only, never the text; the recompute here is the
    * bounded audit that proves the delta algebra, not the production
    * path.
    */
  def q135DeletionPlan(s: SparkSession, dir: String): DataFrame = {
    val P = ExportPlan.DigestModulus
    val docs = Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("wt"),
        TextStats.contentDigest60(col("text")).as("digest")
      )
      .transform(Place.materialized) // eager: assignment + digest sides share this cache
    val assigned = ExportPlan
      .assignShards(docs, "doc_id", col("wt"), budget = 2048L)
      .transform(Place.materialized) // eager: before/delta/after digest passes share this cache
    val digests = docs.select(col("doc_id").as("id"), col("digest"))
    val before = ExportPlan
      .shardDigests(assigned, digests)
      .select(
        col("shard_id"),
        col("n_docs"),
        col("digest_sum").as("sum_before"),
        col("digest_xor").as("xor_before")
      )
    val delta = assigned
      .filter(col("id") % 97 === 0)
      .join(digests, Seq("id"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_deleted"),
        (sum(col("digest").cast("decimal(38,0)")) % lit(P)).cast("long").as("sum_delta"),
        expr("bit_xor(digest)").as("xor_delta")
      )
    val after = ExportPlan
      .shardDigests(assigned.filter(col("id") % 97 =!= 0), digests)
      .select(
        col("shard_id"),
        col("n_docs").as("n_after"),
        col("digest_sum").as("sum_after"),
        col("digest_xor").as("xor_after")
      )
    before
      .join(delta, Seq("shard_id"), "left")
      .join(after, Seq("shard_id"), "left")
      .select(
        col("shard_id"),
        col("n_docs"),
        coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        col("sum_before"),
        coalesce(col("sum_delta"), lit(0L)).as("sum_delta"),
        coalesce(col("sum_after"), lit(0L)).as("sum_after"),
        col("xor_before"),
        coalesce(col("xor_delta"), lit(0L)).as("xor_delta"),
        coalesce(col("xor_after"), lit(0L)).as("xor_after")
      )
      .withColumn(
        "sum_law_holds",
        pmod(col("sum_before") - col("sum_delta"), lit(P)) === col("sum_after")
      )
      .withColumn(
        "xor_law_holds",
        col("xor_before").bitwiseXOR(col("xor_delta")) === col("xor_after")
      )
      .orderBy(col("shard_id"))
  }

  val q135Oracle: String =
    """WITH d AS MATERIALIZED (
      |  SELECT doc_id, (doc_id * 2654435761) % 1000003 AS h,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wt,
      |    ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS digest
      |  FROM documents
      |), c AS (
      |  SELECT *, SUM(wt) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - wt AS cum_before
      |  FROM d
      |), s AS MATERIALIZED (
      |  SELECT *, CAST(cum_before // 2048 AS BIGINT) AS shard_id FROM c
      |), before AS (
      |  SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(CAST(digest AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS sum_before,
      |    bit_xor(digest) AS xor_before
      |  FROM s GROUP BY shard_id
      |), del AS (
      |  SELECT shard_id, CAST(count(*) AS BIGINT) AS n_deleted,
      |    CAST(SUM(CAST(digest AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS sum_delta,
      |    bit_xor(digest) AS xor_delta
      |  FROM s WHERE doc_id % 97 = 0 GROUP BY shard_id
      |), aft AS (
      |  SELECT shard_id, CAST(count(*) AS BIGINT) AS n_after,
      |    CAST(SUM(CAST(digest AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS sum_after,
      |    bit_xor(digest) AS xor_after
      |  FROM s WHERE doc_id % 97 <> 0 GROUP BY shard_id
      |), j AS (
      |  SELECT b.shard_id, b.n_docs,
      |    CAST(COALESCE(del.n_deleted, 0) AS BIGINT) AS n_deleted,
      |    CAST(COALESCE(aft.n_after, 0) AS BIGINT) AS n_after,
      |    b.sum_before,
      |    CAST(COALESCE(del.sum_delta, 0) AS BIGINT) AS sum_delta,
      |    CAST(COALESCE(aft.sum_after, 0) AS BIGINT) AS sum_after,
      |    b.xor_before,
      |    CAST(COALESCE(del.xor_delta, 0) AS BIGINT) AS xor_delta,
      |    CAST(COALESCE(aft.xor_after, 0) AS BIGINT) AS xor_after
      |  FROM before b
      |  LEFT JOIN del USING (shard_id)
      |  LEFT JOIN aft USING (shard_id)
      |)
      |SELECT *,
      |  (CAST(((sum_before - sum_delta) % 2305843009213693951
      |         + 2305843009213693951) % 2305843009213693951 AS BIGINT) = sum_after) AS sum_law_holds,
      |  (xor(xor_before, xor_delta) = xor_after) AS xor_law_holds
      |FROM j
      |ORDER BY shard_id""".stripMargin
  query("q135_deletion_plan", q135DeletionPlan, Some(q135Oracle))

  // ---------------------------------------------------------------- q134
  /** Per-user value TREND — distributed ordinary least squares via
    * EXACT SUFFICIENT STATISTICS: one map-side aggregate of
    * (n, Σx, Σy, Σxy, Σx², Σy²) per key, closed-form slope/intercept/r²
    * from the sums. The complement of q128's iterative GD: regression
    * whose whole fit is ONE scan-speed pass with a 6-number state per
    * key — the canonical one-pass model-fitting shape at 100 TB.
    * Exactness recipe: x = seconds from corpus start (exact ints), y
    * quantized to the 1e-6 grid (floor(v·1e6 + 0.5), IEEE-exact), all
    * sums DECIMAL(38)/HUGEINT — order- and partitioning-independent —
    * and the closed forms convert the exact integers to doubles once
    * (correctly rounded in any engine) before identical arithmetic
    * trees. Degenerate keys (single timestamp or constant y) are
    * filtered by exact-integer predicates, never by a float epsilon.
    */
  def q134EventTrends(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(col("user_id"), expr("ts_ns div 1000000000").as("sec"), col("value"))
      .transform(Place.materialized) // eager: corpus-start min + per-user stats share this cache
    val mn = ev.agg(min(col("sec")).as("min_sec"))
    val d = ev
      .crossJoin(broadcast(mn))
      .withColumn("x", (col("sec") - col("min_sec")).cast("decimal(38,0)"))
      .withColumn(
        "yq",
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("decimal(38,0)")
      )
    val n38 = col("n").cast("decimal(38,0)")
    d.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("yq")).as("sy"),
        sum(col("x") * col("yq")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("yq") * col("yq")).as("syy")
      )
      .withColumn("num", n38 * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", n38 * col("sxx") - col("sx") * col("sx"))
      .withColumn("syn", n38 * col("syy") - col("sy") * col("sy"))
      .filter(col("den") > 0 && col("syn") > 0)
      .withColumn("numd", col("num").cast("double"))
      .withColumn("dend", col("den").cast("double"))
      .withColumn("synd", col("syn").cast("double"))
      .withColumn("slope_d", col("numd") / col("dend") / lit(1000000.0))
      .select(
        col("user_id"),
        col("n"),
        // + 0.0 normalizes IEEE negative zero: DuckDB's round keeps
        // -0.0, Spark's BigDecimal path drops the sign — repr("-0.0")
        // vs repr("0.0") would hash-fail a value-equal row
        (round(col("slope_d"), 6) + lit(0.0)).as("slope"),
        (round(
          (col("sy").cast("double") / lit(1000000.0) - col("slope_d") * col("sx").cast("double")) /
            col("n").cast("double"),
          6
        ) + lit(0.0)).as("intercept"),
        (round((col("numd") * col("numd")) / (col("dend") * col("synd")), 6) + lit(0.0)).as("r2")
      )
      .orderBy(col("user_id"))
  }

  val q134Oracle: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, "value" FROM events
      |), mn AS (
      |  SELECT min(sec) AS min_sec FROM ev
      |), d AS (
      |  SELECT user_id, sec - mn.min_sec AS x,
      |    CAST(floor("value"*1000000.0 + 0.5) AS BIGINT) AS yq
      |  FROM ev, mn
      |), st AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    SUM(x) AS sx, SUM(yq) AS sy, SUM(x*yq) AS sxy,
      |    SUM(x*x) AS sxx, SUM(yq*yq) AS syy
      |  FROM d GROUP BY user_id
      |), f AS (
      |  SELECT user_id, n, sx, sy,
      |    n*sxy - sx*sy AS num, n*sxx - sx*sx AS den, n*syy - sy*sy AS syn
      |  FROM st
      |), g AS (
      |  SELECT user_id, n, sx, sy,
      |    CAST(num AS DOUBLE) AS numd, CAST(den AS DOUBLE) AS dend, CAST(syn AS DOUBLE) AS synd,
      |    CAST(num AS DOUBLE)/CAST(den AS DOUBLE)/1000000.0 AS slope_d
      |  FROM f WHERE den > 0 AND syn > 0
      |)
      |SELECT user_id, n,
      |  round(slope_d, 6) + 0.0 AS slope,
      |  round((CAST(sy AS DOUBLE)/1000000.0 - slope_d*CAST(sx AS DOUBLE))/CAST(n AS DOUBLE), 6) + 0.0 AS intercept,
      |  round((numd*numd)/(dend*synd), 6) + 0.0 AS r2
      |FROM g
      |ORDER BY user_id""".stripMargin
  query("q134_event_trends", q134EventTrends, Some(q134Oracle))

  // ---------------------------------------------------------------- q133
  /** PMI COLLOCATIONS — the phrase-mining preprocessing step (Mikolov
    * et al.'s word2phrase shape): top-20 adjacent bigrams by pointwise
    * mutual information with a count floor of 5. The RANKING key is
    * `lift` = (c(ab)·M²)/(N·c(a)·c(b)) — an exact-integer-products
    * ratio with one double division, bit-identical cross-engine, so
    * the top-k boundary can never flip on a transcendental's last ulp;
    * pmi = ln(lift) rides along rounded (the q66 tfidf ln precedent).
    * Spark shape: one corpus scan for unigrams, one for positional
    * pairs (map-side index explode), two keyed counts, two broadcast-
    * scale scalar totals, TakeOrderedAndProject for the top-k — no
    * global sort materialization.
    */
  def q133PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = TextStats.tokens(col("text"))
    val uni = docs
      .select(explode(toks).as("w"))
      .transform(Place.materialized) // eager: unigram counts + corpus total share this cache
    val uc = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val m = uni.agg(count(lit(1)).as("m"))
    val n1 = size(toks) - 1
    val pairs = docs
      .filter(size(toks) >= 2)
      .select(
        explode(
          transform(
            arrays_zip(slice(toks, lit(1), n1).as("a"), slice(toks, lit(2), n1).as("b")),
            s => struct(s.getField("a").as("wa"), s.getField("b").as("wb"))
          )
        ).as("p")
      )
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .transform(Place.materialized) // eager: pair counts + pair total share this cache
    val pc = pairs.groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("c_ab"))
    val n = pairs.agg(count(lit(1)).as("n"))
    val lift = (col("c_ab") * col("m") * col("m")).cast("double") /
      (col("n") * col("c_a") * col("c_b")).cast("double")
    pc.filter(col("c_ab") >= 5)
      .join(broadcast(uc.select(col("w").as("wa"), col("c").as("c_a"))), Seq("wa"))
      .join(broadcast(uc.select(col("w").as("wb"), col("c").as("c_b"))), Seq("wb"))
      .crossJoin(broadcast(m))
      .crossJoin(broadcast(n))
      .withColumn("lift", lift)
      .select(
        concat(col("wa"), lit(" "), col("wb")).as("bigram"),
        col("c_ab"),
        col("c_a"),
        col("c_b"),
        round(col("lift"), 6).as("lift"),
        round(log(col("lift")), 6).as("pmi")
      )
      .orderBy(col("lift").desc, col("bigram").asc)
      .limit(20)
  }

  val q133Oracle: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), uni AS MATERIALIZED (
      |  SELECT unnest(toks) AS w FROM t
      |), uc AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
      |), m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS m FROM uni
      |), pr AS MATERIALIZED (
      |  SELECT unnest(list_transform(range(0, greatest(len(toks)-1, 0)),
      |                i -> {'wa': toks[i+1], 'wb': toks[i+2]}), recursive := true)
      |  FROM t
      |  WHERE len(toks) >= 2
      |), pc AS (
      |  SELECT wa, wb, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM pr GROUP BY wa, wb HAVING count(*) >= 5
      |), n AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM pr
      |), scored AS (
      |  SELECT pc.wa || ' ' || pc.wb AS bigram, pc.c_ab, a.c AS c_a, b.c AS c_b,
      |    CAST(pc.c_ab * m.m * m.m AS DOUBLE) / CAST(n.n * a.c * b.c AS DOUBLE) AS lift
      |  FROM pc
      |  JOIN uc a ON a.w = pc.wa
      |  JOIN uc b ON b.w = pc.wb, m, n
      |)
      |SELECT bigram, c_ab, c_a, c_b,
      |  round(lift, 6) AS lift,
      |  round(ln(lift), 6) AS pmi
      |FROM scored
      |ORDER BY lift DESC, bigram
      |LIMIT 20""".stripMargin
  query("q133_pmi_collocations", q133PmiCollocations, Some(q133Oracle))

  // ---------------------------------------------------------------- q132
  /** 3-FOLD CROSS-VALIDATION of the q128 classifier — the model-
    * selection harness a training pipeline runs before shipping a
    * filter: fold = portable hash of doc_id mod 3, each fold held out
    * once, 6 GD iterations on the other two, held-out accuracy +
    * trained weights per fold. Reuses Classifier.fit's bit-replayable
    * trajectory, so the oracle RE-TRAINS ALL THREE MODELS in DuckDB
    * (3×6 chained materialized CTE pairs, zero literals) and must land
    * on identical weights, counts, and accuracies. Spark shape: ~8
    * scan-speed jobs per fold over one persisted feature frame; every
    * driver value is a scalar aggregate or the 4-double model state.
    */
  def q132CvClassifier(s: SparkSession, dir: String): DataFrame = {
    val folds = 3
    val feats = Classifier
      .features(Tables.documents(s, dir), "text", "lang")
      .withColumn("fold", TextStats.portableHash(col("doc_id")) % folds)
      .transform(Place.materialized) // eager: 3 folds × (fit + eval) share this cache
    val rows = (0 until folds).map { f =>
      val train = feats.filter(col("fold") =!= f)
      val test = feats.filter(col("fold") === f)
      val w = Classifier.fit(train, iters = 6)
      val p = Classifier.probExpr(Classifier.zExpr(w))
      val nTrain = train.count()
      val ev = test
        .agg(
          count(lit(1)).as("n_eval"),
          sum(((p >= lit(0.5)) === (col("y") === lit(1.0))).cast("long")).as("n_correct")
        )
        .head()
      (f.toLong, nTrain, ev.getLong(0), ev.getLong(1), w)
    }
    import s.implicits._
    rows
      .map { case (f, ntr, nev, nc, w) =>
        (f, ntr, nev, nc, nc.toDouble / nev.toDouble, w(0), w(1), w(2), w(3))
      }
      .toDF("fold", "n_train", "n_eval", "n_correct", "accuracy", "w0", "w1", "w2", "w3")
      .select(
        col("fold"),
        col("n_train"),
        col("n_eval"),
        col("n_correct"),
        round(col("accuracy"), 6).as("accuracy"),
        round(col("w0"), 6).as("w0"),
        round(col("w1"), 6).as("w1"),
        round(col("w2"), 6).as("w2"),
        round(col("w3"), 6).as("w3")
      )
      .orderBy(col("fold"))
  }

  /** q132 replay: three full re-trainings, one per held-out fold (the
    * q128 CTE machinery with a fold predicate), generated by the same
    * loop shape the Spark side runs.
    */
  val q132Oracle: String = {
    val sigma = "(0.5 + z/(2.0*(1.0+abs(z))))"
    def zFrom(wcte: String, pred: String) =
      s"SELECT f.*, w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 AS z FROM feats f, $wcte w WHERE $pred"
    def foldCtes(fo: Int): String = {
      val gradSums = (0 to 3)
        .map(k =>
          s"CAST(SUM(CAST(floor(($sigma - y)*x$k*1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS g$k")
        .mkString(", ")
      val iters = (1 to 6)
        .map { i =>
          s"""gf${fo}_$i AS MATERIALIZED (
             |  SELECT $gradSums
             |  FROM (${zFrom(s"wf${fo}_${i - 1}", s"f.fold <> $fo")})
             |), wf${fo}_$i AS MATERIALIZED (
             |  SELECT ${(0 to 3)
                  .map(k => s"w.w$k - 0.5*(CAST(g.g$k AS DOUBLE)/1000000.0/nn.n) AS w$k")
                  .mkString(", ")}
             |  FROM wf${fo}_${i - 1} w, gf${fo}_$i g, nnf$fo nn
             |)""".stripMargin
        }
        .mkString(", ")
      s"""nnf$fo AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n FROM feats WHERE fold <> $fo
         |), wf${fo}_0 AS MATERIALIZED (
         |  SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
         |         CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3
         |), $iters, evf$fo AS (
         |  SELECT CAST($fo AS BIGINT) AS fold,
         |    (SELECT CAST(count(*) AS BIGINT) FROM feats WHERE fold <> $fo) AS n_train,
         |    CAST(count(*) AS BIGINT) AS n_eval,
         |    CAST(SUM(CASE WHEN (($sigma >= 0.5) = (y = CAST(1.0 AS DOUBLE))) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |    any_value(w.w0) AS w0, any_value(w.w1) AS w1,
         |    any_value(w.w2) AS w2, any_value(w.w3) AS w3
         |  FROM (${zFrom(s"wf${fo}_6", s"f.fold = $fo")}) s, wf${fo}_6 w
         |)""".stripMargin
    }
    s"""WITH feats AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    ((doc_id * 2654435761) % 1000003) % 3 AS fold,
       |    CAST(1.0 AS DOUBLE) AS x0,
       |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) /
       |      CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS x1,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |           x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) /
       |      CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS x2,
       |    least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / CAST(200.0 AS DOUBLE),
       |          CAST(1.0 AS DOUBLE)) AS x3,
       |    CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
       |  FROM documents
       |), ${(0 until 3).map(foldCtes).mkString(", ")}
       |SELECT fold, n_train, n_eval, n_correct,
       |  round(CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) AS accuracy,
       |  round(w0, 6) AS w0, round(w1, 6) AS w1,
       |  round(w2, 6) AS w2, round(w3, 6) AS w3
       |FROM (SELECT * FROM evf0 UNION ALL SELECT * FROM evf1 UNION ALL SELECT * FROM evf2)
       |ORDER BY fold""".stripMargin
  }
  query("q132_cv_classifier", q132CvClassifier, Some(q132Oracle))

  // ---------------------------------------------------------------- q97
  /** Robust ANOMALY detection: per event type, flag values beyond
    * 3 × 1.4826 × MAD of the median (the median-absolute-deviation
    * rule — outlier-resistant where mean/stddev is not, the standard
    * robust monitor for pipeline value drift). Both the median and the
    * MAD are DISCRETE rank-selected order statistics (the q92 recipe —
    * no interpolation, bit-identical across engines); everything after
    * the two rank windows is map-side comparison arithmetic. At 100 TB
    * the exact two-pass form swaps for one t-digest pass (q59) — same
    * output contract, sketch-grade quantiles.
    */
  def q97Anomaly(s: SparkSession, dir: String): DataFrame = {
    def rankSel(df: DataFrame, valCol: String, outCol: String): DataFrame =
      Stats.rankSelect(df, Seq("event_type"), valCol, Seq(0.5 -> outCol))
    val ev = Tables
      .events(s, dir)
      .select(col("event_type"), col("value"))
      .transform(Place.materialized) // eager: median + MAD + census consumers share this cache
    val med = rankSel(ev, "value", "med")
    val devs = ev
      .join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = rankSel(devs, "dev", "mad")
    devs
      .join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        max(col("med")).as("median"),
        max(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L)).as("n_outliers")
      )
      .select(
        col("event_type"), col("n"), col("median"), col("mad"), col("n_outliers"),
        round(col("n_outliers") / col("n").cast("double"), 6).as("outlier_frac")
      )
      .orderBy(col("event_type"))
  }

  val q97Oracle: String =
    """WITH v AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events
      |), med AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 THEN value END) AS med
      |  FROM v GROUP BY event_type
      |), dv AS (
      |  SELECT v.event_type, v.value, med.med, abs(v.value - med.med) AS dev
      |  FROM v JOIN med ON v.event_type = med.event_type
      |), dr AS (
      |  SELECT event_type, value, med, dev,
      |    row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM dv
      |), mad AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 THEN dev END) AS mad
      |  FROM dr GROUP BY event_type
      |)
      |SELECT dr.event_type, CAST(count(*) AS BIGINT) AS n,
      |  MAX(dr.med) AS median, MAX(mad.mad) AS mad,
      |  CAST(SUM(CASE WHEN dr.dev > 3.0 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(SUM(CASE WHEN dr.dev > 3.0 * 1.4826 * mad.mad THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS outlier_frac
      |FROM dr JOIN mad ON dr.event_type = mad.event_type
      |GROUP BY dr.event_type
      |ORDER BY dr.event_type""".stripMargin
  query("q97_anomaly", q97Anomaly, Some(q97Oracle))

  // ---------------------------------------------------------------- q98
  /** Event-type TRANSITION matrix: per user in exact ns order, count
    * (current → next) event-type bigrams and their per-source
    * probabilities — the first-order Markov profile behind both
    * sequence-model training data and behavioral drift monitors. One
    * lead() window partitioned by user (millions of small ordered runs
    * — distributes; never a per-user collect_list), one aggregate, one
    * broadcast of the 5-row per-source totals.
    */
  def q98Transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // floor-µs ordering, not raw ns: DuckDB's reader truncates the ns
    // timestamps to µs, so the engine-portable sort key is ts_ns div
    // 1000 with the event_id tiebreak (the q92 lesson)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val pairs = Tables
      .events(s, dir)
      .select(
        col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"), col("event_id")
      )
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs
      .groupBy(col("from_type"))
      .agg(sum(col("n")).as("total"))
    pairs
      .join(broadcast(totals), Seq("from_type"))
      .select(
        col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("total").cast("double"), 6).as("p")
      )
      .orderBy(col("from_type"), col("to_type"))
  }

  val q98Oracle: String =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events
      |), c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM p WHERE to_type IS NOT NULL
      |  GROUP BY from_type, to_type
      |), t AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY from_type
      |)
      |SELECT c.from_type, c.to_type, c.n,
      |  round(c.n / CAST(t.total AS DOUBLE), 6) AS p
      |FROM c JOIN t ON c.from_type = t.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin
  query("q98_transitions", q98Transitions, Some(q98Oracle))

  // ---------------------------------------------------------------- q99
  /** Nearest-centroid EVAL: per-label mean embedding (the class
    * prototype) and the confusion census of assigning every vector to
    * its nearest prototype — the cheapest trainable-representation
    * health check (labels separable ⟺ high diagonal mass). Centroids
    * are one posexplode aggregate (decimal-accumulated per-dim means —
    * order-independent), then a k×dim broadcast constant; assignment is
    * the zero-shuffle argmax fold (the Ivf.assign shape). Output: the
    * label×assigned confusion matrix plus overall accuracy. Oracled:
    * DuckDB replays the same means (unnest) and argmax (window on
    * dot/norms) exactly.
    */
  def q99NearestCentroid(s: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .embeddings(s, dir)
      .select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v")
      )
      // spread: the centroid fit and the assignment pass ran at parallelism ≈ 1 (r15)
      .transform(Place.spread(_, col("vec_id")))
      .transform(Place.materialized) // eager: centroid fit + assignment share this cache
    val cents = e
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("col").cast("decimal(38,12)")).cast("double") / count(lit(1))).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p.getField("m")).as("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    // decimal-accumulated dot/norm: double addition is order-sensitive
    // and the oracle's SUM has no guaranteed order — staging every
    // product in decimal(38,12) before summing makes both engines
    // exact. r15: the composed zip_with+aggregate form ran INTERPRETED
    // (per element: lambda frames, boxed Double, Decimal wrapper, tree
    // walk) and dominated this query's wall; graft.expr.DecimalDotProduct
    // is the same fold — shortest-repr BigDecimal, HALF_UP at scale 12,
    // exact adds, final doubleValue — as one loop (bit-identity pinned
    // by DecimalDotSpec and the unchanged oracle hash)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      import org.apache.spark.sql.graftshim.GraftShim
      GraftShim.column(graft.expr.DecimalDotProduct(
        GraftShim.expression(a), GraftShim.expression(b)))
    }
    def norm(a: org.apache.spark.sql.Column) = sqrt(dot(a, a))
    // the vector norm is the same for all 10 prototypes — compute it
    // once per row, not inside every struct (the centroid norms are
    // literal-foldable and cost nothing at runtime)
    val scored = array(cents.map { case (lbl, c) =>
      val cCol = array(c.map(v => lit(v)).toIndexedSeq: _*)
      struct(
        round(dot(col("v"), cCol) / (col("vn") * norm(cCol)), 8).as("sim"),
        lit(-lbl).as("neg_lbl") // ties: smaller label wins under max
      )
    }.toIndexedSeq: _*)
    val assigned = e
      .withColumn("vn", norm(col("v")))
      .select(
        col("label"),
        (-array_max(scored).getField("neg_lbl")).cast("int").as("assigned")
      )
      .transform(Place.materialized) // eager: confusion + accuracy share this cache
    val acc = assigned
      .agg((sum(when(col("label") === col("assigned"), 1L).otherwise(0L)) /
        count(lit(1)).cast("double")).as("a"))
    assigned
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(acc))
      .select(
        col("label"), col("assigned"), col("n"),
        round(col("a"), 6).as("overall_accuracy")
      )
      .orderBy(col("label"), col("assigned"))
  }

  val q99Oracle: String =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |), cent AS (
      |  SELECT label, pos,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
      |  FROM (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
      |  GROUP BY label, pos
      |), vn AS (
      |  SELECT vec_id, sqrt(CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE)) AS vnorm
      |  FROM (SELECT vec_id, unnest(v) AS y FROM e) GROUP BY vec_id
      |), cn AS (
      |  SELECT label AS clabel, sqrt(CAST(SUM(CAST(m * m AS DECIMAL(38,12))) AS DOUBLE)) AS cnorm
      |  FROM cent GROUP BY label
      |), sims AS (
      |  SELECT e.vec_id, e.label, cent.label AS clabel,
      |    CAST(SUM(CAST(e.v[cent.pos] * cent.m AS DECIMAL(38,12))) AS DOUBLE) AS dp
      |  FROM e JOIN cent ON true
      |  GROUP BY e.vec_id, e.label, cent.label
      |), simr AS (
      |  SELECT s.vec_id, s.label, s.clabel,
      |    round(s.dp / (vn.vnorm * cn.cnorm), 8) AS sim
      |  FROM sims s JOIN vn ON s.vec_id = vn.vec_id JOIN cn ON s.clabel = cn.clabel
      |), pick AS (
      |  SELECT vec_id, label, clabel AS assigned,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, clabel ASC) AS rn
      |  FROM simr
      |), a AS (
      |  SELECT SUM(CASE WHEN label = assigned THEN 1 ELSE 0 END) /
      |         CAST(count(*) AS DOUBLE) AS acc
      |  FROM pick WHERE rn = 1
      |)
      |SELECT p.label, p.assigned, CAST(count(*) AS BIGINT) AS n,
      |  round(a.acc, 6) AS overall_accuracy
      |FROM pick p, a
      |WHERE p.rn = 1
      |GROUP BY p.label, p.assigned, a.acc
      |ORDER BY p.label, p.assigned""".stripMargin
  query("q99_nearest_centroid", q99NearestCentroid, Some(q99Oracle))

  // ---------------------------------------------------------------- q100
  /** Per-source DATA CARD: the one-pass corpus documentation roll-up a
    * dataset release ships — doc and token counts, exact-dup rate
    * (distinct fingerprint classes), decimal-accumulated mean quality,
    * and the modal language (count desc, lang asc — boundary-
    * deterministic). One wide aggregate over a single corpus scan plus
    * a 20-row broadcast join for the modal language; every signal
    * reuses the registry's established engine-portable formulas
    * (q21 quality, q85 fingerprint, q26 tokens).
    */
  def q100DataCard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = TextStats
      .withQuality(Tables.documents(s, dir), "text")
      .select(
        col("source"), col("lang"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"),
        TextStats.tokenSetFingerprint(col("text")).as("fp"),
        col("quality_score")
      )
      .transform(Place.materialized) // eager: card aggregate + modal language share this cache
    val base = d
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_total"),
        countDistinct(col("fp")).as("n_distinct"),
        (sum(col("quality_score").cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as("mq")
      )
      .select(
        col("source"), col("n_docs"), col("tokens_total"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct") / col("n_docs").cast("double"), 6).as("dup_rate"),
        round(col("mq"), 6).as("mean_quality")
      )
    val wl = Window.partitionBy(col("source")).orderBy(col("n").desc, col("lang"))
    val topLang = d
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wl))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    base
      .join(broadcast(topLang), Seq("source"))
      .orderBy(col("source"))
  }

  val q100Oracle: String =
    """WITH t AS (
      |  SELECT source, lang,
      |    string_split_regex(trim(text), '\s+') AS toks,
      |    md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' ')) AS fp
      |  FROM documents
      |), q AS (
      |  SELECT source, lang, CAST(len(toks) AS BIGINT) AS n_tokens, fp,
      |    0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) AS quality
      |  FROM t
      |), base AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
      |    CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
      |    round(CAST(SUM(CAST(quality AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mean_quality
      |  FROM q GROUP BY source
      |), tl AS (
      |  SELECT source, lang AS top_lang FROM (
      |    SELECT source, lang,
      |      row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang ASC) AS rn
      |    FROM q GROUP BY source, lang
      |  ) WHERE rn = 1
      |)
      |SELECT base.source, base.n_docs, base.tokens_total, base.n_distinct,
      |  round(1.0 - base.n_distinct / CAST(base.n_docs AS DOUBLE), 6) AS dup_rate,
      |  base.mean_quality, tl.top_lang
      |FROM base JOIN tl USING (source)
      |ORDER BY base.source""".stripMargin
  query("q100_data_card", q100DataCard, Some(q100Oracle))

  // ---------------------------------------------------------------- q101
  /** Corpus NOVELTY scoring: per document (in doc_id = arrival order),
    * the fraction of its distinct 8-grams whose FIRST corpus occurrence
    * is this document — the marginal-value metric for an incremental
    * crawl (a snapshot whose docs score near zero adds nothing the
    * corpus hasn't seen). Same gram shape as q80: linear gram build →
    * min-doc aggregate on the hashed gram key → per-doc count — no
    * instance-level join-back (see the in-body note). At 100 TB keep
    * the first-occurrence table as the incremental state between
    * snapshots (the q72 pattern).
    */
  def q101Novelty(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val toks = TextStats.tokens(col("text"))
    // Join-free first-occurrence form (round 4): a doc's novel-gram count
    // is how many grams name it as their min(doc_id) — so the
    // first-occurrence aggregate feeds a per-doc count directly, and the
    // old  first-occurrence ⋈ full-gram-instance  join-back disappears.
    // Per-doc distinct-gram totals are map-side (size of the distinct
    // array). Shuffle key = 8-byte xxhash64 of the gram (the 100 TB note
    // below, implemented); collision odds as in q80.
    val docs = Tables
      .documents(s, dir)
      .filter(size(toks) >= n)
      .select(col("doc_id"), array_distinct(TextStats.ngrams(toks, n)).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"), col("grams"))
    // deliberately NOT persisted — see q80's note (same projection split,
    // same measured regression when cached)
    val novel = docs
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
      .groupBy(col("g"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    docs
      .select(col("doc_id"), col("n_grams"))
      .join(novel, Seq("doc_id"), "left") // per-doc rows both sides: shuffle join at scale
      .select(
        col("doc_id"),
        col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams").cast("double"), 6)
          .as("novelty")
      )
      .orderBy(col("doc_id"))
  }

  val q101Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), f AS (
      |  SELECT doc_id, toks FROM d WHERE len(toks) >= 8
      |), i AS (
      |  SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS i FROM f
      |), g AS (
      |  SELECT DISTINCT doc_id,
      |    toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' ||
      |    toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8] AS gram
      |  FROM i
      |), fo AS (
      |  SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
      |)
      |SELECT g.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN fo.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(CAST(SUM(CASE WHEN fo.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) /
      |        CAST(count(*) AS DOUBLE), 6) AS novelty
      |FROM g JOIN fo USING (gram)
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""".stripMargin
  query("q101_novelty", q101Novelty, Some(q101Oracle))

  // ---------------------------------------------------------------- q102
  /** Distribution DRIFT between corpus windows (PSI — population
    * stability index, the standard model-monitoring metric): split the
    * corpus into reference (first half by arrival order) and current
    * (second half), bin two per-doc features — quality score (10
    * fixed-width bins) and token count (width-32 bins, capped) — and
    * compute PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref) with
    * Laplace-smoothed bin shares (no zero-bin blowups, deterministic).
    * One corpus pass builds both feature histograms (map-side explode
    * of two (feature, bin) structs per doc); the PSI fold is a 10-row
    * decimal-accumulated aggregate per feature. Conventional read:
    * < 0.1 stable, > 0.25 drifted.
    */
  def q102PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val bins = 10
    val d = TextStats
      .withQuality(Tables.documents(s, dir), "text")
      .select(
        col("doc_id"), col("quality_score"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")
      )
      .transform(Place.materialized) // eager: split scalar + histogram share this cache
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    val split = maxId / 2
    val binned = d.select(
      (col("doc_id") > split).as("cur"),
      explode(array(
        struct(lit("quality").as("feature"),
          least(floor(col("quality_score") * bins), lit(bins - 1)).cast("int").as("bin")),
        struct(lit("tokens").as("feature"),
          least(floor(col("n_tokens") / 32), lit(bins - 1)).cast("int").as("bin"))
      )).as("fb")
    ).select(col("cur"), col("fb.feature").as("feature"), col("fb.bin").as("bin"))
    val wins = d.agg(
      sum(when(col("doc_id") > split, 1L).otherwise(0L)).as("n_cur"),
      sum(when(col("doc_id") > split, 0L).otherwise(1L)).as("n_ref")
    )
    // the PSI sum runs over ALL 10 fixed bins, including bins empty in
    // BOTH halves — their smoothed term is nonzero when the halves have
    // unequal sizes, and silently dropping them understates the metric
    val frame = s
      .range(bins)
      .select(
        col("id").cast("int").as("bin"),
        explode(array(lit("quality"), lit("tokens"))).as("feature")
      )
    frame
      .join(
        binned
          .groupBy(col("feature"), col("bin"))
          .agg(
            sum(when(col("cur"), 1L).otherwise(0L)).as("c_cur0"),
            sum(when(col("cur"), 0L).otherwise(1L)).as("c_ref0")
          ),
        Seq("feature", "bin"),
        "left"
      )
      .select(
        col("feature"), col("bin"),
        coalesce(col("c_cur0"), lit(0L)).as("c_cur"),
        coalesce(col("c_ref0"), lit(0L)).as("c_ref")
      )
      .crossJoin(broadcast(wins))
      .select(
        col("feature"),
        ((col("c_cur") + 1).cast("double") / (col("n_cur") + bins).cast("double")).as("pc"),
        ((col("c_ref") + 1).cast("double") / (col("n_ref") + bins).cast("double")).as("pr"),
        col("n_cur"), col("n_ref")
      )
      .groupBy(col("feature"))
      .agg(
        max(col("n_ref")).as("n_ref"),
        max(col("n_cur")).as("n_cur"),
        round(
          sum(((col("pc") - col("pr")) * log(col("pc") / col("pr"))).cast("decimal(38,18)"))
            .cast("double"),
          6
        ).as("psi")
      )
      .select(
        col("feature"), col("n_ref"), col("n_cur"), col("psi"),
        (col("psi") > 0.25).as("drifted")
      )
      .orderBy(col("feature"))
  }

  val q102Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    0.4 * (CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)) +
      |    0.3 * (1.0 - CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)) +
      |    0.3 * least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 200.0, 1.0) AS q,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), sp AS (
      |  SELECT MAX(doc_id) // 2 AS split FROM (SELECT doc_id FROM documents)
      |), b AS (
      |  SELECT d.doc_id > sp.split AS cur, f.feature, f.bin
      |  FROM d, sp, LATERAL (
      |    SELECT 'quality' AS feature,
      |      CAST(least(floor(d.q * 10), 9) AS INT) AS bin
      |    UNION ALL
      |    SELECT 'tokens',
      |      CAST(least(floor(d.n_tokens / 32.0), 9) AS INT)
      |  ) f
      |), w AS (
      |  SELECT CAST(SUM(CASE WHEN doc_id > sp.split THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
      |         CAST(SUM(CASE WHEN doc_id > sp.split THEN 0 ELSE 1 END) AS BIGINT) AS n_ref
      |  FROM d, sp
      |), h0 AS (
      |  SELECT feature, bin,
      |    CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS c_cur,
      |    CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS c_ref
      |  FROM b GROUP BY feature, bin
      |), frame AS (
      |  SELECT f.feature, CAST(r.range AS INT) AS bin
      |  FROM range(0, 10) r, (SELECT 'quality' AS feature UNION ALL SELECT 'tokens') f
      |), h AS (
      |  SELECT frame.feature, frame.bin,
      |    COALESCE(h0.c_cur, 0) AS c_cur, COALESCE(h0.c_ref, 0) AS c_ref
      |  FROM frame LEFT JOIN h0 ON frame.feature = h0.feature AND frame.bin = h0.bin
      |), p AS (
      |  SELECT feature,
      |    (c_cur + 1) / CAST(w.n_cur + 10 AS DOUBLE) AS pc,
      |    (c_ref + 1) / CAST(w.n_ref + 10 AS DOUBLE) AS pr,
      |    w.n_cur, w.n_ref
      |  FROM h, w
      |)
      |SELECT feature, MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
      |  round(CAST(SUM(CAST((pc - pr) * ln(pc / pr) AS DECIMAL(38,18))) AS DOUBLE), 6) AS psi,
      |  round(CAST(SUM(CAST((pc - pr) * ln(pc / pr) AS DECIMAL(38,18))) AS DOUBLE), 6) > 0.25 AS drifted
      |FROM p
      |GROUP BY feature
      |ORDER BY feature""".stripMargin
  query("q102_psi_drift", q102PsiDrift, Some(q102Oracle))

  // ---------------------------------------------------------------- q103
  /** RANKING-quality audit for the multiprobe ANN — recall (q49) says
    * whether the right neighbors appear; MRR and NDCG@k say whether
    * they appear in the right ORDER, which is what a retrieval stack
    * actually serves. Relevance of an ANN hit = k+1 − its exact rank
    * (0 if outside the exact top-k), so the ideal DCG is a closed-form
    * constant and NDCG needs no per-query normalizer join. ORACLED
    * since round 4: the generated SQL replays the full pipeline —
    * hyperplanes, banding, multiprobe, exact ranking, metric
    * arithmetic — so the one output row (n_queries, recall@k, MRR of
    * the exact top-1, mean NDCG@k) is a driver-certified hash match.
    * Round 5 extended the same replay to the ADAPTIVE-geometry queries
    * (q30/q31/q107) by generating their SQL at Verify time from the
    * corpus count — see [[dynamicOracles]].
    */
  /** Shared constants of q103's ranking-quality arithmetic, used by BOTH
    * the Spark side and the generated oracle: per-rank DCG weights
    * 1/log2(r+1) and the ideal DCG are computed ONCE in Scala and enter
    * each engine as double literals — no ln() call on either side, so
    * libm last-ulp divergence can't leak into the checked output. */
  private[graft] val q103K = 10
  private[graft] val q103DcgW: IndexedSeq[Double] =
    (1 to q103K).map(r => 1.0 / (math.log(r + 1) / math.log(2)))
  private[graft] val q103Idcg: Double =
    (1 to q103K).map(i => (q103K + 1 - i).toDouble * q103DcgW(i - 1)).sum

  def q103AnnRankingQuality(s: SparkSession, dir: String): DataFrame = {
    val k = q103K
    // FROZEN LSH geometry — (nbits, tables) = lshParams at the sf0.1
    // production corpus scale. q103 is the evaluation harness: freezing
    // the geometry makes the WHOLE ANN pipeline engine-reproducible
    // (the oracle re-derives the same seeded hyperplanes and replays
    // banding, radius-1 multiprobe, candidate dedup, and the exact
    // ranking in SQL), so MRR/NDCG/recall are driver-certified by
    // hash-match rather than self-reported. q30/q31 keep the adaptive
    // lshParams policy — adaptivity is their story; certification is
    // this one's.
    val (nbits, tables) = (5, 6)
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 50)
    val nQ = 50.0
    val exact = Similarity
      .bruteTopK(e, queries, k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("xrank"))
      .transform(Place.materialized) // eager: mrr + ndcg + recall consumers share this cache
    val approx = Similarity
      .annTopK(e, queries, k, nbits = nbits, tables = tables, probes = 1)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("arank"))
      .transform(Place.materialized)
    val joined = approx.join(exact, Seq("query_id", "neighbor_id"))
    // MRR: reciprocal ANN rank of each query's exact top-1 (0 if missed);
    // decimal-staged sums keep every aggregate order-independent (the
    // q96 recipe) so the oracle can hash-match them
    val mrr = joined
      .filter(col("xrank") === 1)
      .agg(
        (sum((lit(1.0) / col("arank")).cast("decimal(38,12)")).cast("double") / nQ).as("mrr")
      )
    // NDCG@k with rel = k+1-xrank; gain = rel · weight[arank] via the
    // shared literal weight table
    val ndcg = joined
      .select(
        col("query_id"),
        ((lit(k + 1) - col("xrank")).cast("double") *
          element_at(typedlit(q103DcgW), col("arank"))).as("g")
      )
      .groupBy(col("query_id"))
      .agg((sum(col("g").cast("decimal(38,12)")).cast("double") / q103Idcg).as("q_ndcg"))
      .agg((sum(col("q_ndcg").cast("decimal(38,12)")).cast("double") / nQ).as("ndcg"))
    val recall = joined.agg((count(lit(1)) / (nQ * k)).as("recall"))
    recall
      .crossJoin(mrr)
      .crossJoin(ndcg)
      .select(
        lit(50).as("n_queries"),
        lit(k).as("k"),
        lit(nbits).as("nbits"),
        lit(tables).as("tables"),
        round(col("recall"), 4).as("recall_at_k"),
        round(col("mrr"), 4).as("mrr"),
        round(col("ndcg"), 4).as("ndcg_at_k")
      )
  }

  /** Generated oracle: replays the ENTIRE q103 pipeline in SQL — the
    * same seeded hyperplanes (re-derived from the Similarity seeds
    * 7700+t), sign-bucket banding, radius-1 multiprobe on the query
    * side, candidate dedup, rounded-cosine ranking, and the
    * decimal-staged MRR/NDCG/recall arithmetic. Two cross-engine
    * gotchas carried from probing: every double literal goes through
    * CAST('…' AS DOUBLE) (DuckDB parses bare numeric literals as
    * DECIMAL and loses the low bits), and dot products unroll as a
    * left-associated term chain (list_dot_product sums in a different
    * order; verified bit-exact against the fold over both test SFs).
    */
  /** Shared SQL fragments for replaying graft.ops.Similarity's LSH
    * geometry in an oracle (q103 since round 4; q30/q31/q107 via the
    * round-5 DYNAMIC oracles): the seeded hyperplanes re-derived from
    * the Similarity seeds 7700+t, sign-bucket banding, and the radius-1
    * multiprobe list. Cross-engine gotchas carried from probing: every
    * double literal goes through CAST('…' AS DOUBLE) (DuckDB parses
    * bare numeric literals as DECIMAL and loses the low bits), and dot
    * products unroll as a left-associated term chain (list_dot_product
    * sums in a different order; verified bit-exact against the Spark
    * fold over both test SFs).
    */
  private[graft] object LshSql {
    val dim = 64

    private[graft] def planes(t: Int, nbits: Int): Array[Array[Double]] = {
      val rnd = new scala.util.Random(7700 + t)
      Array.fill(nbits, dim)(rnd.nextDouble() * 2 - 1)
    }

    private[graft] def dotSql(p: Array[Double]): String =
      (0 until dim)
        .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE)*CAST('${p(i)}' AS DOUBLE)")
        .mkString(" + ")

    private[graft] def bucketSql(t: Int, nbits: Int): String =
      planes(t, nbits).zipWithIndex
        .map { case (p, j) => s"(CASE WHEN (${dotSql(p)}) > 0 THEN ${1L << j} ELSE 0 END)" }
        .mkString(" + ")

    /** The (vec_id, tbl, bucket) union — one SELECT per LSH table.
      * `from` names the (vec_id, embedding FLOAT[]) source: the
      * embeddings table by default, or a generated CTE (q54 replays
      * over closed-form raster-law features in a `feats` CTE).
      */
    def dbk(nbits: Int, tables: Int, from: String = "embeddings"): String =
      (0 until tables)
        .map(t => s"SELECT vec_id, $t AS tbl, CAST(${bucketSql(t, nbits)} AS BIGINT) AS bucket FROM $from")
        .mkString("\nUNION ALL\n")

    /** Radius-1 multiprobe bucket list (the bucket plus its one-bit
      * flips), for an unnest() on the probing side. */
    def probeList(nbits: Int): String =
      ("bucket" +: (0 until nbits).map(j => s"xor(bucket, ${1L << j})")).mkString(", ")
  }

  val q103Oracle: String = {
    val k = q103K
    val (nbits, tables) = (5, 6)
    val dbk = LshSql.dbk(nbits, tables)
    val probeList = LshSql.probeList(nbits)
    val wList = q103DcgW.map(w => s"CAST('$w' AS DOUBLE)").mkString("[", ", ", "]")
    s"""WITH dbk AS (
       |$dbk
       |), qpb AS (
       |  SELECT vec_id AS query_id, tbl, unnest([$probeList]) AS bucket
       |  FROM dbk WHERE vec_id < 50
       |), cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |  FROM dbk c JOIN qpb q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |  WHERE c.vec_id <> q.query_id
       |), ar AS (
       |  SELECT query_id, neighbor_id, arank FROM (
       |    SELECT cand.query_id, cand.neighbor_id,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY cand.query_id
       |        ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
       |                 cand.neighbor_id) AS arank
       |    FROM cand
       |    JOIN embeddings c ON cand.neighbor_id = c.vec_id
       |    JOIN embeddings q ON cand.query_id = q.vec_id
       |  ) WHERE arank <= $k
       |), ex AS (
       |  SELECT query_id, neighbor_id, xrank FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
       |                 c.vec_id) AS xrank
       |    FROM embeddings c, embeddings q
       |    WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id
       |  ) WHERE xrank <= $k
       |), j AS (
       |  SELECT ar.query_id, ar.arank, ex.xrank
       |  FROM ar JOIN ex ON ar.query_id = ex.query_id AND ar.neighbor_id = ex.neighbor_id
       |), mrr AS (
       |  SELECT CAST(SUM(CAST(CAST(1.0 AS DOUBLE) / arank AS DECIMAL(38,12))) AS DOUBLE) /
       |         CAST('50.0' AS DOUBLE) AS mrr
       |  FROM j WHERE xrank = 1
       |), nd1 AS (
       |  SELECT query_id,
       |    CAST(SUM(CAST(CAST($k + 1 - xrank AS DOUBLE) * ($wList[arank]) AS DECIMAL(38,12))) AS DOUBLE) /
       |    CAST('$q103Idcg' AS DOUBLE) AS q_ndcg
       |  FROM j GROUP BY query_id
       |), nd AS (
       |  SELECT CAST(SUM(CAST(q_ndcg AS DECIMAL(38,12))) AS DOUBLE) /
       |         CAST('50.0' AS DOUBLE) AS ndcg
       |  FROM nd1
       |), rc AS (
       |  SELECT count(*) / CAST('500.0' AS DOUBLE) AS recall FROM j
       |)
       |SELECT 50 AS n_queries, $k AS k, $nbits AS nbits, $tables AS tables,
       |  round(rc.recall, 4) AS recall_at_k,
       |  round(mrr.mrr, 4) AS mrr,
       |  round(nd.ndcg, 4) AS ndcg_at_k
       |FROM rc, mrr, nd""".stripMargin
  }
  query("q103_ann_ranking", q103AnnRankingQuality, Some(q103Oracle))

  // ---------------------------------------------------------------- q104
  /** Dataset SNAPSHOT DIFF — the release-to-release census a versioned
    * corpus ships: treating the first half (by arrival order) as the
    * previous snapshot and the full corpus as the current one, classify
    * every content fingerprint as carried / added, and count removed
    * (here structurally zero — append-only simulation, the value is
    * the shape). One fingerprint-keyed full outer join of the two
    * distinct-fingerprint sets; text never moves, only 32-char digests
    * shuffle (the q68/q72 discipline).
    */
  def q104SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = Tables
      .documents(s, dir)
      .select(col("doc_id"), TextStats.tokenSetFingerprint(col("text")).as("fp"))
      .transform(Place.materialized) // eager: split scalar + both snapshots share this cache
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    val split = maxId / 2
    val prev = d.filter(col("doc_id") <= split).select(col("fp")).distinct()
      .withColumn("in_prev", lit(1))
    val cur = d.select(col("fp")).distinct().withColumn("in_cur", lit(1))
    prev
      .join(cur, Seq("fp"), "full_outer")
      .agg(
        sum(when(col("in_prev").isNotNull && col("in_cur").isNotNull, 1L).otherwise(0L)).as("carried"),
        sum(when(col("in_prev").isNull && col("in_cur").isNotNull, 1L).otherwise(0L)).as("added"),
        sum(when(col("in_prev").isNotNull && col("in_cur").isNull, 1L).otherwise(0L)).as("removed")
      )
      .select(
        col("carried"), col("added"), col("removed"),
        round(col("added") / (col("carried") + col("added")).cast("double"), 6).as("growth_frac")
      )
  }

  val q104Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' ')) AS fp
      |  FROM documents
      |), sp AS (
      |  SELECT MAX(doc_id) // 2 AS split FROM d
      |), prev AS (
      |  SELECT DISTINCT fp FROM d, sp WHERE doc_id <= sp.split
      |), cur AS (
      |  SELECT DISTINCT fp FROM d
      |), j AS (
      |  SELECT prev.fp AS pfp, cur.fp AS cfp
      |  FROM prev FULL OUTER JOIN cur ON prev.fp = cur.fp
      |)
      |SELECT
      |  CAST(SUM(CASE WHEN pfp IS NOT NULL AND cfp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS carried,
      |  CAST(SUM(CASE WHEN pfp IS NULL AND cfp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
      |  CAST(SUM(CASE WHEN pfp IS NOT NULL AND cfp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
      |  round(SUM(CASE WHEN pfp IS NULL AND cfp IS NOT NULL THEN 1 ELSE 0 END) /
      |        CAST(SUM(CASE WHEN cfp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE), 6) AS growth_frac
      |FROM j""".stripMargin
  query("q104_snapshot_diff", q104SnapshotDiff, Some(q104Oracle))

  // ---------------------------------------------------------------- q105
  /** TEMPORAL split with an EMBARGO gap — time-based train/eval
    * separation (the leakage-safe alternative to q85's hash split when
    * examples are time-correlated): events before the 80th-percentile
    * day train, events after it + a 1-day embargo evaluate, and the
    * embargoed sliver between is DROPPED so near-boundary correlation
    * can't leak. The cutoff is a rank-selected day (discrete order
    * statistic over distinct days — the q92 recipe, engine-exact);
    * classification is map-side against two broadcast scalars.
    */
  def q105TemporalSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .transform(Place.materialized) // eager: cutoff scalar + census share this cache
    val days = ev.select(col("day")).distinct()
    val nDays = days.count()
    val cutIdx = (0.8 * (nDays - 1)).floor.toLong + 1
    val cutoff = days
      .select(col("day"))
      .orderBy(col("day"))
      .limit(cutIdx.toInt)
      .agg(max(col("day")))
      .head()
      .getDate(0)
    ev.select(
        col("event_type"),
        when(col("day") <= lit(cutoff), "train")
          .when(col("day") <= date_add(lit(cutoff), 1), "embargo")
          .otherwise("eval")
          .as("split")
      )
      .groupBy(col("event_type"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("split"))
  }

  val q105Oracle: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day FROM events
      |), days AS (
      |  SELECT day, row_number() OVER (ORDER BY day) AS rn, count(*) OVER () AS n
      |  FROM (SELECT DISTINCT day FROM d)
      |), cut AS (
      |  SELECT day AS cutoff FROM days
      |  WHERE rn = CAST(floor(0.8 * (n - 1)) AS BIGINT) + 1
      |)
      |SELECT d.event_type,
      |  CASE WHEN d.day <= cut.cutoff THEN 'train'
      |       WHEN d.day <= cut.cutoff + INTERVAL 1 DAY THEN 'embargo'
      |       ELSE 'eval' END AS split,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM d, cut
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin
  query("q105_temporal_split", q105TemporalSplit, Some(q105Oracle))

  // ---------------------------------------------------------------- q141
  /** Repeated n-gram SPAN census (ops/NgramDup) — the exact-substring
    * duplication signal of Lee et al. ACL'22, relational instead of
    * suffix-array: a width-5 token span occurring ≥2 times corpus-wide
    * (cross- or intra-document) is duplicated; per source we report
    * span totals, duplicated-span ppm, and how many docs are >50%
    * duplicated (what an exact-substring dedup pass would rewrite
    * first). All shuffles key on the shingle — the inverted-index
    * shape; checked output is integer-only.
    */
  def q141NgramSpanDup(s: SparkSession, dir: String): DataFrame =
    NgramDup
      .sourceCensus(Tables.documents(s, dir), "text", 5)
      .orderBy(col("source"))

  /** q141 replay: identical positional-shingle algebra (the q133
    * range/list_transform idiom), identical census — zero literals.
    */
  val q141Oracle: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), sh AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    unnest(list_transform(range(0, greatest(len(toks)-4, 0)),
      |           i -> array_to_string(toks[i+1:i+5], ' '))) AS shingle
      |  FROM t WHERE len(toks) >= 5
      |), pd AS MATERIALIZED (
      |  SELECT doc_id, source, shingle, CAST(count(*) AS BIGINT) AS c_doc
      |  FROM sh GROUP BY doc_id, source, shingle
      |), tot AS (
      |  SELECT shingle, CAST(sum(c_doc) AS BIGINT) AS c_all FROM pd GROUP BY shingle
      |), prof AS (
      |  SELECT pd.doc_id, pd.source,
      |    CAST(sum(pd.c_doc) AS BIGINT) AS n_spans,
      |    CAST(sum(CASE WHEN tot.c_all >= 2 THEN pd.c_doc ELSE 0 END) AS BIGINT) AS dup_spans
      |  FROM pd JOIN tot USING (shingle)
      |  GROUP BY pd.doc_id, pd.source
      |), per_source AS (
      |  SELECT source,
      |    CAST(count(*) AS BIGINT) AS n_docs_spanned,
      |    CAST(sum(n_spans) AS BIGINT) AS total_spans,
      |    CAST(sum(dup_spans) AS BIGINT) AS dup_spans,
      |    CAST(sum(CASE WHEN dup_spans*2 > n_spans THEN 1 ELSE 0 END) AS BIGINT) AS n_high_dup_docs
      |  FROM prof GROUP BY source
      |), alldocs AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
      |)
      |SELECT a.source, a.n_docs,
      |  COALESCE(p.n_docs_spanned, 0) AS n_docs_spanned,
      |  COALESCE(p.total_spans, 0) AS total_spans,
      |  COALESCE(p.dup_spans, 0) AS dup_spans,
      |  CASE WHEN COALESCE(p.total_spans, 0) > 0
      |       THEN CAST(floor(p.dup_spans * 1000000 / p.total_spans) AS BIGINT)
      |       ELSE 0 END AS dup_ppm,
      |  COALESCE(p.n_high_dup_docs, 0) AS n_high_dup_docs
      |FROM alldocs a LEFT JOIN per_source p USING (source)
      |ORDER BY a.source""".stripMargin
  query("q141_ngram_span_dup", q141NgramSpanDup, Some(q141Oracle))

  // ---------------------------------------------------------------- q142
  /** Temperature-scaled source mixture (ops/Mixture.temperaturePlan) —
    * mC4-style α-sampling at α = 1/2: p_i = √c_i / Σ√c_j (sqrt is
    * IEEE-correctly-rounded, unlike pow — that choice IS the
    * cross-engine contract), a corpus-half budget split by p_i, and a
    * deterministic per-source draw: the target_n docs with the smallest
    * (portableHash(doc_id), doc_id), ranked by ops/Rank's two-pass so
    * no source ever funnels through one window task. The normalizer
    * folds in source-name order; the oracle replays it with an ordered
    * list_reduce and the plain row_number() definition.
    */
  def q142TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (plan, sampled) = Mixture.temperaturePlan(docs, "doc_id", "source")
    val agg = sampled
      .groupBy(col("source"))
      .agg(count(lit(1)).as("sampled_n"), sum(col("doc_id")).as("id_sum"))
    plan
      .join(agg, Seq("source"), "left")
      .select(
        col("source"),
        col("n_docs"),
        col("p_ppm"),
        col("target_n"),
        coalesce(col("sampled_n"), lit(0L)).as("sampled_n"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum")
      )
      .orderBy(col("source"))
  }

  val q142Oracle: String =
    """WITH c AS (
      |  SELECT CAST(source AS VARCHAR) AS source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source
      |), tot AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM c
      |), norm AS (
      |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source)),
      |         (a, b) -> a + b) AS nrm
      |  FROM c
      |), plan AS (
      |  SELECT c.source, c.n_docs,
      |    CAST(floor(sqrt(CAST(c.n_docs AS DOUBLE)) / norm.nrm * 1000000.0) AS BIGINT) AS p_ppm,
      |    CAST(floor(CAST(tot.total // 2 AS DOUBLE) *
      |               (sqrt(CAST(c.n_docs AS DOUBLE)) / norm.nrm)) AS BIGINT) AS target_n
      |  FROM c, tot, norm
      |), ranked AS (
      |  SELECT CAST(source AS VARCHAR) AS source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY (doc_id * 2654435761) % 1000003, doc_id) AS rk
      |  FROM documents
      |), samp AS (
      |  SELECT r.source, CAST(count(*) AS BIGINT) AS sampled_n,
      |    CAST(sum(r.doc_id) AS BIGINT) AS id_sum
      |  FROM ranked r JOIN plan p USING (source)
      |  WHERE r.rk <= p.target_n
      |  GROUP BY r.source
      |)
      |SELECT p.source, p.n_docs, p.p_ppm, p.target_n,
      |  COALESCE(s.sampled_n, 0) AS sampled_n,
      |  COALESCE(s.id_sum, 0) AS id_sum
      |FROM plan p LEFT JOIN samp s USING (source)
      |ORDER BY p.source""".stripMargin
  query("q142_temperature_mix", q142TemperatureMix, Some(q142Oracle))

  // ---------------------------------------------------------------- q143
  /** CALIBRATION AUDIT — the reliability diagram + expected-calibration-
    * error check a team runs before using filter scores as sampling
    * weights, over TWO scorers so the audit provably separates them:
    * the q128 classifier trained to convergence (12 iterations — it
    * converges to the base-rate predictor, ECE ~2k ppm vs the contrast
    * scorer's ~205k: calibrated) and a fixed-weight scorer over the first three
    * embedding components (real per-row spread, but a score the label
    * never saw — the audit must flag its large ECE). Centile bins (the
    * fast-sigmoid keeps trained scores in a tight band); per bin,
    * quantized Σp vs the positive count; ECE in ppm per scorer. Reuses
    * Classifier.fit's bit-replayable trajectory, so the oracle
    * RE-TRAINS the model (q128's CTE chain, 12 rounds) and re-derives
    * every bin — zero literals; float→double widening of the embedding
    * components is exact, so both scorers' bits replay cross-engine.
    */
  def q143Calibration(s: SparkSession, dir: String): DataFrame = {
    val feats = Classifier
      .features(Tables.documents(s, dir), "text", "lang")
      .transform(Place.materialized) // eager: fit's 13 scans + the binning pass share this cache
    val w = Classifier.fit(feats, iters = 12)
    val trained = feats.select(
      lit("trained_lang").as("scorer"),
      Classifier.probExpr(Classifier.zExpr(w)).as("p"),
      col("y")
    )
    // the contrast scorer: fixed weights over the first three embedding
    // components — real per-row spread, but a score the label never saw,
    // so the audit must flag it (float→double widening is exact, so the
    // score bits replay cross-engine)
    val e = (i: Int) => col("embedding").getItem(i).cast("double")
    val fixedZ = lit(3.0) * e(0) + lit(3.0) * e(1) + lit(3.0) * e(2)
    val fixed = Tables
      .embeddings(s, dir)
      .select(
        lit("fixed_embed").as("scorer"),
        Classifier.probExpr(fixedZ).as("p"),
        when(col("label") <= 4, lit(1.0)).otherwise(lit(0.0)).as("y")
      )
    val perBin = trained
      .unionByName(fixed)
      .withColumn("bin", least(lit(99L), floor(col("p") * lit(100.0))))
      .groupBy(col("scorer"), col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("p") * lit(1000000.0) + lit(0.5)).cast("long")).as("sum_p_q"),
        sum(col("y").cast("long")).as("n_pos")
      )
      .withColumn("abs_gap_q", abs(col("sum_p_q") - col("n_pos") * lit(1000000L)))
    val tot = perBin
      .groupBy(col("scorer"))
      .agg(sum(col("abs_gap_q")).as("__ece_q"), sum(col("n")).as("__n_total"))
    perBin
      .join(broadcast(tot), Seq("scorer"))
      .select(
        col("scorer"),
        col("bin"),
        col("n"),
        col("n_pos"),
        col("sum_p_q"),
        col("abs_gap_q"),
        floor(col("__ece_q").cast("double") / col("__n_total").cast("double")).as("ece_ppm")
      )
      .orderBy(col("scorer"), col("bin"))
  }

  /** q143 replay: the full q128 re-training prefix (6 chained
    * materialized gradient/weight CTE pairs — the training IS part of
    * the contract), then the binning algebra.
    */
  val q143Oracle: String = {
    val sigma = "(0.5 + z/(2.0*(1.0+abs(z))))"
    def gradSums = (0 to 3)
      .map(k =>
        s"CAST(SUM(CAST(floor(($sigma - y)*x$k*1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS g$k"
      )
      .mkString(",\n|      ")
    def zFrom(wcte: String) =
      s"SELECT f.*, w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 AS z FROM feats f, $wcte w"
    val iters = (1 to 12)
      .map { i =>
        s"""g$i AS MATERIALIZED (
           |  SELECT $gradSums
           |  FROM (${zFrom(s"w${i - 1}")})
           |), w$i AS MATERIALIZED (
           |  SELECT ${(0 to 3)
            .map(k => s"w.w$k - 0.5*(CAST(g.g$k AS DOUBLE)/1000000.0/nn.n) AS w$k")
            .mkString(", ")}
           |  FROM w${i - 1} w, g$i g, nn
           |)""".stripMargin
      }
      .mkString(", ")
    s"""WITH feats AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    CAST(1.0 AS DOUBLE) AS x0,
       |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) /
       |      CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS x1,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |           x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) /
       |      CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS x2,
       |    least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / CAST(200.0 AS DOUBLE),
       |          CAST(1.0 AS DOUBLE)) AS x3,
       |    CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
       |  FROM documents
       |), nn AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM feats
       |), w0 AS MATERIALIZED (
       |  SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
       |         CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3
       |), $iters, scored AS MATERIALIZED (
       |  SELECT 'trained_lang' AS scorer, f.y, $sigma AS p FROM (${zFrom("w12")}) f
       |  UNION ALL
       |  SELECT 'fixed_embed' AS scorer,
       |    CASE WHEN e.label <= 4 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y,
       |    $sigma AS p
       |  FROM (SELECT label,
       |          3.0*CAST(embedding[1] AS DOUBLE) + 3.0*CAST(embedding[2] AS DOUBLE)
       |            + 3.0*CAST(embedding[3] AS DOUBLE) AS z
       |        FROM embeddings) e
       |), per_bin AS (
       |  SELECT scorer, least(99, CAST(floor(p*100.0) AS BIGINT)) AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(floor(p*1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_p_q,
       |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos
       |  FROM scored GROUP BY 1, 2
       |), g AS (
       |  SELECT *, abs(sum_p_q - n_pos*1000000) AS abs_gap_q FROM per_bin
       |), tot AS (
       |  SELECT scorer, CAST(sum(abs_gap_q) AS BIGINT) AS ece_q,
       |         CAST(sum(n) AS BIGINT) AS n_total
       |  FROM g GROUP BY scorer
       |)
       |SELECT g.scorer, g.bin, g.n, g.n_pos, g.sum_p_q, g.abs_gap_q,
       |  CAST(floor(CAST(tot.ece_q AS DOUBLE) / CAST(tot.n_total AS DOUBLE)) AS BIGINT) AS ece_ppm
       |FROM g JOIN tot USING (scorer)
       |ORDER BY g.scorer, g.bin""".stripMargin
  }
  query("q143_calibration", q143Calibration, Some(q143Oracle))

  // ---------------------------------------------------------------- q144
  /** UniMax token-budget WATER-FILLING (ops/Mixture.tokenBudgetPlan) —
    * Chung et al. 2023: spread B = ⌊0.9·Σtokens⌋ as uniformly as
    * possible across sources with a 1-epoch cap; small sources
    * saturate, the leftover re-levels across the rest, the integer
    * remainder goes one token each to the first sources in cap order.
    * Pure integer arithmetic end-to-end (no floats anywhere), so the
    * oracle replays the closed-form prefix test with window functions
    * and must agree exactly.
    */
  def q144TokenBudget(s: SparkSession, dir: String): DataFrame =
    Mixture
      .tokenBudgetPlan(Tables.documents(s, dir), "text", "source")
      .orderBy(col("source"))

  val q144Oracle: String =
    QueriesCuration.waterfillCtes + """
      |), alloc AS (
      |  SELECT c.source, c.n_tokens, c.budget,
      |    CASE WHEN c.rk < l.cut THEN c.n_tokens
      |         ELSE l.level + (CASE WHEN c.rk - l.cut < l.rem THEN 1 ELSE 0 END) END AS allocated,
      |    (c.rk < l.cut) AS saturated
      |  FROM cutc c, lvl l
      |)
      |SELECT source, n_tokens, budget,
      |  CAST(allocated AS BIGINT) AS allocated, saturated,
      |  CAST(allocated * 1000000 // n_tokens AS BIGINT) AS epochs_ppm
      |FROM alloc
      |ORDER BY source""".stripMargin
  query("q144_token_budget", q144TokenBudget, Some(q144Oracle))

  // ---------------------------------------------------------------- q145
  /** Exact-substring span REMOVAL rewrite (NgramDup.removalProfile) —
    * q141 told you HOW MUCH verbatim repetition exists; this is the
    * dedup pass itself: a token is deleted iff covered by a span
    * occurrence that is not the corpus-first occurrence of its shingle
    * (first = smallest doc_id·2^20+pos integer key), so every span's
    * first occurrence survives and only repeats die — the Lee et al.
    * rewrite semantics. Per-source token totals, removed ppm, and
    * fully-gutted docs. All keys integer; the ordering law is one
    * BIGINT min per shingle, so the oracle replays it exactly.
    */
  def q145SpanRemoval(s: SparkSession, dir: String): DataFrame =
    NgramDup
      .sourceRemoval(Tables.documents(s, dir), "text", 5)
      .orderBy(col("source"))

  val q145Oracle: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), occ AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(list_transform(range(0, greatest(len(toks)-4, 0)),
      |           i -> {'pos': i+1, 'shingle': array_to_string(toks[i+1:i+5], ' ')}),
      |           recursive := true)
      |  FROM t WHERE len(toks) >= 5
      |), ok AS MATERIALIZED (
      |  SELECT doc_id, pos, shingle, doc_id*1048576 + pos AS okey FROM occ
      |), firsts AS (
      |  SELECT shingle, CAST(min(okey) AS BIGINT) AS fk FROM ok GROUP BY shingle
      |), rem AS (
      |  SELECT DISTINCT o.doc_id, CAST(unnest(range(o.pos, o.pos + 5)) AS BIGINT) AS tp
      |  FROM ok o JOIN firsts f USING (shingle)
      |  WHERE o.okey <> f.fk
      |), remc AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM rem GROUP BY doc_id
      |), prof AS (
      |  SELECT t.doc_id, t.source, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |    COALESCE(r.n_removed, 0) AS n_removed
      |  FROM t LEFT JOIN remc r USING (doc_id)
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(sum(n_removed) AS BIGINT) AS removed_tokens,
      |  CASE WHEN sum(n_tokens) > 0
      |       THEN CAST(floor(sum(n_removed) * 1000000 / sum(n_tokens)) AS BIGINT)
      |       ELSE 0 END AS removed_ppm,
      |  CAST(sum(CASE WHEN n_removed = n_tokens AND n_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_gutted_docs
      |FROM prof GROUP BY source
      |ORDER BY source""".stripMargin
  query("q145_span_removal", q145SpanRemoval, Some(q145Oracle))

  // ---------------------------------------------------------------- q146
  /** Canonical-doc selection (ops/Canonical): near-dup clusters from
    * the q51 component machinery keep their HIGHEST-QUALITY member
    * (q21's oracled composite score, doc_id tiebreak) instead of the
    * min-id label — the curation decision real pipelines make. Output
    * per source: survivor/removed census, survivor id checksum, and
    * `n_upgrades` — survivors that are NOT their cluster's min id,
    * i.e. exactly where quality-argmax differs from the naive rep
    * convention (the operator's reason to exist, pinned in the row).
    * Oracle: recursive-CTE CC + the q21 quality law + the same rank
    * window, end-to-end.
    */
  def q146CanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
    val scored = TextStats
      .withQuality(docs, "text")
      .select(col("doc_id"), col("source"), col("quality_score").as("score"))
    val pairs = TextDedup
      .nearDupsExact(docs, "doc_id", "text", threshold = 0.9)
      .select(col("id_a"), col("id_b"))
    val surv = Canonical.survivors(scored, pairs, "doc_id")
    val compMin = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    surv
      .withColumn("__comp_min", min(col("doc_id")).over(compMin))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_survivor").cast("long")).as("n_survivors"),
        sum((!col("is_survivor")).cast("long")).as("n_removed"),
        sum(when(col("is_survivor"), col("doc_id")).otherwise(lit(0L))).as("survivor_id_sum"),
        sum((col("is_survivor") && col("doc_id") =!= col("__comp_min")).cast("long"))
          .as("n_upgrades")
      )
      .orderBy(col("source"))
  }

  val q146Oracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, source, list_distinct(string_split_regex(trim(text), '\s+')) AS tk,
      |         string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents WHERE doc_id < 500
      |), edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
      |        CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) >= 0.9
      |), sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM edges
      |  UNION ALL
      |  SELECT id_b, id_a FROM edges
      |), reach(id, comp) AS (
      |  SELECT DISTINCT src, src FROM sym
      |  UNION
      |  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
      |), labels AS (
      |  SELECT id, MIN(comp) AS component FROM reach GROUP BY id
      |), scored AS (
      |  SELECT t.doc_id, t.source,
      |    COALESCE(l.component, t.doc_id) AS component,
      |    0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) AS score
      |  FROM t LEFT JOIN labels l ON l.id = t.doc_id
      |), ranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY component ORDER BY score DESC, doc_id ASC) AS rk,
      |    min(doc_id) OVER (PARTITION BY component) AS comp_min
      |  FROM scored
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
      |  CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
      |  CAST(sum(CASE WHEN rk = 1 THEN doc_id ELSE 0 END) AS BIGINT) AS survivor_id_sum,
      |  CAST(sum(CASE WHEN rk = 1 AND doc_id <> comp_min THEN 1 ELSE 0 END) AS BIGINT) AS n_upgrades
      |FROM ranked GROUP BY source
      |ORDER BY source""".stripMargin
  query("q146_canonical_dedup", q146CanonicalDedup, Some(q146Oracle))

  // ---------------------------------------------------------------- q147
  /** CROSS-SOURCE duplication matrix — who copies whom: near-dup pairs
    * from the q51 audit slice attributed to their (source, source)
    * cell, canonicalized lo ≤ hi. The report a curation team reads
    * before deciding source precedence (keep Wikipedia, drop the
    * scrape that mirrors it); diagonal cells are within-source
    * duplication, off-diagonal the genuine cross-source copying. Pure
    * integer counts over the oracled edge set; the source attach is a
    * broadcast of the (id, source) slice.
    */
  def q147CrossSourceDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
    val pairs = TextDedup
      .nearDupsExact(docs, "doc_id", "text", threshold = 0.9)
      .select(col("id_a"), col("id_b"))
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(broadcast(src.withColumnsRenamed(Map("doc_id" -> "id_a", "source" -> "__sa"))), Seq("id_a"))
      .join(broadcast(src.withColumnsRenamed(Map("doc_id" -> "id_b", "source" -> "__sb"))), Seq("id_b"))
      .select(
        least(col("__sa"), col("__sb")).as("source_lo"),
        greatest(col("__sa"), col("__sb")).as("source_hi")
      )
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_within", col("source_lo") === col("source_hi"))
      .orderBy(col("source_lo"), col("source_hi"))
  }

  val q147Oracle: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, source, list_distinct(string_split_regex(trim(text), '\s+')) AS tk
      |  FROM documents WHERE doc_id < 500
      |), e AS (
      |  SELECT a.source AS sa, b.source AS sb
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
      |        CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) >= 0.9
      |)
      |SELECT least(sa, sb) AS source_lo, greatest(sa, sb) AS source_hi,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  (least(sa, sb) = greatest(sa, sb)) AS is_within
      |FROM e GROUP BY 1, 2
      |ORDER BY source_lo, source_hi""".stripMargin
  query("q147_cross_source_dup", q147CrossSourceDup, Some(q147Oracle))

  // ---------------------------------------------------------------- q148
  /** DEDUP-METHOD AGREEMENT audit — how sensitive is "the duplicate
    * set" to the method and threshold choice: one bounded all-pairs
    * pass scores every q51-slice pair under token-set Jaccard AND
    * 5-gram shingle-set Jaccard, then three methods (token ≥ 0.9,
    * token ≥ 0.8, shingle ≥ 0.5) are compared as SETS — pair counts,
    * pairwise intersections, and set-Jaccard in ppm. The measurement a
    * team runs before standardizing thresholds; published threshold
    * folklore (0.8 vs 0.9) moves this number, and now it's oracled.
    * One row, all integers; both measures share one crossJoin so the
    * audit costs one pass, not three.
    */
  def q148MethodAgreement(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
    val sets = docs
      .select(
        col("doc_id"),
        TextDedup.tokenSet(col("text")).as("tk"),
        TextDedup.shingles(col("text"), 5).as("sh")
      )
      .withColumn("ntk", size(col("tk")))
      .withColumn("nsh", size(col("sh")))
      .transform(Place.materialized) // eager: both cross-join sides share this cache
    val a = sets.select(col("doc_id").as("ia"), col("tk").as("tka"), col("sh").as("sha"), col("ntk").as("na"), col("nsh").as("ma"))
    val b = sets.select(col("doc_id").as("ib"), col("tk").as("tkb"), col("sh").as("shb"), col("ntk").as("nb"), col("nsh").as("mb"))
    val ti = size(array_intersect(col("tka"), col("tkb"))).cast("double")
    val si = size(array_intersect(col("sha"), col("shb"))).cast("double")
    val scored = a
      .crossJoin(b)
      .filter(col("ia") < col("ib"))
      .select(
        (ti / (col("na") + col("nb") - ti)).as("tj"),
        (si / (col("ma") + col("mb") - si)).as("sj")
      )
      .select(
        (col("tj") >= lit(0.9)).cast("long").as("m1"),
        (col("tj") >= lit(0.8)).cast("long").as("m2"),
        (col("sj") >= lit(0.5)).cast("long").as("m3")
      )
    def jppm(
        i: org.apache.spark.sql.Column,
        x: org.apache.spark.sql.Column,
        y: org.apache.spark.sql.Column
    ): org.apache.spark.sql.Column =
      when(x + y - i > 0, floor(i * lit(1000000L) / (x + y - i))).otherwise(lit(0L))
    scored
      .agg(
        count(lit(1)).as("n_pairs_scored"),
        sum(col("m1")).as("n_tok90"),
        sum(col("m2")).as("n_tok80"),
        sum(col("m3")).as("n_sh50"),
        sum(col("m1") * col("m2")).as("i_90_80"),
        sum(col("m1") * col("m3")).as("i_90_sh"),
        sum(col("m2") * col("m3")).as("i_80_sh")
      )
      .select(
        col("n_pairs_scored"),
        col("n_tok90"),
        col("n_tok80"),
        col("n_sh50"),
        col("i_90_80"),
        col("i_90_sh"),
        col("i_80_sh"),
        jppm(col("i_90_80"), col("n_tok90"), col("n_tok80")).as("j_90_80_ppm"),
        jppm(col("i_90_sh"), col("n_tok90"), col("n_sh50")).as("j_90_sh_ppm"),
        jppm(col("i_80_sh"), col("n_tok80"), col("n_sh50")).as("j_80_sh_ppm")
      )
  }

  /** q148 replay: same two similarity measures from first principles
    * (5-gram shingle set via the positional idiom — the audit slice's
    * 10-token minimum keeps the short-doc edge out of play on every
    * test SF), same method sets, same set-Jaccard algebra.
    */
  val q148Oracle: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_distinct(string_split_regex(trim(text), '\s+')) AS tk,
      |    list_distinct(list_transform(range(0, greatest(len(string_split_regex(trim(text), '\s+'))-4, 0)),
      |      i -> array_to_string(string_split_regex(trim(text), '\s+')[i+1:i+5], ' '))) AS sh
      |  FROM documents WHERE doc_id < 500
      |), scored AS MATERIALIZED (
      |  SELECT
      |    CAST(len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) /
      |      CAST(len(a.tk) + len(b.tk) - len(list_filter(a.tk, x -> list_contains(b.tk, x))) AS DOUBLE) AS tj,
      |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
      |      CAST(len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS sj
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |), m AS (
      |  SELECT CASE WHEN tj >= 0.9 THEN 1 ELSE 0 END AS m1,
      |         CASE WHEN tj >= 0.8 THEN 1 ELSE 0 END AS m2,
      |         CASE WHEN sj >= 0.5 THEN 1 ELSE 0 END AS m3
      |  FROM scored
      |), agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pairs_scored,
      |    CAST(sum(m1) AS BIGINT) AS n_tok90,
      |    CAST(sum(m2) AS BIGINT) AS n_tok80,
      |    CAST(sum(m3) AS BIGINT) AS n_sh50,
      |    CAST(sum(m1*m2) AS BIGINT) AS i_90_80,
      |    CAST(sum(m1*m3) AS BIGINT) AS i_90_sh,
      |    CAST(sum(m2*m3) AS BIGINT) AS i_80_sh
      |  FROM m
      |)
      |SELECT n_pairs_scored, n_tok90, n_tok80, n_sh50, i_90_80, i_90_sh, i_80_sh,
      |  CASE WHEN n_tok90 + n_tok80 - i_90_80 > 0
      |       THEN CAST(floor(i_90_80 * 1000000 / (n_tok90 + n_tok80 - i_90_80)) AS BIGINT) ELSE 0 END AS j_90_80_ppm,
      |  CASE WHEN n_tok90 + n_sh50 - i_90_sh > 0
      |       THEN CAST(floor(i_90_sh * 1000000 / (n_tok90 + n_sh50 - i_90_sh)) AS BIGINT) ELSE 0 END AS j_90_sh_ppm,
      |  CASE WHEN n_tok80 + n_sh50 - i_80_sh > 0
      |       THEN CAST(floor(i_80_sh * 1000000 / (n_tok80 + n_sh50 - i_80_sh)) AS BIGINT) ELSE 0 END AS j_80_sh_ppm
      |FROM agg""".stripMargin
  query("q148_method_agreement", q148MethodAgreement, Some(q148Oracle))

  // ---------------------------------------------------------------- q324
  /** CONTEXT-WINDOW CHUNKING census (ops/Chunker, r13): each document
    * split into 32-token windows at stride 24 (overlap 8) — the step
    * between curation and tokenization in every training/RAG pipeline,
    * and the text twin of the video frame-sampler (q173). Pure in-row
    * algebra: chunk starts exploded map-side, chunk text = token-array
    * slice, NO shuffle until the per-doc census. The oracle replays the
    * boundary law verbatim (starts i*24 < n; chunk i = tokens
    * [i*24+1, i*24+min(32, n-i*24)]), with the chunk CHARACTER count
    * certifying the materialized chunk text, not just the arithmetic.
    * All-integer output.
    */
  def q324TokenChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.ops.Chunker
      .tokenChunks(Tables.documents(s, dir), "doc_id", "text", window = 32, stride = 24)
    chunks
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("sum_chunk_tokens"),
        max(col("n_chunk_tokens")).as("max_chunk_tokens"),
        min(col("n_chunk_tokens")).as("min_chunk_tokens"),
        sum((col("chunk_id") + 1).cast("long") * col("n_chunk_tokens")).as("pos_digest"),
        sum(length(col("chunk")).cast("long")).as("chunk_chars")
      )
      .orderBy(col("doc_id"))
  }

  val q324Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
      |), c AS (
      |  SELECT doc_id, len(ts) AS n, ts,
      |    unnest(range(0, ((len(ts) - 1) // 24) + 1)) AS ci
      |  FROM t WHERE len(ts) > 0
      |), ch AS (
      |  SELECT doc_id, ci, least(32, n - ci * 24) AS clen,
      |    length(array_to_string(ts[ci * 24 + 1 : ci * 24 + least(32, n - ci * 24)], ' ')) AS cchars
      |  FROM c
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(clen) AS BIGINT) AS sum_chunk_tokens,
      |  CAST(MAX(clen) AS BIGINT) AS max_chunk_tokens,
      |  CAST(MIN(clen) AS BIGINT) AS min_chunk_tokens,
      |  CAST(SUM((ci + 1) * clen) AS BIGINT) AS pos_digest,
      |  CAST(SUM(cchars) AS BIGINT) AS chunk_chars
      |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin
  query("q324_token_chunks", q324TokenChunks, Some(q324Oracle))

}

/** SQL text the query traits share. */
private[graft] object QueriesCuration {

  /** The q144 waterfill CTE chain (`tk`, `p`, `o`, `cutc`, `cut`, `lvl`):
    * per-source token counts, the 0.9 budget, the cap-order prefix sums,
    * the saturation cut and the re-levelled share. The q144, q154 and
    * q156 oracles continue it with their own `alloc`. A `def`, so no
    * trait's initialization order can read it unset.
    */
  def waterfillCtes: String =
    """WITH tk AS (
      |  SELECT CAST(source AS VARCHAR) AS source,
      |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), p AS (
      |  SELECT CAST(sum(n_tokens) * 9 // 10 AS BIGINT) AS budget,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM tk
      |), o AS (
      |  SELECT source, n_tokens,
      |    CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS rk,
      |    CAST(sum(n_tokens) OVER (ORDER BY n_tokens, source
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS csum
      |  FROM tk
      |), cutc AS MATERIALIZED (
      |  SELECT o.*, p.budget, p.n,
      |    (o.n_tokens * (p.n - o.rk + 1) <= p.budget - (o.csum - o.n_tokens)) AS sat_test
      |  FROM o, p
      |), cut AS (
      |  SELECT COALESCE((SELECT min(rk) FROM cutc WHERE NOT sat_test),
      |                  (SELECT n + 1 FROM p)) AS cut
      |), lvl AS (
      |  SELECT c.cut,
      |    CASE WHEN c.cut <= p.n
      |         THEN (p.budget - COALESCE((SELECT max(csum) FROM cutc WHERE rk < c.cut), 0))
      |              // (p.n - c.cut + 1)
      |         ELSE 0 END AS level,
      |    CASE WHEN c.cut <= p.n
      |         THEN (p.budget - COALESCE((SELECT max(csum) FROM cutc WHERE rk < c.cut), 0))
      |              % (p.n - c.cut + 1)
      |         ELSE 0 END AS rem
      |  FROM cut c, p""".stripMargin
}
