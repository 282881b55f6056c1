package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** windows, certificates, OLAP analytics */
private[graft] trait QueriesAnalytics extends QueryRegistration {
  this: QueriesCore with QueriesCuration with QueriesAnalytics with QueriesExact with QueriesGraph =>
  // ---------------------------------------------------------------- q149
  /** IMAGE perceptual near-dup (Multimodal.dhashBytes) — dHash over the
    * REAL ImageIO-decoded pixels of real PNGs, certified against the
    * closed-form raster law (the q32 discipline: the JDK codec
    * roundtrip IS the cross-engine contract). Signal is constructed
    * the q47/q121 way — synthesized identically on both engines: each
    * doc renders twice, original payload and last-byte-perturbed (same
    * length, so raster dims are unchanged — a genuine near-duplicate
    * image), plus a cross pairing of unrelated neighbors. The audit:
    * self pairs land in the low hamming buckets, cross pairs out at
    * the cap — max_self_hamming / min_cross_hamming ride on every row
    * so the separation is oracled, not asserted. The hash itself is
    * pure integer arithmetic (cross-multiplied cell means, no
    * division), shipped as two positive 32-bit halves so SQL needs no
    * 64-bit sign games.
    */
  def q149ImageDhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
    def hashes(df: DataFrame, variant: String): DataFrame = {
      val rendered = Multimodal.renderPng(df, "doc_id", "text")
      val media = Multimodal.asMedia(rendered, "doc_id", "png", "image")
      Multimodal
        .withDhash(media)
        .select(
          col("media_id").as("doc_id"),
          lit(variant).as("variant"),
          col("dhash_ok"),
          col("dhash_lo"),
          col("dhash_hi")
        )
    }
    val orig = hashes(docs.select(col("doc_id"), col("text")), "orig")
    val pert = hashes(
      docs.select(
        col("doc_id"),
        concat(substring(col("text"), lit(1), length(col("text")) - 1), lit("#")).as("text")
      ),
      "pert"
    )
    val both = Place.materialized(orig.unionByName(pert)) // eager: self and cross pairings share this cache
    def ham(
        lo1: org.apache.spark.sql.Column,
        hi1: org.apache.spark.sql.Column,
        lo2: org.apache.spark.sql.Column,
        hi2: org.apache.spark.sql.Column
    ) =
      (bit_count(lo1.bitwiseXOR(lo2)) + bit_count(hi1.bitwiseXOR(hi2))).cast("long")
    val o = both.filter(col("variant") === "orig")
    val p = both.filter(col("variant") === "pert")
    val self = o
      .alias("a")
      .join(p.alias("b"), col("a.doc_id") === col("b.doc_id"))
      .select(
        lit("self").as("pair_kind"),
        ham(col("a.dhash_lo"), col("a.dhash_hi"), col("b.dhash_lo"), col("b.dhash_hi")).as("hamming")
      )
    val crossP = o
      .alias("a")
      .join(o.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        lit("cross").as("pair_kind"),
        ham(col("a.dhash_lo"), col("a.dhash_hi"), col("b.dhash_lo"), col("b.dhash_hi")).as("hamming")
      )
    val allPairs = self
      .unionByName(crossP)
      .transform(Place.materialized) // eager: bucket histogram + separation riders share this cache
    val sm = allPairs.agg(
      max(when(col("pair_kind") === "self", col("hamming"))).as("max_self_hamming"),
      min(when(col("pair_kind") === "cross", col("hamming"))).as("min_cross_hamming")
    )
    allPairs
      .groupBy(col("pair_kind"), least(col("hamming"), lit(16L)).as("hamming_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(sm))
      .select(
        col("pair_kind"),
        col("hamming_bucket"),
        col("n_pairs"),
        col("max_self_hamming"),
        col("min_cross_hamming")
      )
      .orderBy(col("pair_kind"), col("hamming_bucket"))
  }

  /** q149 replay: dHash re-derived from the raster law (pixel bytes
    * from payload positions — no PNG in sight; Spark's side went
    * through the real codec, which is exactly what's being certified),
    * both variants, both pairings, same bucket/rider algebra.
    */
  val q149Oracle: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, text AS payload, 'orig' AS variant FROM documents WHERE doc_id < 500
      |  UNION ALL
      |  SELECT doc_id, substr(text, 1, length(text)-1) || '#', 'pert' FROM documents WHERE doc_id < 500
      |), dims AS MATERIALIZED (
      |  SELECT doc_id, variant, payload, length(payload) AS len,
      |    8 + length(payload) % 9 AS w, 8 + length(payload) % 7 AS h
      |  FROM t
      |), px AS MATERIALIZED (
      |  SELECT doc_id, variant,
      |    unnest(list_transform(range(0, w*h), i -> {
      |      'cy': ((i // w) * 8) // h,
      |      'cx': ((i % w) * 9) // w,
      |      'gray': ord(substr(payload, CAST(i % len AS INTEGER) + 1, 1))
      |            + ord(substr(payload, CAST((i*31 + 7) % len AS INTEGER) + 1, 1))
      |            + ord(substr(payload, CAST((i*131 + 13) % len AS INTEGER) + 1, 1))
      |    }), recursive := true)
      |  FROM dims
      |), cells AS MATERIALIZED (
      |  SELECT doc_id, variant, cy, cx,
      |    CAST(sum(gray) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM px GROUP BY 1, 2, 3, 4
      |), grid AS MATERIALIZED (
      |  SELECT d.doc_id, d.variant, g.cy, g.cx,
      |    COALESCE(c.s, 0) AS s, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT doc_id, variant FROM dims) d
      |  CROSS JOIN (SELECT a.range AS cy, b.range AS cx FROM range(0,8) a, range(0,9) b) g
      |  LEFT JOIN cells c ON c.doc_id = d.doc_id AND c.variant = d.variant
      |                   AND c.cy = g.cy AND c.cx = g.cx
      |), bits AS (
      |  SELECT g1.doc_id, g1.variant, g1.cy, g1.cx,
      |    CASE WHEN g2.s * g1.c > g1.s * g2.c THEN 1 ELSE 0 END AS bit
      |  FROM grid g1 JOIN grid g2 ON g1.doc_id = g2.doc_id AND g1.variant = g2.variant
      |                           AND g1.cy = g2.cy AND g2.cx = g1.cx + 1
      |  WHERE g1.cx < 8
      |), hashes AS MATERIALIZED (
      |  SELECT doc_id, variant,
      |    CAST(sum(CASE WHEN cy*8+cx < 32 THEN bit * (1::BIGINT << CAST(cy*8+cx AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN cy*8+cx >= 32 THEN bit * (1::BIGINT << CAST(cy*8+cx-32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS hi
      |  FROM bits GROUP BY 1, 2
      |), selfp AS (
      |  SELECT 'self' AS pair_kind,
      |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
      |  FROM hashes a JOIN hashes b ON a.doc_id = b.doc_id
      |  WHERE a.variant = 'orig' AND b.variant = 'pert'
      |), crossp AS (
      |  SELECT 'cross' AS pair_kind,
      |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
      |  FROM hashes a JOIN hashes b ON b.doc_id = a.doc_id + 1
      |  WHERE a.variant = 'orig' AND b.variant = 'orig'
      |), allp AS MATERIALIZED (
      |  SELECT * FROM selfp UNION ALL SELECT * FROM crossp
      |), sm AS (
      |  SELECT CAST(max(CASE WHEN pair_kind = 'self' THEN hamming END) AS BIGINT) AS max_self_hamming,
      |         CAST(min(CASE WHEN pair_kind = 'cross' THEN hamming END) AS BIGINT) AS min_cross_hamming
      |  FROM allp
      |)
      |SELECT p.pair_kind, CAST(least(p.hamming, 16) AS BIGINT) AS hamming_bucket,
      |  CAST(count(*) AS BIGINT) AS n_pairs, sm.max_self_hamming, sm.min_cross_hamming
      |FROM allp p, sm
      |GROUP BY 1, 2, sm.max_self_hamming, sm.min_cross_hamming
      |ORDER BY pair_kind, hamming_bucket""".stripMargin
  query("q149_image_dhash", q149ImageDhash, Some(q149Oracle))

  // ---------------------------------------------------------------- q150
  /** RENDEZVOUS-HASH shard stability (ops/Rendezvous) — the
    * consistent-hashing audit for capacity changes: assign every doc at
    * N=8 and N=9 shards under HRW and under modulo, and measure what
    * moves. HRW's law — the movers are EXACTLY the docs whose new
    * shard's score wins (hrw_moved = |assign9 = 8|, ~1/9) — is emitted
    * as an oracled boolean; modulo moves ~8/9. Per-shard N=9 occupancy
    * rides along (HRW balance comes from the same 60-bit md5 scores
    * both engines derive). This is what keeps incremental exports
    * (q124/q135) cheap when the shard count changes.
    */
  def q150RendezvousShards(s: SparkSession, dir: String): DataFrame = {
    val assigned = Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        Rendezvous.assign(col("doc_id"), 8).as("hrw8"),
        Rendezvous.assign(col("doc_id"), 9).as("hrw9"),
        pmod(col("doc_id"), lit(8L)).as("mod8"),
        pmod(col("doc_id"), lit(9L)).as("mod9")
      )
      .transform(Place.materialized) // eager: riders + two occupancy aggregates share this cache
    val riders = assigned.agg(
      count(lit(1)).as("n_docs"),
      sum((col("hrw8") =!= col("hrw9")).cast("long")).as("hrw_moved"),
      sum((col("hrw9") === lit(8L)).cast("long")).as("__hrw_to_new"),
      sum((col("mod8") =!= col("mod9")).cast("long")).as("mod_moved")
    )
    val perHrw = assigned.groupBy(col("hrw9").as("shard")).agg(count(lit(1)).as("n_hrw"))
    val perMod = assigned.groupBy(col("mod9").as("shard")).agg(count(lit(1)).as("n_mod"))
    perHrw
      .join(perMod, Seq("shard"), "left")
      .crossJoin(broadcast(riders))
      .select(
        col("shard"),
        col("n_hrw"),
        coalesce(col("n_mod"), lit(0L)).as("n_mod"),
        col("n_docs"),
        col("hrw_moved"),
        floor(col("hrw_moved") * lit(1000000L) / col("n_docs")).as("hrw_moved_ppm"),
        col("mod_moved"),
        floor(col("mod_moved") * lit(1000000L) / col("n_docs")).as("mod_moved_ppm"),
        (col("hrw_moved") === col("__hrw_to_new")).as("moved_law_ok")
      )
      .orderBy(col("shard"))
  }

  val q150Oracle: String =
    """WITH sc AS MATERIALIZED (
      |  SELECT doc_id, s.range AS sh,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s.range AS VARCHAR)), 1, 15))::BIGINT AS sc
      |  FROM documents, range(0, 9) s
      |), a9 AS MATERIALIZED (
      |  SELECT doc_id, sh AS hrw9 FROM (
      |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, sh DESC) AS rn
      |    FROM sc) WHERE rn = 1
      |), a8 AS MATERIALIZED (
      |  SELECT doc_id, sh AS hrw8 FROM (
      |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, sh DESC) AS rn
      |    FROM sc WHERE sh < 8) WHERE rn = 1
      |), j AS MATERIALIZED (
      |  SELECT a9.doc_id, a8.hrw8, a9.hrw9,
      |    a9.doc_id % 8 AS mod8, a9.doc_id % 9 AS mod9
      |  FROM a9 JOIN a8 USING (doc_id)
      |), r AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN hrw8 <> hrw9 THEN 1 ELSE 0 END) AS BIGINT) AS hrw_moved,
      |    CAST(sum(CASE WHEN hrw9 = 8 THEN 1 ELSE 0 END) AS BIGINT) AS hrw_to_new,
      |    CAST(sum(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) AS BIGINT) AS mod_moved
      |  FROM j
      |), per AS (
      |  SELECT hrw9 AS shard, CAST(count(*) AS BIGINT) AS n_hrw FROM j GROUP BY 1
      |), perm AS (
      |  SELECT mod9 AS shard, CAST(count(*) AS BIGINT) AS n_mod FROM j GROUP BY 1
      |)
      |SELECT CAST(p.shard AS BIGINT) AS shard, p.n_hrw, COALESCE(m.n_mod, 0) AS n_mod,
      |  r.n_docs, r.hrw_moved,
      |  CAST(floor(r.hrw_moved * 1000000 / r.n_docs) AS BIGINT) AS hrw_moved_ppm,
      |  r.mod_moved,
      |  CAST(floor(r.mod_moved * 1000000 / r.n_docs) AS BIGINT) AS mod_moved_ppm,
      |  (r.hrw_moved = r.hrw_to_new) AS moved_law_ok
      |FROM per p LEFT JOIN perm m USING (shard), r
      |ORDER BY shard""".stripMargin
  query("q150_rendezvous_shards", q150RendezvousShards, Some(q150Oracle))

  // ---------------------------------------------------------------- q151
  /** RE-SHARD DELTA PLAN — the incremental-export composition of q150's
    * rendezvous assignment with q116's associative digest laws: when
    * capacity goes 8 → 9 shards, each shard's new content digest is
    * derivable from the old one by SUBTRACTING the leavers and ADDING
    * the arrivers (sum mod 2^61−1) / XOR-ing both (bit_xor) — no
    * full-shard rescan, only the moved docs' digests touch the wire
    * (and under HRW the movers are ~1/9 of the corpus, q150's law).
    * Both update laws are verified against the from-scratch new-shard
    * digests and emitted as oracled booleans per shard, with the
    * stay/leave/arrive census.
    */
  def q151ReshardPlan(s: SparkSession, dir: String): DataFrame = {
    val assigned = Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        TextStats.contentDigest60(col("text")).as("digest"),
        Rendezvous.assign(col("doc_id"), 8).as("old_shard"),
        Rendezvous.assign(col("doc_id"), 9).as("new_shard")
      )
      .transform(Place.materialized) // eager: five aggregates share this cache
    val P = ExportPlan.DigestModulus
    def digestAgg(df: DataFrame, key: org.apache.spark.sql.Column, suffix: String): DataFrame =
      df.groupBy(key.as("shard"))
        .agg(
          count(lit(1)).as(s"n_$suffix"),
          (sum(col("digest").cast("decimal(38,0)")) % lit(P)).cast("long").as(s"sum_$suffix"),
          expr("bit_xor(digest)").as(s"xor_$suffix")
        )
    val movers = assigned.filter(col("old_shard") =!= col("new_shard"))
    val oldA = digestAgg(assigned, col("old_shard"), "old")
    val newA = digestAgg(assigned, col("new_shard"), "new")
    val leave = digestAgg(movers, col("old_shard"), "leave")
    val arrive = digestAgg(movers, col("new_shard"), "arrive")
    val stay = assigned
      .filter(col("old_shard") === col("new_shard"))
      .groupBy(col("new_shard").as("shard"))
      .agg(count(lit(1)).as("n_stay"))
    def z(c: String) = coalesce(col(c), lit(0L))
    newA
      .join(oldA, Seq("shard"), "left")
      .join(leave, Seq("shard"), "left")
      .join(arrive, Seq("shard"), "left")
      .join(stay, Seq("shard"), "left")
      .select(
        col("shard"),
        z("n_old").as("n_old"),
        col("n_new"),
        z("n_stay").as("n_stay"),
        z("n_leave").as("n_leave"),
        z("n_arrive").as("n_arrive"),
        (z("n_old") - z("n_leave") + z("n_arrive") === col("n_new")).as("count_law_ok"),
        (pmod(z("sum_old") - z("sum_leave") + z("sum_arrive"), lit(P)) === col("sum_new"))
          .as("sum_law_ok"),
        (z("xor_old").bitwiseXOR(z("xor_leave")).bitwiseXOR(z("xor_arrive")) === col("xor_new"))
          .as("xor_law_ok")
      )
      .orderBy(col("shard"))
  }

  val q151Oracle: String =
    """WITH sc AS MATERIALIZED (
      |  SELECT doc_id, s.range AS sh,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s.range AS VARCHAR)), 1, 15))::BIGINT AS sc
      |  FROM documents, range(0, 9) s
      |), a9 AS (
      |  SELECT doc_id, sh AS new_shard FROM (
      |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, sh DESC) AS rn
      |    FROM sc) WHERE rn = 1
      |), a8 AS (
      |  SELECT doc_id, sh AS old_shard FROM (
      |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, sh DESC) AS rn
      |    FROM sc WHERE sh < 8) WHERE rn = 1
      |), d AS MATERIALIZED (
      |  SELECT a9.doc_id, a8.old_shard, a9.new_shard,
      |    ('0x' || substr(md5(regexp_replace(trim(doc.text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS digest
      |  FROM a9 JOIN a8 USING (doc_id) JOIN documents doc USING (doc_id)
      |), oldA AS (
      |  SELECT old_shard AS shard, CAST(count(*) AS BIGINT) AS n_old,
      |    CAST(sum(digest) % 2305843009213693951 AS BIGINT) AS sum_old,
      |    CAST(bit_xor(digest) AS BIGINT) AS xor_old
      |  FROM d GROUP BY 1
      |), newA AS (
      |  SELECT new_shard AS shard, CAST(count(*) AS BIGINT) AS n_new,
      |    CAST(sum(digest) % 2305843009213693951 AS BIGINT) AS sum_new,
      |    CAST(bit_xor(digest) AS BIGINT) AS xor_new
      |  FROM d GROUP BY 1
      |), lv AS (
      |  SELECT old_shard AS shard, CAST(count(*) AS BIGINT) AS n_leave,
      |    CAST(sum(digest) % 2305843009213693951 AS BIGINT) AS sum_leave,
      |    CAST(bit_xor(digest) AS BIGINT) AS xor_leave
      |  FROM d WHERE old_shard <> new_shard GROUP BY 1
      |), ar AS (
      |  SELECT new_shard AS shard, CAST(count(*) AS BIGINT) AS n_arrive,
      |    CAST(sum(digest) % 2305843009213693951 AS BIGINT) AS sum_arrive,
      |    CAST(bit_xor(digest) AS BIGINT) AS xor_arrive
      |  FROM d WHERE old_shard <> new_shard GROUP BY 1
      |), st AS (
      |  SELECT new_shard AS shard, CAST(count(*) AS BIGINT) AS n_stay
      |  FROM d WHERE old_shard = new_shard GROUP BY 1
      |)
      |SELECT CAST(n.shard AS BIGINT) AS shard,
      |  COALESCE(o.n_old, 0) AS n_old, n.n_new,
      |  COALESCE(st.n_stay, 0) AS n_stay,
      |  COALESCE(lv.n_leave, 0) AS n_leave,
      |  COALESCE(ar.n_arrive, 0) AS n_arrive,
      |  (COALESCE(o.n_old, 0) - COALESCE(lv.n_leave, 0) + COALESCE(ar.n_arrive, 0) = n.n_new)
      |    AS count_law_ok,
      |  (((COALESCE(o.sum_old, 0) - COALESCE(lv.sum_leave, 0) + COALESCE(ar.sum_arrive, 0))
      |     % 2305843009213693951 + 2305843009213693951) % 2305843009213693951 = n.sum_new)
      |    AS sum_law_ok,
      |  (xor(xor(COALESCE(o.xor_old, 0), COALESCE(lv.xor_leave, 0)), COALESCE(ar.xor_arrive, 0))
      |     = n.xor_new) AS xor_law_ok
      |FROM newA n
      |LEFT JOIN oldA o USING (shard)
      |LEFT JOIN lv USING (shard)
      |LEFT JOIN ar USING (shard)
      |LEFT JOIN st USING (shard)
      |ORDER BY shard""".stripMargin
  query("q151_reshard_plan", q151ReshardPlan, Some(q151Oracle))

  // ---------------------------------------------------------------- q152
  /** DUP-SPAN WIDTH LADDER — how LONG is the verbatim copying: q141's
    * census at widths 5/10/20 gives the decay curve of duplicated-span
    * mass vs span length (long plateaus ⇒ templated boilerplate, fast
    * decay ⇒ incidental collocations) — the measurement that picks the
    * dedup width before anyone runs the q145 rewrite. Three linear
    * census passes, integer-only output.
    */
  def q152SpanWidthLadder(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Seq(5, 10, 20)
      .map { w =>
        NgramDup
          .docProfile(docs, "text", w, Seq("doc_id"))
          .agg(
            count(lit(1)).as("n_docs_spanned"),
            sum(col("n_spans")).as("total_spans"),
            sum(col("dup_spans")).as("dup_spans"),
            sum((col("dup_spans") > 0).cast("long")).as("n_docs_with_dup")
          )
          .select(
            lit(w.toLong).as("w"),
            col("n_docs_spanned"),
            col("total_spans"),
            col("dup_spans"),
            when(col("total_spans") > 0, floor(col("dup_spans") * lit(1000000L) / col("total_spans")))
              .otherwise(lit(0L)).as("dup_ppm"),
            col("n_docs_with_dup")
          )
      }
      .reduce(_ unionByName _)
      .orderBy(col("w"))
  }

  /** q152 replay: the q141 census algebra at each width, unioned. */
  val q152Oracle: String = {
    def rung(w: Int) =
      s"""SELECT CAST($w AS BIGINT) AS w,
         |  CAST(count(*) AS BIGINT) AS n_docs_spanned,
         |  CAST(sum(n_spans) AS BIGINT) AS total_spans,
         |  CAST(sum(dup_spans) AS BIGINT) AS dup_spans,
         |  CASE WHEN sum(n_spans) > 0
         |       THEN CAST(floor(sum(dup_spans) * 1000000 / sum(n_spans)) AS BIGINT) ELSE 0 END AS dup_ppm,
         |  CAST(sum(CASE WHEN dup_spans > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_dup
         |FROM (
         |  SELECT pd.doc_id,
         |    CAST(sum(pd.c_doc) AS BIGINT) AS n_spans,
         |    CAST(sum(CASE WHEN tot.c_all >= 2 THEN pd.c_doc ELSE 0 END) AS BIGINT) AS dup_spans
         |  FROM (
         |    SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS c_doc
         |    FROM (
         |      SELECT doc_id,
         |        unnest(list_transform(range(0, greatest(len(toks)-${w - 1}, 0)),
         |               i -> array_to_string(toks[i+1:i+$w], ' '))) AS shingle
         |      FROM t WHERE len(toks) >= $w
         |    ) GROUP BY doc_id, shingle
         |  ) pd
         |  JOIN (
         |    SELECT shingle, CAST(sum(c_doc) AS BIGINT) AS c_all FROM (
         |      SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS c_doc
         |      FROM (
         |        SELECT doc_id,
         |          unnest(list_transform(range(0, greatest(len(toks)-${w - 1}, 0)),
         |                 i -> array_to_string(toks[i+1:i+$w], ' '))) AS shingle
         |        FROM t WHERE len(toks) >= $w
         |      ) GROUP BY doc_id, shingle
         |    ) GROUP BY shingle
         |  ) tot USING (shingle)
         |  GROUP BY pd.doc_id
         |)""".stripMargin
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
       |)
       |${rung(5)}
       |UNION ALL
       |${rung(10)}
       |UNION ALL
       |${rung(20)}
       |ORDER BY w""".stripMargin
  }
  query("q152_span_width_ladder", q152SpanWidthLadder, Some(q152Oracle))

  // ---------------------------------------------------------------- q153
  /** SOURCE-FAIR QUALITY FILTER — CCNet-style per-source quantile
    * normalization (Wenzek et al., "CCNet", LREC 2020 §3: thresholds
    * are applied per language/source on the score's *within-group
    * quantile*, not its raw value) vs the naive single global
    * threshold, head-to-head on the same corpus. Keep rule: top 30% BY
    * RANK, (a) within each source, (b) globally. Both rankings run on
    * [[graft.ops.Rank.rankWithin]]'s range-binned two-pass — no source
    * (or the whole corpus, for the global rank) ever funnels through a
    * single window task at 100 TB. Output is the per-source census:
    * the quantile rule keeps exactly ⌊0.3·n⌋ of EVERY source (the
    * fairness law, emitted as an oracled boolean), while the global
    * rule's per-source keep-rate spread (g_keep_ppm column) is the
    * measured unfairness the normalization exists to remove; both_kept
    * counts the overlap of the two policies.
    */
  def q153SourceFairFilter(s: SparkSession, dir: String): DataFrame = {
    val scored = TextStats
      .withQuality(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("source"), col("quality_score"))
      // eager (r15): each rankWithin pass reads its input from three subtrees,
      // and the lazy form re-ran the tokenize+quality map as ~10 0.14 s scans
      .transform(Place.materialized)
    val perSrc = Rank
      .rankWithin(
        scored, Seq("source"), negate(col("quality_score")), col("doc_id"), "rs", bins = 64)
      .transform(Place.materialized)
    val global = Rank
      .rankWithin(
        perSrc.withColumn("__g", lit(1)),
        Seq("__g"), negate(col("quality_score")), col("doc_id"), "rg", bins = 64)
      .drop("__g")
      .transform(Place.materialized) // eager: sizes, total and the census all read it
    val sizes = global.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val total = global.agg(count(lit(1)).as("nt"))
    global
      .join(broadcast(sizes), Seq("source"))
      .crossJoin(broadcast(total))
      .withColumn("keep_q", col("rs") * lit(10L) <= col("ns") * lit(3L))
      .withColumn("keep_g", col("rg") * lit(10L) <= col("nt") * lit(3L))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep_q").cast("long")).as("q_kept"),
        sum(col("keep_g").cast("long")).as("g_kept"),
        sum((col("keep_q") && col("keep_g")).cast("long")).as("both_kept")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("q_kept"),
        col("g_kept"),
        col("both_kept"),
        expr("q_kept * 1000000 div n_docs").as("q_keep_ppm"),
        expr("g_kept * 1000000 div n_docs").as("g_keep_ppm"),
        (col("q_kept") === expr("n_docs * 3 div 10")).as("fair_law_ok")
      )
      .orderBy(col("source"))
  }

  /** q153 replay: quality score re-derived closed-form (the q83
    * expression), both ranks as plain single-window row_number() — the
    * definition the two-pass provably equals — then the census algebra.
    */
  val q153Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents
      |), f AS (
      |  SELECT doc_id, source,
      |    0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) +
      |    0.3 * least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) AS quality_score
      |  FROM t
      |), rk AS (
      |  SELECT doc_id, source, quality_score,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rs,
      |    CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rg,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns,
      |    CAST(count(*) OVER () AS BIGINT) AS nt
      |  FROM f
      |), agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN rs * 10 <= ns * 3 THEN 1 ELSE 0 END) AS BIGINT) AS q_kept,
      |    CAST(sum(CASE WHEN rg * 10 <= nt * 3 THEN 1 ELSE 0 END) AS BIGINT) AS g_kept,
      |    CAST(sum(CASE WHEN rs * 10 <= ns * 3 AND rg * 10 <= nt * 3 THEN 1 ELSE 0 END) AS BIGINT) AS both_kept
      |  FROM rk GROUP BY source
      |)
      |SELECT source, n_docs, q_kept, g_kept, both_kept,
      |  CAST(q_kept * 1000000 // n_docs AS BIGINT) AS q_keep_ppm,
      |  CAST(g_kept * 1000000 // n_docs AS BIGINT) AS g_keep_ppm,
      |  (q_kept = n_docs * 3 // 10) AS fair_law_ok
      |FROM agg ORDER BY source""".stripMargin
  query("q153_source_fair_filter", q153SourceFairFilter, Some(q153Oracle))

  // ---------------------------------------------------------------- q154
  /** EPOCH PLAN — the step after q144's UniMax token-budget allocation:
    * turn per-source token allocations into an actual reproducible
    * training epoch. Per source, docs are taken in the engine-portable
    * (portableHash(id), id) pseudo-shuffle order until the allocation
    * is spent (a doc is selected iff the running token total BEFORE it
    * is under the source's allocation — so allocations are always met,
    * overshooting by strictly less than one selected doc, the law the
    * output pins per source). Selected docs are then INTERLEAVED into
    * two epoch-global orders by epoch-salted hashes, and each source's
    * slice of each epoch order is certified with the q123 positional
    * digest (Σ pos·digest mod 2^61−1) plus the order-blind membership
    * digest — same membership every epoch, different certified order.
    *
    * Scale shape: the per-source running total is
    * [[graft.ops.ExportPlan.groupedPrefixSum]]'s two-pass (no
    * per-source single-task window); both epoch positions come from
    * [[graft.ops.Rank.rankWithin]]'s range-binned two-pass; the
    * allocation frame is |sources| rows broadcast. Everything on the
    * wire per doc is (hash, weight, digest) — 24 bytes.
    */
  def q154EpochPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val plan = Mixture
      .tokenBudgetPlan(docs, "text", "source")
      .select(col("source"), col("n_tokens"), col("allocated"), col("saturated"))
    val prefix = ExportPlan.groupedPrefixSum(
      docs, "doc_id", size(TextStats.tokens(col("text"))).cast("long"), "source")
    val digests = docs.select(
      col("doc_id").as("id"), TextStats.contentDigest60(col("text")).as("digest"))
    val sel = prefix
      .join(broadcast(plan), Seq("source"))
      .filter(col("cum_before") < col("allocated"))
      .join(digests, Seq("id"))
      .withColumn("__g", lit(1))
    def epochHash(e: Int) =
      TextStats.portableHash(col("id") * lit(31L) + lit(e.toLong))
    val positioned = Rank
      .rankWithin(
        Rank.rankWithin(sel, Seq("__g"), epochHash(1), col("id"), "pos1", bins = 64),
        Seq("__g"), epochHash(2), col("id"), "pos2", bins = 64)
      .drop("__g")
    val P = ExportPlan.DigestModulus
    def orderTerm(pos: String) =
      (col(pos).cast("decimal(19,0)") * col("digest").cast("decimal(19,0)")) % lit(P)
    val perSource = positioned
      .withColumn("t1", orderTerm("pos1"))
      .withColumn("t2", orderTerm("pos2"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_sel"),
        sum(col("wt")).as("sel_tokens"),
        max(col("wt")).as("max_sel_wt"),
        (sum(col("digest").cast("decimal(38,0)")) % lit(P)).cast("long").as("member_digest"),
        (sum(col("t1")) % lit(P)).cast("long").as("order_digest_e1"),
        (sum(col("t2")) % lit(P)).cast("long").as("order_digest_e2")
      )
    plan
      .join(perSource, Seq("source"), "left")
      .select(
        col("source"),
        col("n_tokens"),
        col("allocated"),
        col("saturated"),
        coalesce(col("n_sel"), lit(0L)).as("n_sel"),
        coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"),
        (coalesce(col("sel_tokens"), lit(0L)) - col("allocated")).as("overshoot"),
        (
          (coalesce(col("n_sel"), lit(0L)) === 0 && col("allocated") === 0) ||
            (coalesce(col("sel_tokens"), lit(0L)) >= col("allocated") &&
              coalesce(col("sel_tokens"), lit(0L)) - col("allocated") < col("max_sel_wt"))
        ).as("alloc_law_ok"),
        coalesce(col("member_digest"), lit(0L)).as("member_digest"),
        coalesce(col("order_digest_e1"), lit(0L)).as("order_digest_e1"),
        coalesce(col("order_digest_e2"), lit(0L)).as("order_digest_e2")
      )
      .orderBy(col("source"))
  }

  /** q154 replay: the q144 waterfill chain verbatim, the per-source
    * prefix sum as the plain single-window definition groupedPrefixSum
    * provably equals, selection, two epoch-salted global row_numbers,
    * and the q123 HUGEINT digest algebra.
    */
  val q154Oracle: String =
    QueriesCuration.waterfillCtes + """
      |), alloc AS MATERIALIZED (
      |  SELECT c.source, c.n_tokens,
      |    CAST(CASE WHEN c.rk < l.cut THEN c.n_tokens
      |         ELSE l.level + (CASE WHEN c.rk - l.cut < l.rem THEN 1 ELSE 0 END) END AS BIGINT)
      |      AS allocated,
      |    (c.rk < l.cut) AS saturated
      |  FROM cutc c, lvl l
      |), d AS (
      |  SELECT doc_id, CAST(source AS VARCHAR) AS source,
      |    (doc_id * 2654435761) % 1000003 AS h,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wt,
      |    ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS digest
      |  FROM documents
      |), c2 AS (
      |  SELECT *, SUM(wt) OVER (PARTITION BY source ORDER BY h, doc_id
      |       ROWS UNBOUNDED PRECEDING) - wt AS cum_before
      |  FROM d
      |), sel AS MATERIALIZED (
      |  SELECT c2.*, a.allocated FROM c2 JOIN alloc a USING (source)
      |  WHERE c2.cum_before < a.allocated
      |), pos AS (
      |  SELECT source, wt, digest,
      |    CAST(row_number() OVER (
      |      ORDER BY ((doc_id * 31 + 1) * 2654435761) % 1000003, doc_id) AS BIGINT) AS pos1,
      |    CAST(row_number() OVER (
      |      ORDER BY ((doc_id * 31 + 2) * 2654435761) % 1000003, doc_id) AS BIGINT) AS pos2
      |  FROM sel
      |), agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_sel,
      |    CAST(sum(wt) AS BIGINT) AS sel_tokens,
      |    CAST(max(wt) AS BIGINT) AS max_sel_wt,
      |    CAST(sum(CAST(digest AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS member_digest,
      |    CAST(SUM((CAST(pos1 AS HUGEINT) * digest) % 2305843009213693951)
      |         % 2305843009213693951 AS BIGINT) AS order_digest_e1,
      |    CAST(SUM((CAST(pos2 AS HUGEINT) * digest) % 2305843009213693951)
      |         % 2305843009213693951 AS BIGINT) AS order_digest_e2
      |  FROM pos GROUP BY source
      |)
      |SELECT a.source, a.n_tokens, a.allocated, a.saturated,
      |  COALESCE(g.n_sel, 0) AS n_sel,
      |  COALESCE(g.sel_tokens, 0) AS sel_tokens,
      |  COALESCE(g.sel_tokens, 0) - a.allocated AS overshoot,
      |  ((COALESCE(g.n_sel, 0) = 0 AND a.allocated = 0) OR
      |   (COALESCE(g.sel_tokens, 0) >= a.allocated AND
      |    COALESCE(g.sel_tokens, 0) - a.allocated < g.max_sel_wt)) AS alloc_law_ok,
      |  COALESCE(g.member_digest, 0) AS member_digest,
      |  COALESCE(g.order_digest_e1, 0) AS order_digest_e1,
      |  COALESCE(g.order_digest_e2, 0) AS order_digest_e2
      |FROM alloc a LEFT JOIN agg g USING (source)
      |ORDER BY a.source""".stripMargin
  query("q154_epoch_plan", q154EpochPlan, Some(q154Oracle))

  // ---------------------------------------------------------------- q155
  /** LABEL-PROPAGATION COMMUNITIES (ops/LabelProp) — deterministic
    * synchronous min-tie LPA, 3 rounds over the symmetrized
    * part↔supplier co-occurrence graph (q96's edge set): the
    * community-structure complement to connected components (q51/q60
    * answer reachability; this answers dense attachment INSIDE one
    * component). Output is the community census — integer/string exact,
    * no floats anywhere. Oracle: the same three rounds unrolled as
    * CTEs by the same Scala loop shape as q96Oracle, so query and
    * oracle share the recurrence by construction.
    *
    * MEASURED FINDING (both SFs): on this dense BIPARTITE graph the
    * deterministic sync update collapses to exactly two side-pure
    * blocks (all parts / all suppliers) — the known synchronous-LPA
    * oscillation-absorption behavior on bipartite structure that
    * Raghavan et al. §3 flag (their cure is async order, which is
    * unreplayable; ours is to measure and certify the sync behavior).
    * `side_pure` pins it per community: labels only cross sides when
    * community structure beats side structure, and here it never does.
    */
  def q155LabelProp(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // r15: iterate on LONG node keys. Unlike q96 (where rank values are
    // key-blind so any injective long id worked), LPA labels ARE the
    // propagating values and the min-tie argmax compares them in STRING
    // order — so the code must be an ORDER ISOMORPHISM from the
    // "p<digits>"/"s<digits>" strings onto longs. Closed form, no
    // dictionary: 'p' < 's' is a side bit; within a side, lexicographic
    // order on unpadded digit strings equals (value right-padded to a
    // fixed 12-digit width, digit count) compared lexicographically —
    // padding never flips a strict comparison and the length breaks the
    // prefix ties ("2" < "20"). enc(side, v) = side·10^14 +
    // v·10^(12−digits(v))·32 + digits(v); decode inverts it exactly on
    // the census's few output rows. Domain bound: keys are non-negative
    // with ≤ 12 digits (partkey/suppkey at any plausible SF). Every
    // min/struct-min/min/max the rounds and census take is preserved by
    // the isomorphism, so the decoded output is byte-identical to the
    // string-keyed run (oracle keeps the string form end to end).
    def enc(side: Int, k: Column): Column = {
      val d = length(k.cast("string")).cast("long")
      lit(side.toLong * 100000000000000L) +
        k.cast("long") * pow(lit(10.0), lit(12L) - d).cast("long") * lit(32L) + d
    }
    def dec(c: String): Column = expr(
      s"""concat(
         |  if($c div 100000000000000 = 0, 'p', 's'),
         |  cast((($c % 100000000000000) div 32)
         |       div cast(power(10, 12 - (($c % 100000000000000) % 32)) as bigint)
         |    as string))""".stripMargin)
    val edges = PageRank.symmetrize(
      li.select(
        enc(0, col("l_partkey")).as("src"),
        enc(1, col("l_suppkey")).as("dst")
      ).distinct()
    )
    LabelProp
      // inCoverTotal: symmetrize guarantees every node appears as a dst
      .census(LabelProp.run(edges, iters = 3, inCoverTotal = true))
      .select(
        dec("community").as("community"),
        col("n_nodes"),
        dec("min_node").as("min_node"),
        dec("max_node").as("max_node"))
      .withColumn(
        "side_pure",
        substring(col("min_node"), 1, 1) === substring(col("max_node"), 1, 1))
      .orderBy(col("community"))
  }

  val q155Oracle: String = {
    val rounds = (1 to 3)
      .map { i =>
        s"""c$i AS (
           |  SELECT e.dst, p.label, CAST(count(*) AS BIGINT) AS c
           |  FROM e JOIN l${i - 1} p ON e.src = p.node
           |  GROUP BY e.dst, p.label
           |), l$i AS (
           |  SELECT dst AS node, min(label) AS label FROM (
           |    SELECT *, max(c) OVER (PARTITION BY dst) AS cmax FROM c$i
           |  ) WHERE c = cmax GROUP BY dst
           |)""".stripMargin
      }
      .mkString(", ")
    s"""WITH d AS (
       |  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
       |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM lineitem
       |), e AS (
       |  SELECT src, dst FROM d UNION SELECT dst, src FROM d
       |), nodes AS (
       |  SELECT DISTINCT src AS node FROM e
       |), l0 AS (
       |  SELECT node, node AS label FROM nodes
       |), $rounds
       |SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
       |  min(node) AS min_node, max(node) AS max_node,
       |  (substr(min(node), 1, 1) = substr(max(node), 1, 1)) AS side_pure
       |FROM l3 GROUP BY label ORDER BY community""".stripMargin
  }
  query("q155_label_prop", q155LabelProp, Some(q155Oracle))

  // ---------------------------------------------------------------- q156
  /** EPOCH SAMPLING-DRIFT AUDIT — did q154's hash-order token-budget
    * selection DISTORT what the model will see? Per source, the L1
    * distance (in ppm of each side's own token mass) between the full
    * corpus's and the selected epoch's frequency of the corpus-global
    * top-20 tokens, plus the worst-deviating token. A faithful uniform
    * subsample should show small ppm drift; a selection correlated
    * with content would show large — this is the audit that catches a
    * biased "pseudo-random" order (e.g. a hash correlated with doc
    * length) before an epoch ships. Integer-exact end to end: counts,
    * floor-ppm frequencies, absolute differences — no floats.
    *
    * Scale shape: one token explode over the corpus (the q137 cost
    * class), counts keyed on (source, token); the top-20 frame is
    * bounded model state joined by broadcast; selection membership is
    * the q154 two-pass prefix sum. Argmax token is max-dev + join-back
    * + min(token) — deterministic under ties.
    */
  def q156EpochDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val plan = Mixture
      .tokenBudgetPlan(docs, "text", "source")
      .select(col("source"), col("allocated"))
    val selIds = ExportPlan
      .groupedPrefixSum(docs, "doc_id", size(TextStats.tokens(col("text"))).cast("long"), "source")
      .join(broadcast(plan), Seq("source"))
      .filter(col("cum_before") < col("allocated"))
      .select(col("id").as("doc_id"))
    val toks = docs.select(
      col("doc_id"), col("source"), explode(TextStats.tokens(col("text"))).as("token"))
    val fullCnt = toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("full_cnt"))
    val selCnt = toks
      .join(selIds, Seq("doc_id"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("sel_cnt"))
    val fullTot = fullCnt.groupBy(col("source")).agg(sum(col("full_cnt")).as("full_tot"))
    val selTot = selCnt.groupBy(col("source")).agg(sum(col("sel_cnt")).as("sel_tot"))
    val topk = fullCnt
      .groupBy(col("token"))
      .agg(sum(col("full_cnt")).as("g_cnt"))
      .orderBy(col("g_cnt").desc, col("token"))
      .limit(20)
      .select(col("token"))
    val grid = fullTot
      .select(col("source"), col("full_tot"))
      .crossJoin(broadcast(topk))
      .join(fullCnt, Seq("source", "token"), "left")
      .join(selCnt, Seq("source", "token"), "left")
      .join(broadcast(selTot), Seq("source"))
      .select(
        col("source"),
        col("token"),
        expr("coalesce(full_cnt, 0) * 1000000 div full_tot").as("full_ppm"),
        expr("coalesce(sel_cnt, 0) * 1000000 div sel_tot").as("sel_ppm")
      )
      .withColumn("dev", abs(col("full_ppm") - col("sel_ppm")))
    val agg = grid
      .groupBy(col("source"))
      .agg(sum(col("dev")).as("l1_ppm"), max(col("dev")).as("max_dev_ppm"))
    val worst = grid
      .join(agg.select(col("source"), col("max_dev_ppm").as("dev")), Seq("source", "dev"))
      .groupBy(col("source"))
      .agg(min(col("token")).as("worst_token"))
    agg
      .join(worst, Seq("source"))
      .select(col("source"), col("l1_ppm"), col("max_dev_ppm"), col("worst_token"))
      .orderBy(col("source"))
  }

  /** q156 replay: the q154 waterfill + selection chain, then the token
    * censuses, the deterministic global top-20, and the ppm algebra.
    */
  val q156Oracle: String =
    QueriesCuration.waterfillCtes + """
      |), alloc AS MATERIALIZED (
      |  SELECT c.source,
      |    CAST(CASE WHEN c.rk < l.cut THEN c.n_tokens
      |         ELSE l.level + (CASE WHEN c.rk - l.cut < l.rem THEN 1 ELSE 0 END) END AS BIGINT)
      |      AS allocated
      |  FROM cutc c, lvl l
      |), d AS (
      |  SELECT doc_id, CAST(source AS VARCHAR) AS source,
      |    (doc_id * 2654435761) % 1000003 AS h,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wt
      |  FROM documents
      |), c2 AS (
      |  SELECT *, SUM(wt) OVER (PARTITION BY source ORDER BY h, doc_id
      |       ROWS UNBOUNDED PRECEDING) - wt AS cum_before
      |  FROM d
      |), selids AS MATERIALIZED (
      |  SELECT c2.doc_id FROM c2 JOIN alloc a USING (source)
      |  WHERE c2.cum_before < a.allocated
      |), tok AS MATERIALIZED (
      |  SELECT doc_id, CAST(source AS VARCHAR) AS source,
      |    unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents
      |), fullcnt AS MATERIALIZED (
      |  SELECT source, token, CAST(count(*) AS BIGINT) AS full_cnt
      |  FROM tok GROUP BY source, token
      |), selcnt AS MATERIALIZED (
      |  SELECT source, token, CAST(count(*) AS BIGINT) AS sel_cnt
      |  FROM tok JOIN selids USING (doc_id) GROUP BY source, token
      |), fulltot AS (
      |  SELECT source, CAST(sum(full_cnt) AS BIGINT) AS full_tot FROM fullcnt GROUP BY source
      |), seltot AS (
      |  SELECT source, CAST(sum(sel_cnt) AS BIGINT) AS sel_tot FROM selcnt GROUP BY source
      |), topk AS MATERIALIZED (
      |  SELECT token FROM (
      |    SELECT token, CAST(sum(full_cnt) AS BIGINT) AS g_cnt FROM fullcnt GROUP BY token
      |  ) ORDER BY g_cnt DESC, token LIMIT 20
      |), grid AS (
      |  SELECT ft.source, k.token,
      |    abs(COALESCE(fc.full_cnt, 0) * 1000000 // ft.full_tot -
      |        COALESCE(sc.sel_cnt, 0) * 1000000 // st.sel_tot) AS dev
      |  FROM fulltot ft
      |  CROSS JOIN topk k
      |  LEFT JOIN fullcnt fc ON fc.source = ft.source AND fc.token = k.token
      |  LEFT JOIN selcnt sc ON sc.source = ft.source AND sc.token = k.token
      |  JOIN seltot st ON st.source = ft.source
      |), agg AS (
      |  SELECT source, CAST(sum(dev) AS BIGINT) AS l1_ppm,
      |    CAST(max(dev) AS BIGINT) AS max_dev_ppm
      |  FROM grid GROUP BY source
      |)
      |SELECT a.source, a.l1_ppm, a.max_dev_ppm,
      |  (SELECT min(g.token) FROM grid g
      |   WHERE g.source = a.source AND g.dev = a.max_dev_ppm) AS worst_token
      |FROM agg a ORDER BY a.source""".stripMargin
  query("q156_epoch_drift", q156EpochDrift, Some(q156Oracle))

  // ---------------------------------------------------------------- q157
  /** BANDED RANGE SELF-JOIN (ops/RangeJoin) — per customer, all pairs
    * of their orders placed within 30 days of each other (repeat-
    * purchase proximity), as a gap-week histogram. The DECLARATIVE form
    * of this query is an inequality-only self-join — Spark plans it as
    * a nested-loop O(n²) per customer; the banded form buckets the date
    * axis by the band width and turns it into ONE equi-join on
    * (customer, bucket) with the exact band predicate re-checked — the
    * emit-to-two-buckets construction produces every oriented pair
    * EXACTLY once (proof in the scaladoc), so no dedup pass. The oracle
    * IS the naive theta-join definition — equality of the two forms is
    * the whole check. RangeJoinSpec additionally pins exactly-once on
    * adversarial gaps (0, d, d+1) and that the plan contains no
    * nested-loop/cartesian operator.
    */
  def q157RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    RangeJoin
      .bandedSelfJoin(
        ord.select(col("o_custkey"), col("o_orderdate"), col("o_orderkey")),
        "o_custkey",
        datediff(col("o_orderdate"), lit("1970-01-01")),
        col("o_orderkey"),
        d = 30L
      )
      .groupBy(expr("gap div 7").as("gap_week"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count_distinct(col("key")).as("n_customers"),
        min(col("gap")).as("min_gap"),
        max(col("gap")).as("max_gap")
      )
      .orderBy(col("gap_week"))
  }

  val q157Oracle: String =
    """WITH pairs AS (
      |  SELECT a.o_custkey AS key,
      |    date_diff('day', a.o_orderdate, b.o_orderdate) AS gap
      |  FROM orders a JOIN orders b
      |    ON a.o_custkey = b.o_custkey
      |   AND date_diff('day', a.o_orderdate, b.o_orderdate) BETWEEN 0 AND 30
      |   AND (a.o_orderdate < b.o_orderdate OR
      |        (a.o_orderdate = b.o_orderdate AND a.o_orderkey < b.o_orderkey))
      |)
      |SELECT CAST(gap // 7 AS BIGINT) AS gap_week,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(count(DISTINCT key) AS BIGINT) AS n_customers,
      |  CAST(min(gap) AS BIGINT) AS min_gap,
      |  CAST(max(gap) AS BIGINT) AS max_gap
      |FROM pairs GROUP BY 1 ORDER BY gap_week""".stripMargin
  query("q157_range_join", q157RangeJoin, Some(q157Oracle))

  // ---------------------------------------------------------------- q158
  /** RETENTION COHORT MATRIX — the classic product-analytics rollup
    * over the events stream: users cohorted by their FIRST PURCHASE
    * day, matrix cell (cohort, k) = distinct users of that cohort who
    * purchased again on day cohort+k, with retention in ppm of the
    * cohort size. Day index is integer epoch-day (µs div 86400e6) —
    * exact in any engine, no calendar/timezone semantics to disagree
    * on; the purchase filter reaches the parquet scan (PushedFilters).
    * The all-events weekly variant is degenerate on this corpus (every
    * user is active every week — 1e6 ppm everywhere); purchases at
    * daily grain are genuinely sparse (~0.38 purchase-days per user-
    * day), so the matrix carries real decay. Three keyed aggregates:
    * (user, day) distinct activity, per-user min (the cohort), then
    * the (cohort, k) matrix — all shuffles on fine keys, cohort sizes
    * broadcast back.
    */
  def q158Retention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("(ts_ns div 1000) div 86400000000").as("day"))
      .distinct()
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
    ev.join(cohort, Seq("user_id"))
      .withColumn("k", col("day") - col("cohort_day"))
      .groupBy(col("cohort_day"), col("k"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(
        col("cohort_day"),
        col("k"),
        col("n_active"),
        col("cohort_size"),
        expr("n_active * 1000000 div cohort_size").as("retention_ppm")
      )
      .orderBy(col("cohort_day"), col("k"))
  }

  val q158Oracle: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id
      |), s AS (
      |  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size FROM c GROUP BY cohort_day
      |), m AS (
      |  SELECT c.cohort_day, a.day - c.cohort_day AS k,
      |    CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      |  FROM a JOIN c USING (user_id) GROUP BY 1, 2
      |)
      |SELECT CAST(m.cohort_day AS BIGINT) AS cohort_day, CAST(m.k AS BIGINT) AS k,
      |  m.n_active, s.cohort_size,
      |  CAST(m.n_active * 1000000 // s.cohort_size AS BIGINT) AS retention_ppm
      |FROM m JOIN s USING (cohort_day)
      |ORDER BY cohort_day, k""".stripMargin
  query("q158_retention", q158Retention, Some(q158Oracle))

  // ---------------------------------------------------------------- q159
  /** PIVOT — the wide-format rollup surface: events per day × event
    * type as columns (the report shape BI tools emit). Uses Spark's
    * `.pivot(col, values)` WITH the explicit value list — omitting it
    * costs an extra distinct-scan job AND makes the output schema
    * data-dependent, which no 100 TB pipeline should ship; with the
    * list it is a single groupBy producing conditional aggregates.
    * Missing cells are 0, not null (a day with no errors HAS zero
    * errors — the count semantics), plus a total and the argmax type
    * per day (tie → alphabetically first, deterministic). Oracle:
    * the same matrix as CASE-WHEN conditional sums.
    */
  def q159Pivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables
      .events(s, dir)
      .select(expr("(ts_ns div 1000) div 86400000000").as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    val filled = types.foldLeft(wide)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
    val totals = types.map(col).reduce(_ + _)
    val best = types
      .map(t => struct(col(t).as("c"), lit(t).as("t")))
      .reduce((a, b) => when(b("c") > a("c"), b).otherwise(a)) // ties keep the earlier (alphabetical) type
    filled
      .select(
        (col("day") +: types.map(col)) :+
          totals.as("total") :+
          best.getField("t").as("top_type"): _*
      )
      .orderBy(col("day"))
  }

  val q159Oracle: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cells = types
      .map(t => s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
      .mkString(",\n      |  ")
    // replay the left-fold argmax exactly: strictly-greater replaces,
    // so ties keep the alphabetically-earlier type
    val argmax = types
      .map(t => s"struct_pack(c := $t, t := '$t')")
      .reduceLeft((a, b) => s"(CASE WHEN ($b).c > ($a).c THEN $b ELSE $a END)")
    s"""WITH w AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |  $cells
       |  FROM events GROUP BY 1
       |)
       |SELECT CAST(day AS BIGINT) AS day, ${types.mkString(", ")},
       |  ${types.mkString(" + ")} AS total,
       |  ($argmax).t AS top_type
       |FROM w ORDER BY day""".stripMargin
  }
  query("q159_pivot", q159Pivot, Some(q159Oracle))

  // ---------------------------------------------------------------- q160
  /** BLOCKED EDIT-DISTANCE FUZZY MATCH — the record-linkage dedup
    * method the near-dup fleet was still missing: token/shingle
    * (MinHash, q27), bitwise (SimHash, q30-adjacent), embedding (q78),
    * perceptual (q149) — and now CHARACTER-level Levenshtein, the
    * classic for typo-grade duplicates. All-pairs levenshtein is
    * O(n^2 L^2) with no index — dead at any scale — so the pipeline is
    * the standard record-linkage order: DEDUPE first (distinct name
    * catalog with occurrence counts), BLOCK cheap (first token), exact
    * distance only on in-block candidate pairs, then weight results
    * back by occurrence products. Output: the distance histogram over
    * candidate name pairs with the deterministic closest pair and the
    * part-level pair mass each bucket represents. Measured on this
    * catalog: 64 distinct names over 2000 parts — dedup-first turns
    * 31k raw part pairs into a few hundred name pairs.
    */
  def q160FuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val names = Tables
      .part(s, dir)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("occ"))
      .withColumn("block", split(col("name"), " ").getItem(0))
    val a = names.select(col("block"), col("name").as("a_name"), col("occ").as("a_occ"))
    val b = names.select(col("block"), col("name").as("b_name"), col("occ").as("b_occ"))
    val pairs = a
      .join(b, Seq("block"))
      .filter(col("a_name") < col("b_name"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
    pairs
      .withColumn("bucket", expr("dist div 3"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_name_pairs"),
        min(col("dist")).as("min_dist"),
        max(col("dist")).as("max_dist"),
        sum(col("a_occ") * col("b_occ")).as("part_pair_mass"),
        min(struct(col("dist"), col("a_name"), col("b_name"))).getField("a_name").as("closest_a"),
        min(struct(col("dist"), col("a_name"), col("b_name"))).getField("b_name").as("closest_b")
      )
      .orderBy(col("bucket"))
  }

  val q160Oracle: String =
    """WITH n AS (
      |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS occ,
      |    string_split(p_name, ' ')[1] AS block
      |  FROM part GROUP BY p_name
      |), pr AS MATERIALIZED (
      |  SELECT a.name AS a_name, b.name AS b_name, a.occ AS a_occ, b.occ AS b_occ,
      |    levenshtein(a.name, b.name) AS dist
      |  FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
      |)
      |SELECT CAST(dist // 3 AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_name_pairs,
      |  CAST(min(dist) AS BIGINT) AS min_dist,
      |  CAST(max(dist) AS BIGINT) AS max_dist,
      |  CAST(sum(a_occ * b_occ) AS BIGINT) AS part_pair_mass,
      |  (min(struct_pack(d := dist, a := a_name, b := b_name))).a AS closest_a,
      |  (min(struct_pack(d := dist, a := a_name, b := b_name))).b AS closest_b
      |FROM pr GROUP BY 1 ORDER BY bucket""".stripMargin
  query("q160_fuzzy_match", q160FuzzyMatch, Some(q160Oracle))

  // ---------------------------------------------------------------- q161
  /** ROLLUP + GROUPING_ID — the subtotal-report surface (CUBE's
    * ordered sibling, q62's complement): lineitem quantity/revenue by
    * (returnflag, linestatus) with per-flag subtotals and a grand
    * total in ONE aggregate; `grouping_id` disambiguates a real NULL
    * group from a subtotal row (the correctness trap of naive
    * NULL-keyed subtotals). Decimal sums — exact under any
    * partitioning. Spark plans rollup as a single Expand + one hash
    * aggregate: subtotals cost one pass, not three unions.
    */
  def q161Rollup(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid")
      )
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  val q161Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin
  query("q161_rollup", q161Rollup, Some(q161Oracle))

  // ---------------------------------------------------------------- q162
  /** SIX-WAY JOIN (TPC-H Q5 shape) — local-supplier revenue by nation
    * within one region: lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈
    * nation ⋈ region with the same-nation (c_nationkey = s_nationkey)
    * correlation. The optimizer showcase: every dimension side is
    * broadcast and the region filter prunes nation keys BEFORE any
    * fact work. At the test SF even orders fits under the broadcast
    * threshold (the dump shows 5 BroadcastHashJoins, zero shuffle
    * joins); at 100 TB the lineitem ⋈ orders edge becomes the single
    * fact-fact shuffle on orderkey while the dims keep riding
    * broadcast — the join order a big plan needs either way.
    * Decimal-exact revenue via the dsum discipline.
    */
  def q162SixWayJoin(s: SparkSession, dir: String): DataFrame = {
    val nations = Tables
      .nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    Tables
      .lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(
        broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue")
      )
      .orderBy(col("n_name"))
  }

  val q162Oracle: String =
    """SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin
  query("q162_six_way_join", q162SixWayJoin, Some(q162Oracle))

  // ---------------------------------------------------------------- q163
  /** EXISTS → SEMI JOIN (TPC-H Q4 shape) — orders per priority that
    * have at least one LATE lineitem (shipped after the order date).
    * The correlated-EXISTS surface: declaratively a subquery per order,
    * physically ONE left-semi join carrying the correlation predicate
    * (l_shipdate > o_orderdate) as the join condition — the rewrite
    * that makes EXISTS linear instead of nested-loop. Semi means
    * multiplicity-proof: an order with five late lines counts once.
    */
  def q163ExistsLate(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    ord
      .join(
        li,
        col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val q163Oracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders o
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  query("q163_exists_late", q163ExistsLate, Some(q163Oracle))

  // ---------------------------------------------------------------- q164
  /** PER-GROUP SCALAR AVERAGE FILTER (TPC-H Q17 shape) — lineitems
    * whose quantity is under 20% of their part's average quantity
    * (the small-order tail), total count + revenue. The scalar-
    * subquery surface, executed scale-correctly: the per-part averages
    * are ONE bounded aggregate (|parts| rows) broadcast back — never a
    * correlated per-row subquery. The 20%-of-average comparison is
    * EXACT-rational (qty · 5 · cnt < Σqty, integer-valued doubles both
    * sides) — no division, no float threshold to disagree on.
    */
  def q164ScalarAvg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val avgs = li
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
    li.join(broadcast(avgs), Seq("l_partkey"))
      .filter(col("l_quantity") * lit(5) * col("cnt") < col("sum_qty"))
      .agg(
        count(lit(1)).as("n_small"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("small_revenue")
      )
  }

  val q164Oracle: String =
    """WITH a AS (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt, sum(l_quantity) AS sum_qty
      |  FROM lineitem GROUP BY l_partkey
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_small,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS small_revenue
      |FROM lineitem JOIN a USING (l_partkey)
      |WHERE l_quantity * 5 * cnt < sum_qty""".stripMargin
  query("q164_scalar_avg", q164ScalarAvg, Some(q164Oracle))

  // ---------------------------------------------------------------- q165
  /** NOT IN vs NOT EXISTS under NULLs — the three-valued-logic trap
    * certified differentially: a NOT IN list containing a single NULL
    * makes the predicate UNKNOWN for every non-member (never TRUE), so
    * the count is exactly 0 — silently dropping ALL rows, the classic
    * production data-loss bug; NOT EXISTS and the null-filtered NOT IN
    * are the correct rewrites and must agree. The NULL is injected
    * with nullif(n_nationkey, 3), so customers of nation 3 are the
    * surviving set. Both engines implement standard 3VL — the oracle
    * is the SAME SQL, and the law booleans (empty-under-null,
    * rewrites-agree) are pinned TRUE. Uses the spark.sql surface
    * (subqueries are first-class there).
    */
  def q165NotInNulls(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("cust_nin")
    Tables.nation(s, dir).createOrReplaceTempView("nat_nin")
    s.sql("""
      SELECT *,
        (cnt_not_in_with_null = 0) AS null_empties_not_in,
        (cnt_not_exists = cnt_not_in_filtered) AS rewrites_agree
      FROM (
        SELECT
          (SELECT count(*) FROM cust_nin
           WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, 3) FROM nat_nin))
            AS cnt_not_in_with_null,
          (SELECT count(*) FROM cust_nin c
           WHERE NOT EXISTS (SELECT 1 FROM nat_nin n
                             WHERE nullif(n.n_nationkey, 3) = c.c_nationkey))
            AS cnt_not_exists,
          (SELECT count(*) FROM cust_nin
           WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, 3) FROM nat_nin
                                     WHERE nullif(n_nationkey, 3) IS NOT NULL))
            AS cnt_not_in_filtered
      )""")
  }

  val q165Oracle: String =
    """SELECT *,
      |  (cnt_not_in_with_null = 0) AS null_empties_not_in,
      |  (cnt_not_exists = cnt_not_in_filtered) AS rewrites_agree
      |FROM (
      |  SELECT
      |    (SELECT CAST(count(*) AS BIGINT) FROM customer
      |     WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, 3) FROM nation))
      |      AS cnt_not_in_with_null,
      |    (SELECT CAST(count(*) AS BIGINT) FROM customer c
      |     WHERE NOT EXISTS (SELECT 1 FROM nation n
      |                       WHERE nullif(n.n_nationkey, 3) = c.c_nationkey))
      |      AS cnt_not_exists,
      |    (SELECT CAST(count(*) AS BIGINT) FROM customer
      |     WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, 3) FROM nation
      |                               WHERE nullif(n_nationkey, 3) IS NOT NULL))
      |      AS cnt_not_in_filtered
      |)""".stripMargin
  query("q165_not_in_nulls", q165NotInNulls, Some(q165Oracle))

  // ---------------------------------------------------------------- q166
  /** NULL-SAFE JOIN SEMANTICS (`<=>` vs `=`) — the other 3VL join
    * trap, certified differentially: plain `=` drops null keys from an
    * inner join entirely (UNKNOWN is not TRUE), while the null-safe
    * operator (`<=>` in Spark, IS NOT DISTINCT FROM in SQL) matches
    * null with null. Nulls are injected by nulling out one nation key
    * on each side; the law column pins the exact relationship:
    * null-safe matches = equi matches + (left nulls × right nulls).
    * This is the semantics Rank.rankWithin and the upsert merges rely
    * on (null group keys must not vanish) — here it gets its own
    * oracled certificate.
    */
  def q166NullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables
      .customer(s, dir)
      .select(nullif(col("c_nationkey"), lit(3)).as("ck"))
    val sup = Tables
      .supplier(s, dir)
      .select(nullif(col("s_nationkey"), lit(3)).as("sk"))
    val equi = c.join(sup, col("ck") === col("sk")).agg(count(lit(1)).as("n_equi"))
    val nsafe = c.join(sup, col("ck") <=> col("sk")).agg(count(lit(1)).as("n_null_safe"))
    val nulls = c
      .agg(sum(col("ck").isNull.cast("long")).as("c_nulls"))
      .crossJoin(sup.agg(sum(col("sk").isNull.cast("long")).as("s_nulls")))
    equi
      .crossJoin(nsafe)
      .crossJoin(nulls)
      .select(
        col("n_equi"),
        col("n_null_safe"),
        col("c_nulls"),
        col("s_nulls"),
        (col("n_null_safe") === col("n_equi") + col("c_nulls") * col("s_nulls"))
          .as("null_block_law_ok")
      )
  }

  val q166Oracle: String =
    """WITH c AS (SELECT nullif(c_nationkey, 3) AS ck FROM customer),
      |s AS (SELECT nullif(s_nationkey, 3) AS sk FROM supplier),
      |e AS (SELECT CAST(count(*) AS BIGINT) AS n_equi FROM c JOIN s ON ck = sk),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_null_safe
      |      FROM c JOIN s ON ck IS NOT DISTINCT FROM sk),
      |z AS (SELECT CAST(sum(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_nulls FROM c),
      |y AS (SELECT CAST(sum(CASE WHEN sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_nulls FROM s)
      |SELECT e.n_equi, n.n_null_safe, z.c_nulls, y.s_nulls,
      |  (n.n_null_safe = e.n_equi + z.c_nulls * y.s_nulls) AS null_block_law_ok
      |FROM e, n, z, y""".stripMargin
  query("q166_null_safe_join", q166NullSafeJoin, Some(q166Oracle))

  // ---------------------------------------------------------------- q167
  /** SWEEP-LINE PEAK CONCURRENCY — daily maximum number of
    * simultaneously-open user sessions, via the distributed ordered
    * prefix sum ([[graft.ops.Sweep.orderedPrefixSum]]).
    *
    * Sessions are q37's law (30-minute inactivity gap on the exact ns
    * longs); each session is active over the half-open interval
    * [first_event, last_event + 30 min). The sweep turns intervals into
    * (+1, −1) deltas, pre-aggregates them per (t, sign) so the order key
    * is total (sign −1 sorts before +1 ⇒ closings apply before openings
    * at the same instant), and takes the GLOBAL running sum of net
    * deltas — on Spark via the range-binned two-pass (no single-task
    * global window; same scale cure as q113/q117), in the oracle as the
    * plain single window the two-pass must equal. Peak per UTC day +
    * the earliest instant that day reaching it.
    *
    * Scale: the delta relation is 2·|sessions| rows of 3 columns; the
    * only full-data shuffle is the per-bin window. The all-deltas-at-
    * one-instant worst case degrades to ties sharing a bin (measured in
    * SweepSpec), exactly where the plain window puts them.
    */
  def q167PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val GapNs = 1800000000000L
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"), col("ts_ns"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = ev
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
      .withColumn(
        "is_new",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > GapNs, 1L).otherwise(0L)
      )
      .withColumn("sid", sum(col("is_new")).over(wr))
    val iv = sess
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_ns")).as("s"), (max(col("ts_ns")) + lit(GapNs)).as("e"))
    val deltas = iv
      .select(col("s").as("t"), lit(1L).as("sign"))
      .unionByName(iv.select(col("e").as("t"), lit(-1L).as("sign")))
      .groupBy(col("t"), col("sign"))
      .agg(sum(col("sign")).as("net"))
    val run = graft.ops.Sweep
      .orderedPrefixSum(deltas, Nil, col("t"), col("sign"), col("net"), "level")
      .withColumn("day", to_date(expr("timestamp_micros(t div 1000)")))
    val peaks = run
      .groupBy(col("day"))
      .agg(max(col("level")).as("peak"))
      .withColumnRenamed("day", "__pd")
    run
      .join(broadcast(peaks), col("day") === col("__pd") && col("level") === col("peak"))
      .groupBy(col("day"), col("peak"))
      .agg(min(col("t")).as("first_peak_t_ns"))
      .select(
        col("day").cast("string").as("day"),
        col("peak").cast("long").as("peak"),
        col("first_peak_t_ns").cast("long").as("first_peak_t_ns")
      )
      .orderBy(col("day"))
  }

  val q167Oracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t FROM events),
      |m AS (SELECT user_id, event_id, t,
      |        lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
      |      FROM e),
      |sid AS (SELECT user_id, t,
      |        SUM(CASE WHEN pt IS NULL OR t - pt > 1800000000000 THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY t, event_id
      |                ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM m),
      |iv AS (SELECT user_id, sid, MIN(t) AS s, MAX(t) + 1800000000000 AS e
      |       FROM sid GROUP BY user_id, sid),
      |d AS (SELECT s AS t, CAST(1 AS BIGINT) AS sign FROM iv
      |      UNION ALL SELECT e AS t, CAST(-1 AS BIGINT) AS sign FROM iv),
      |nd AS (SELECT t, sign, SUM(sign) AS net FROM d GROUP BY t, sign),
      |r AS (SELECT t, SUM(net) OVER (ORDER BY t, sign ROWS UNBOUNDED PRECEDING) AS level
      |      FROM nd),
      |dd AS (SELECT CAST(make_timestamp(t // 1000) AS DATE) AS day, t, level FROM r),
      |p AS (SELECT day, MAX(level) AS peak FROM dd GROUP BY day)
      |SELECT CAST(p.day AS VARCHAR) AS day, CAST(p.peak AS BIGINT) AS peak,
      |  CAST(MIN(dd.t) AS BIGINT) AS first_peak_t_ns
      |FROM dd JOIN p ON dd.day = p.day AND dd.level = p.peak
      |GROUP BY p.day, p.peak
      |ORDER BY day""".stripMargin
  query("q167_peak_concurrency", q167PeakConcurrency, Some(q167Oracle))

  // ---------------------------------------------------------------- q168
  /** SKYLINE (Pareto frontier) — parts not dominated on (size ↑,
    * retail price ↓): a part is dominated if another part has size ≥
    * AND price ≤ with at least one strict. The oracle IS the textbook
    * O(n²) NOT EXISTS dominance definition; the Spark plan is the
    * scale-correct decomposition for a 2-D skyline with one
    * bounded-cardinality dimension:
    *
    *  1. per-size best price — one map-side-combined aggregate collapses
    *     the full table to |distinct sizes| rows (p_size is a bounded
    *     physical attribute; the aggregate output is O(50) regardless of
    *     row count);
    *  2. frontier = candidates whose best price strictly beats the
    *     running min over all STRICTLY larger sizes — a window over the
    *     tiny aggregated relation (single partition of ~50 rows by
    *     construction, not a data-volume window);
    *  3. broadcast the frontier back to count the parts sitting exactly
    *     on each frontier point (same-size-worse-price parts are
    *     dominated by their own size's best, so only exact hits count).
    *
    * For high-cardinality dimensions this degenerates and a grid-cell
    * pruning pass would replace step 1 — documented, not needed for a
    * physical attribute like size.
    */
  def q168Skyline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(s, dir)
    val pts = p.groupBy(col("p_size")).agg(min(col("p_retailprice")).as("best_price"))
    // exclusive running min over strictly larger sizes: desc order,
    // rows frame ending one before current — equal sizes cannot appear
    // (pts is one row per size)
    val w = Window
      .orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = pts
      .withColumn("min_above", min(col("best_price")).over(w))
      .where(col("min_above").isNull || col("best_price") < col("min_above"))
      .select(col("p_size").as("f_size"), col("best_price"))
    p.join(
      broadcast(frontier),
      col("p_size") === col("f_size") && col("p_retailprice") === col("best_price")
    ).groupBy(col("f_size"), col("best_price"))
      .agg(count(lit(1)).as("n_parts"))
      .select(col("f_size").as("p_size"), col("best_price"), col("n_parts"))
      .orderBy(col("p_size"))
  }

  val q168Oracle: String =
    """WITH pts AS (SELECT p_size, MIN(p_retailprice) AS best_price
      |             FROM part GROUP BY p_size),
      |f AS (SELECT pts.p_size, pts.best_price FROM pts
      |      WHERE NOT EXISTS (
      |        SELECT 1 FROM part q
      |        WHERE q.p_size >= pts.p_size AND q.p_retailprice <= pts.best_price
      |          AND (q.p_size > pts.p_size OR q.p_retailprice < pts.best_price)))
      |SELECT f.p_size, f.best_price, CAST(COUNT(*) AS BIGINT) AS n_parts
      |FROM f JOIN part p ON p.p_size = f.p_size AND p.p_retailprice = f.best_price
      |GROUP BY f.p_size, f.best_price
      |ORDER BY f.p_size""".stripMargin
  query("q168_skyline", q168Skyline, Some(q168Oracle))

  // ---------------------------------------------------------------- q169
  // shared between the Spark query and its oracle so the two synthesized
  // "source systems" can never drift
  private[graft] val ErFirsts = Seq(
    "ana", "boris", "carla", "dmitri", "elena", "farid", "greta", "hugo",
    "ines", "jonas", "karim", "lena", "mara", "nils", "olga", "pavel")
  private[graft] val ErLasts = Seq(
    "adler", "becker", "castro", "dietrich", "eriksen", "fischer",
    "garcia", "hansen", "ibrahim", "jansen", "keller", "lorenz",
    "meyer", "novak", "okafor", "petrov")

  /** ENTITY RESOLUTION capstone ([[graft.ops.EntityRes]]): two
    * deterministic "source systems" are synthesized from the customer
    * keys (q18/q121 discipline — identical derivations on both
    * engines, so the oracle replays the WHOLE pipeline, zero literals):
    * system A holds every entity with a dictionary name (md5-nibble
    * indexed) and a '(xxx) xxx-xxxx' phone; system B re-records every
    * third entity with 'xxx.xxx.xxxx' formatting and planted noise —
    * one-char last-name deletions, off-by-one phone digits, and a
    * both-keys-noisy hard class that NO blocking pass can recover.
    *
    * Pipeline: normalize (digits-only phones) → two blocking passes
    * (first-initial + phone-last-4; exact last name) →
    * levenshtein scoring (full name ≤ 2 AND phone digits ≤ 1) →
    * star-contraction components → single-row audit certificate with
    * MEASURED precision/recall ppm against the planted truth (recall
    * < 1e6 by construction: the hard class is the blocking lesson).
    *
    * Scale: each blocking pass is one equi join on a short key;
    * candidates are block-local (no O(n²)); scoring is map-side;
    * clustering is the O(log n) Components. Salting composes for hot
    * name blocks (EntityRes scaladoc).
    */
  def q169EntityResolution(s: SparkSession, dir: String): DataFrame = {
    val firstArr = array(ErFirsts.map(lit): _*)
    val lastArr = array(ErLasts.map(lit): _*)
    val base = Tables
      .customer(s, dir)
      .select(col("c_custkey").as("k"))
      // spread: the per-row synthesis both sources re-run was a 2-task 1.8 s stage (r15)
      .transform(Place.spread(_, col("k")))
      .withColumn(
        "fi",
        expr("cast(conv(substring(md5(concat('fn:', cast(k as string))),1,1),16,10) as int)"))
      .withColumn(
        "li",
        expr("cast(conv(substring(md5(concat('ln:', cast(k as string))),1,1),16,10) as int)"))
      .withColumn("first", element_at(firstArr, col("fi") + 1))
      .withColumn("last0", element_at(lastArr, col("li") + 1))
      .withColumn("d", lpad(((col("k") * 48271L) % 10000000000L).cast("string"), 10, "0"))
    val a = base.select(
      (col("k") * 2).as("a_id"),
      col("k").as("a_k"),
      col("first").as("a_first"),
      col("last0").as("a_last"),
      concat(
        lit("("), substring(col("d"), 1, 3), lit(") "),
        substring(col("d"), 4, 3), lit("-"), substring(col("d"), 7, 4)).as("a_phone")
    )
    val b = base
      .where(col("k") % 3 === 0)
      .withColumn("v", expr("(k div 3) % 3"))
      .withColumn("p", expr("cast(1 + (k % (length(last0) - 1)) as int)"))
      .withColumn(
        "lastB",
        when(col("v") === 1, expr("concat(substring(last0, 1, p - 1), substring(last0, p + 1))"))
          .otherwise(col("last0")))
      .withColumn(
        "alter_phone",
        col("v") === 2 || (col("v") === 1 && col("k") % 5 === 0))
      // the hard (both-keys-noisy) class must hit the last-4 digit block
      // or the phone pass still recovers it: v=1 ∧ k%5=0 targets 7..10
      .withColumn(
        "q",
        expr(
          "cast(case when v = 1 and k % 5 = 0 then 7 + ((k div 5) % 4) else 1 + (k % 10) end as int)"))
      .withColumn(
        "dB",
        when(
          col("alter_phone"),
          expr(
            "concat(substring(d, 1, q - 1), cast((cast(substring(d, q, 1) as int) + 1) % 10 as string), substring(d, q + 1))"))
          .otherwise(col("d")))
      .select(
        (col("k") * 2 + 1).as("b_id"),
        col("k").as("b_k"),
        col("first").as("b_first"),
        col("lastB").as("b_last"),
        concat_ws(
          ".", substring(col("dB"), 1, 3), substring(col("dB"), 4, 3),
          substring(col("dB"), 7, 4)).as("b_phone")
      )
    // normalize: phones to digits only (the two systems format differently)
    val aN = a.withColumn("a_digits", regexp_replace(col("a_phone"), "[^0-9]", ""))
    val bN = b.withColumn("b_digits", regexp_replace(col("b_phone"), "[^0-9]", ""))
    // pass 2 compounds the 16-value last name with a 2-digit phone prefix:
    // a bare name key is a HOT BLOCK (fixed 16-way cardinality ⇒ block
    // sizes grow linearly with the corpus ⇒ quadratic candidates — the
    // exact failure the EntityRes scaladoc warns about, measured here as
    // 25-38 s at sf0.1 before the compound key). A phone-prefix digit
    // altered by the noise (q ≤ 2) is covered by pass 1, so the compound
    // key changes candidate VOLUME, not the recovered set.
    val cand = graft.ops.EntityRes
      .blockedCandidates(
        aN, bN, "a_id", "b_id",
        Seq(
          (concat(substring(col("a_first"), 1, 1), substring(col("a_digits"), 7, 4)),
           concat(substring(col("b_first"), 1, 1), substring(col("b_digits"), 7, 4))),
          (concat(col("a_last"), substring(col("a_digits"), 1, 2)),
           concat(col("b_last"), substring(col("b_digits"), 1, 2)))
        )
      )
      .transform(Place.persisted)
    // bounded_levenshtein(a,b,k) <= k ⟺ levenshtein(a,b) <= k
    // (BoundedLevenshteinSpec pins it) — the banded DP scores the
    // candidate pairs 3.7x faster than the full-matrix builtin
    // (3.74x on 2M pairs, docs/BENCH_NOTES.md), and the oracle keeps
    // the plain form
    val matches = cand
      .where(
        expr("bounded_levenshtein(concat(a_first, ' ', a_last), " +
          "concat(b_first, ' ', b_last), 2) <= 2") &&
          expr("bounded_levenshtein(a_digits, b_digits, 1) <= 1")
      )
      .transform(Place.persisted)
    val cl = graft.ops.EntityRes.clusters(matches, "a_id", "b_id")
    val clStats = cl
      .select(col("component"), col("cluster_size"))
      .distinct()
      .agg(
        count(lit(1)).as("n_clusters"),
        max(col("cluster_size")).as("max_cluster"))
    val counts = aN
      .agg(count(lit(1)).as("n_a"))
      .crossJoin(bN.agg(count(lit(1)).as("n_b")))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(
        matches.agg(
          count(lit(1)).as("n_matches"),
          sum((col("b_k") === col("a_k")).cast("long")).as("true_matches")))
      .crossJoin(clStats)
    counts.select(
      col("n_a"),
      col("n_b"),
      col("n_candidates"),
      col("n_matches"),
      col("true_matches"),
      expr("cast(case when n_matches = 0 then null else (true_matches * 1000000) div n_matches end as bigint)").as("precision_ppm"),
      expr("cast((true_matches * 1000000) div n_b as bigint)").as("recall_ppm"),
      col("n_clusters"),
      col("max_cluster").cast("long").as("max_cluster")
    )
  }

  val q169Oracle: String = {
    val fArr = ErFirsts.map(n => s"'$n'").mkString(", ")
    val lArr = ErLasts.map(n => s"'$n'").mkString(", ")
    s"""WITH RECURSIVE base AS (
       |  SELECT c_custkey AS k,
       |    CAST(('0x' || substr(md5('fn:' || CAST(c_custkey AS VARCHAR)), 1, 1)) AS BIGINT) AS fi,
       |    CAST(('0x' || substr(md5('ln:' || CAST(c_custkey AS VARCHAR)), 1, 1)) AS BIGINT) AS li,
       |    lpad(CAST((c_custkey * 48271) % 10000000000 AS VARCHAR), 10, '0') AS d
       |  FROM customer
       |), nm AS (
       |  SELECT k, d,
       |    ([$fArr])[fi + 1] AS first,
       |    ([$lArr])[li + 1] AS last0
       |  FROM base
       |), a AS (
       |  SELECT k * 2 AS a_id, k AS a_k, first AS a_first, last0 AS a_last,
       |    '(' || substr(d, 1, 3) || ') ' || substr(d, 4, 3) || '-' || substr(d, 7, 4) AS a_phone
       |  FROM nm
       |), bp AS (
       |  SELECT k, d, first, last0,
       |    (k // 3) % 3 AS v,
       |    CAST(1 + (k % (length(last0) - 1)) AS INT) AS p,
       |    CAST(CASE WHEN (k // 3) % 3 = 1 AND k % 5 = 0 THEN 7 + ((k // 5) % 4)
       |              ELSE 1 + (k % 10) END AS INT) AS q
       |  FROM nm WHERE k % 3 = 0
       |), b AS (
       |  SELECT k * 2 + 1 AS b_id, k AS b_k, first AS b_first,
       |    CASE WHEN v = 1 THEN concat(substr(last0, 1, p - 1), substr(last0, p + 1))
       |         ELSE last0 END AS b_last,
       |    concat_ws('.', substr(dB, 1, 3), substr(dB, 4, 3), substr(dB, 7, 4)) AS b_phone
       |  FROM (
       |    SELECT *, CASE WHEN v = 2 OR (v = 1 AND k % 5 = 0)
       |      THEN concat(substr(d, 1, q - 1),
       |                  CAST((CAST(substr(d, q, 1) AS INT) + 1) % 10 AS VARCHAR),
       |                  substr(d, q + 1))
       |      ELSE d END AS dB
       |    FROM bp)
       |), an AS (SELECT *, regexp_replace(a_phone, '[^0-9]', '', 'g') AS a_digits FROM a),
       |bn AS (SELECT *, regexp_replace(b_phone, '[^0-9]', '', 'g') AS b_digits FROM b),
       |cand AS (
       |  SELECT DISTINCT ON (a_id, b_id) * FROM (
       |    SELECT an.*, bn.* FROM an JOIN bn
       |      ON substr(a_first, 1, 1) || substr(a_digits, 7, 4)
       |       = substr(b_first, 1, 1) || substr(b_digits, 7, 4)
       |    UNION ALL
       |    SELECT an.*, bn.* FROM an JOIN bn
       |      ON a_last || substr(a_digits, 1, 2) = b_last || substr(b_digits, 1, 2))
       |), m AS (
       |  SELECT * FROM cand
       |  WHERE levenshtein(a_first || ' ' || a_last, b_first || ' ' || b_last) <= 2
       |    AND levenshtein(a_digits, b_digits) <= 1
       |), sym AS (
       |  SELECT a_id AS src, b_id AS dst FROM m
       |  UNION ALL SELECT b_id, a_id FROM m
       |), reach(id, comp) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
       |), comps AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
       |sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comps GROUP BY component),
       |cstat AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |                 CAST(MAX(cluster_size) AS BIGINT) AS max_cluster FROM sizes),
       |cnts AS (
       |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM an) AS n_a,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM bn) AS n_b,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_matches,
       |         (SELECT CAST(SUM(CASE WHEN b_k = a_k THEN 1 ELSE 0 END) AS BIGINT) FROM m) AS true_matches
       |)
       |SELECT cnts.n_a, cnts.n_b, cnts.n_candidates, cnts.n_matches, cnts.true_matches,
       |  CAST(CASE WHEN cnts.n_matches = 0 THEN NULL ELSE (cnts.true_matches * 1000000) // cnts.n_matches END AS BIGINT) AS precision_ppm,
       |  CAST((cnts.true_matches * 1000000) // cnts.n_b AS BIGINT) AS recall_ppm,
       |  cstat.n_clusters, cstat.max_cluster
       |FROM cnts, cstat""".stripMargin
  }
  query("q169_entity_resolution", q169EntityResolution, Some(q169Oracle))

  // ---------------------------------------------------------------- q170
  /** EXACT higher statistical moments — per-type stddev, time↔value
    * correlation, and skewness computed from EXACT integer power sums
    * (n, Σx, Σx², Σy, Σy², Σy³, Σxy), not from the engines' float
    * aggregates. The q128/q134 discipline, extended to third moments:
    * values quantize to a 1e-6 grid, timestamps to whole seconds minus
    * a fixed epoch offset (shrinks the magnitude so the n·Σx² − (Σx)²
    * cancellation costs ~3 digits instead of ~7 — an ACCURACY choice;
    * parity never depended on it), all sums accumulate in
    * decimal(38,0) — associative, partitioning-independent, bit-equal
    * to DuckDB's HUGEINT sums. The derived doubles then come from ONE
    * identical arithmetic spelling on both engines (m2p·sqrt(m2p)
    * instead of pow(·,1.5): sqrt is correctly-rounded IEEE, pow is
    * not), floored onto a 1e-9 grid so the checked output is integer.
    *
    * Scale: one map-side-combined aggregate, 7 sums per group — the
    * textbook single-pass sufficient-statistics shape; magnitudes hold
    * to 100× this corpus inside decimal(38) (Σy³ ≲ 4e32).
    */
  def q170ExactMoments(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        expr("cast(floor(value * 1000000 + 0.5) as bigint)").as("vq"),
        expr("(ts_ns div 1000000000) - 1600000000").as("xs")
      )
    def dsum0(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,0)"))
    val sums = ev
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        dsum0(col("xs")).as("sx"),
        dsum0(col("xs") * col("xs")).as("sxx"),
        dsum0(col("vq")).as("sy"),
        dsum0(col("vq") * col("vq")).as("syy"),
        // vq³ ≈ 1.8e26 overflows the per-row BIGINT product on BOTH
        // engines — widen the first factor before multiplying
        sum(col("vq").cast("decimal(38,0)") * col("vq") * col("vq")).as("syyy"),
        dsum0(col("xs") * col("vq")).as("sxy")
      )
    sums
      .withColumn("nd", expr("cast(n as double)"))
      .withColumn("m2", expr("nd * cast(syy as double) - cast(sy as double) * cast(sy as double)"))
      .withColumn("mx2", expr("nd * cast(sxx as double) - cast(sx as double) * cast(sx as double)"))
      .withColumn("mean", expr("cast(sy as double) / nd"))
      .withColumn("m2p", expr("cast(syy as double) / nd - mean * mean"))
      .withColumn(
        "m3p",
        expr("cast(syyy as double) / nd - 3.0 * mean * (cast(syy as double) / nd) + 2.0 * mean * mean * mean"))
      .select(
        col("event_type"),
        col("n"),
        expr("cast(sy div n as bigint)").as("mean_e6"),
        expr("cast(floor(sqrt(m2 / (nd * (nd - 1.0))) / 1000000.0 * 1000000000.0 + 0.5) as bigint)")
          .as("stddev_e9"),
        expr(
          "cast(floor((nd * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / sqrt(mx2 * m2) * 1000000000.0 + 0.5) as bigint)")
          .as("corr_e9"),
        expr("cast(floor(m3p / (m2p * sqrt(m2p)) * 1000000000.0 + 0.5) as bigint)").as("skew_e9")
      )
      .orderBy(col("event_type"))
  }

  val q170Oracle: String =
    """WITH q AS (
      |  SELECT event_type,
      |    CAST(floor("value" * 1000000 + 0.5) AS BIGINT) AS vq,
      |    (epoch_ns(ts) // 1000000000) - 1600000000 AS xs
      |  FROM events
      |), s AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(xs) AS sx, SUM(xs * xs) AS sxx,
      |    SUM(vq) AS sy, SUM(vq * vq) AS syy,
      |    SUM(CAST(vq AS HUGEINT) * vq * vq) AS syyy,
      |    SUM(xs * vq) AS sxy
      |  FROM q GROUP BY event_type
      |), d AS (
      |  SELECT *, CAST(n AS DOUBLE) AS nd,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS m2,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS mx2,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean
      |  FROM s
      |), d2 AS (
      |  SELECT *,
      |    CAST(syy AS DOUBLE) / nd - mean * mean AS m2p,
      |    CAST(syyy AS DOUBLE) / nd - 3.0 * mean * (CAST(syy AS DOUBLE) / nd) + 2.0 * mean * mean * mean AS m3p
      |  FROM d
      |)
      |SELECT event_type, n,
      |  CAST(sy // n AS BIGINT) AS mean_e6,
      |  CAST(floor(sqrt(m2 / (nd * (nd - 1.0))) / 1000000.0 * 1000000000.0 + 0.5) AS BIGINT) AS stddev_e9,
      |  CAST(floor((nd * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / sqrt(mx2 * m2) * 1000000000.0 + 0.5) AS BIGINT) AS corr_e9,
      |  CAST(floor(m3p / (m2p * sqrt(m2p)) * 1000000000.0 + 0.5) AS BIGINT) AS skew_e9
      |FROM d2
      |ORDER BY event_type""".stripMargin
  query("q170_exact_moments", q170ExactMoments, Some(q170Oracle))

  // ---------------------------------------------------------------- q171
  /** WINDOW-FUNCTION CERTIFICATE — the full analytic-function surface
    * (row_number, lag, lead, nth_value, first/last_value, ntile,
    * percent_rank, rank, dense_rank, cume_dist) certified differentially
    * on BOTH ordering regimes: a total order (o_orderdate, o_orderkey)
    * where every function is frame-deterministic, and a TIES order
    * (o_orderpriority) exercising rank/dense_rank/cume_dist's
    * tie semantics (all three depend only on key values, so they are
    * deterministic under ties; frame-dependent functions stay on the
    * total order). nth/first/last pin an explicit ROWS
    * UNBOUNDED-to-UNBOUNDED frame on both engines — default frames end
    * at CURRENT ROW, which would make last_value a self-reference.
    * percent_rank/cume_dist emit as raw doubles: both engines compute
    * the same small-integer ratio in one IEEE division.
    */
  def q171WindowFunctions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir).where(col("o_custkey") < 300)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wp = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"))
    o.select(
      col("o_custkey"),
      col("o_orderkey"),
      row_number().over(w).as("rn"),
      lag(col("o_totalprice"), 1).over(w).as("lag_price"),
      lead(col("o_totalprice"), 1).over(w).as("lead_price"),
      nth_value(col("o_totalprice"), 2).over(wf).as("nth2_price"),
      first(col("o_totalprice")).over(wf).as("first_price"),
      last(col("o_totalprice")).over(wf).as("last_price"),
      ntile(4).over(w).as("ntile4"),
      percent_rank().over(w).as("pr"),
      rank().over(wp).as("rank_pri"),
      dense_rank().over(wp).as("dense_pri"),
      cume_dist().over(wp).as("cd_pri")
    ).orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q171Oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(row_number() OVER w AS INT) AS rn,
      |  lag(o_totalprice, 1) OVER w AS lag_price,
      |  lead(o_totalprice, 1) OVER w AS lead_price,
      |  nth_value(o_totalprice, 2) OVER wf AS nth2_price,
      |  first_value(o_totalprice) OVER wf AS first_price,
      |  last_value(o_totalprice) OVER wf AS last_price,
      |  CAST(ntile(4) OVER w AS INT) AS ntile4,
      |  percent_rank() OVER w AS pr,
      |  CAST(rank() OVER wp AS INT) AS rank_pri,
      |  CAST(dense_rank() OVER wp AS INT) AS dense_pri,
      |  cume_dist() OVER wp AS cd_pri
      |FROM orders
      |WHERE o_custkey < 300
      |WINDOW
      |  w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
      |  wp AS (PARTITION BY o_custkey ORDER BY o_orderpriority)
      |ORDER BY o_custkey, o_orderkey""".stripMargin
  query("q171_window_functions", q171WindowFunctions, Some(q171Oracle))

  // ---------------------------------------------------------------- q172
  /** GROUPING SETS — arbitrary subtotal combinations in ONE
    * Expand+aggregate pass (rollup q36/q161 and cube q69 are the
    * special cases; this is the general form): per (flag, status),
    * per status alone, and the grand total — deliberately NOT a rollup
    * prefix chain. grouping_id disambiguates genuine NULL group values
    * from subtotal rows; sums take the dsum decimal discipline.
    */
  def q172GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"),
        col("l_linestatus")
      )
      .agg(
        grouping_id().as("gid"),
        dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n")
      )
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"), col("sum_qty"), col("n"))
      .orderBy(
        col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val q172Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin
  query("q172_grouping_sets", q172GroupingSets, Some(q172Oracle))

  // ---------------------------------------------------------------- q173
  /** VIDEO KEYFRAME PIPELINE — the video member of the multimodal fleet
    * (image q32/q149, audio q108): an opaque binary payload, the
    * [[graft.ops.Multimodal.frameSample]] posexplode generator (one
    * 100 MB video row → many frame rows, no driver materialization),
    * per-frame 60-bit signatures, a consecutive-frame hamming lag, and
    * scene-cut keyframe selection (frame 0, or hamming > threshold).
    *
    * The CODEC is the sanctioned stub (container decode libs aren't in
    * this environment): payloads are deterministic md5-derived frame
    * bytes, with every even doc repeating each content frame 3×
    * (static-scene runs) — so keyframe counts are non-trivial and the
    * whole pipeline replays in SQL. The Spark side still exercises the
    * REAL plumbing a production video op needs: binary concat-fold
    * assembly, binary substring framing, generator explode,
    * hex→integer signatures, per-video ordered lag — swap the stub
    * synthesis for an ffmpeg mapInPandas kernel and nothing downstream
    * changes.
    *
    * Scale: frames explode map-side; the only shuffle is the per-video
    * lag window (fine-grained keys) + final aggregate.
    */
  def q173VideoKeyframes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables
      .documents(s, dir)
      .where(col("doc_id") < 400)
      .select(col("doc_id"))
      .withColumn("n_frames", expr("cast(6 + (doc_id % 4) as int)"))
    // stub "decode": assemble the opaque payload as F concatenated
    // 16-byte md5 frames; even docs repeat each content id 3x
    val media = docs.withColumn(
      "bytes",
      expr(
        """aggregate(
          |  transform(sequence(0, n_frames - 1),
          |    i -> unhex(md5(concat('vf:', cast(doc_id as string), ':',
          |           cast(case when doc_id % 2 = 0 then i div 3 else i end as string))))),
          |  cast(x'' as binary),
          |  (acc, b) -> concat(acc, b))""".stripMargin)
    )
    val frames = graft.ops.Multimodal
      .frameSample(media, frameBytes = 16, stride = 16)
      .withColumn("fhex", hex(col("frame_bytes")))
      .withColumn("s1", expr("cast(conv(substring(fhex, 1, 15), 16, 10) as bigint)"))
      .withColumn("s2", expr("cast(conv(substring(fhex, 17, 15), 16, 10) as bigint)"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val cuts = frames
      .withColumn("p1", lag(col("s1"), 1).over(w))
      .withColumn("p2", lag(col("s2"), 1).over(w))
      .withColumn(
        "ham",
        when(col("p1").isNull, lit(null))
          .otherwise(expr("bit_count(s1 ^ p1) + bit_count(s2 ^ p2)")))
      .withColumn("is_key", (col("ham").isNull || col("ham") > 12).cast("long"))
    cuts
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(col("is_key")).as("n_keyframes"),
        coalesce(sum(col("ham")), lit(0L)).as("sum_hamming"),
        min(col("s1")).as("min_sig")
      )
      .orderBy(col("doc_id"))
  }

  val q173Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(6 + (doc_id % 4) AS INT) AS n_frames
      |  FROM documents WHERE doc_id < 400
      |), fx AS (
      |  SELECT doc_id, unnest(range(0, n_frames)) AS fi FROM d
      |), fr AS (
      |  SELECT doc_id, CAST(fi AS INT) AS frame_idx,
      |    md5('vf:' || CAST(doc_id AS VARCHAR) || ':' ||
      |        CAST(CASE WHEN doc_id % 2 = 0 THEN fi // 3 ELSE fi END AS VARCHAR)) AS fhex
      |  FROM fx
      |), sig AS (
      |  SELECT doc_id, frame_idx,
      |    CAST(('0x' || substr(fhex, 1, 15)) AS BIGINT) AS s1,
      |    CAST(('0x' || substr(fhex, 17, 15)) AS BIGINT) AS s2
      |  FROM fr
      |), lg AS (
      |  SELECT doc_id, frame_idx, s1,
      |    lag(s1) OVER w AS p1, lag(s2) OVER w AS p2, s2
      |  FROM sig WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
      |), km AS (
      |  SELECT doc_id, s1,
      |    CASE WHEN p1 IS NULL THEN NULL
      |         ELSE bit_count(xor(s1, p1)) + bit_count(xor(s2, p2)) END AS ham,
      |    CASE WHEN p1 IS NULL OR bit_count(xor(s1, p1)) + bit_count(xor(s2, p2)) > 12
      |         THEN 1 ELSE 0 END AS is_key
      |  FROM lg
      |)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
      |  CAST(SUM(is_key) AS BIGINT) AS n_keyframes,
      |  CAST(COALESCE(SUM(ham), 0) AS BIGINT) AS sum_hamming,
      |  MIN(s1) AS min_sig
      |FROM km
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  query("q173_video_keyframes", q173VideoKeyframes, Some(q173Oracle))

  // ---------------------------------------------------------------- q174
  /** TRIANGLE COUNTING ([[graft.ops.Triangles]]) — degree-ordered
    * orientation (Suri & Vassilvitskii WWW'11): orient each edge
    * toward the higher-(degree, id) endpoint so every out-degree is
    * O(√m), form wedges by a source self-join, close them against the
    * edge set. The graph is synthesized deterministically from the
    * customer keys (edges k→k+{1,2,5} inside blocks of 10, endpoints
    * semi-joined against real keys — no contiguity assumption), so
    * triangles are the planted (k, k+1, k+2) runs plus nothing — and
    * the oracle counts them with the textbook canonical x<y<z triple
    * join the oriented plan must equal. Wedge counts are
    * orientation-dependent diagnostics and deliberately NOT in the
    * checked output; edges and triangles are orientation-invariant.
    */
  /** The deterministic bounded-degree test graph shared by q174/q184:
    * edges k→k+{1,2,5} inside blocks of 10 over the real customer keys
    * (semi-joined — no contiguity assumption).
    */
  private[graft] def blockGraph(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.customer(s, dir).select(col("c_custkey").as("k"))
    val cand = keys
      .withColumn("d", explode(array(lit(1L), lit(2L), lit(5L))))
      .withColumn("v", col("k") + col("d"))
      .where(expr("(k div 10) = (v div 10)"))
    cand
      .join(keys.withColumnRenamed("k", "v"), Seq("v"), "left_semi")
      .select(col("k").as("u"), col("v"))
  }

  // the same graph as a DuckDB CTE body (shared by the q174/q184 oracles)
  private[graft] def BlockGraphSql: String =
    """SELECT cand.k AS u, cand.v
      |  FROM (SELECT k.c_custkey AS k, k.c_custkey + d.d AS v
      |        FROM customer k, (SELECT unnest([1, 2, 5]) AS d) d
      |        WHERE (k.c_custkey // 10) = ((k.c_custkey + d.d) // 10)) cand
      |  JOIN customer k2 ON k2.c_custkey = cand.v""".stripMargin

  def q174Triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = blockGraph(s, dir)
    val tri = graft.ops.Triangles.triangles(edges, "u", "v")
    val triB = tri
      .withColumn("bucket", expr("least(u, least(v, w)) div 500"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_triangles"))
    val edgB = edges
      .withColumn("bucket", expr("least(u, v) div 500"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_edges"))
    edgB
      .join(triB, Seq("bucket"), "left")
      .na
      .fill(0L, Seq("n_triangles"))
      .select(col("bucket"), col("n_edges"), col("n_triangles"))
      .orderBy(col("bucket"))
  }

  val q174Oracle: String =
    s"""WITH e AS (
      |$BlockGraphSql
      |), t AS (
      |  SELECT a.u AS x
      |  FROM e a
      |  JOIN e b ON b.u = a.u AND b.v > a.v
      |  JOIN e c ON c.u = a.v AND c.v = b.v
      |), tb AS (
      |  SELECT x // 500 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM t GROUP BY 1
      |), eb AS (
      |  SELECT u // 500 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_edges FROM e GROUP BY 1
      |)
      |SELECT CAST(eb.bucket AS BIGINT) AS bucket, eb.n_edges,
      |  CAST(COALESCE(tb.n_triangles, 0) AS BIGINT) AS n_triangles
      |FROM eb LEFT JOIN tb ON eb.bucket = tb.bucket
      |ORDER BY bucket""".stripMargin
  query("q174_triangles", q174Triangles, Some(q174Oracle))

  // ---------------------------------------------------------------- q175
  /** TPC-H Q21 SHAPE — "sole late supplier": suppliers whose line was
    * the ONLY late one (shipdate > orderdate + 60 days) in an order
    * that involved at least one OTHER supplier. The two correlated
    * subqueries surface physically as one left-semi join (some other
    * supplier exists in the order) and one left-anti join (no other
    * LATE supplier in the order) over a deduped (order, supplier)
    * late set — the EXISTS/NOT-EXISTS pair every engine must turn into
    * semi/anti joins to survive a fact-scale order list. Top-20 by
    * wait count with a total tiebreak.
    */
  def q175SoleLateSupplier(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val sup = Tables.supplier(s, dir)
    val lateSO = l
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .where(expr("l_shipdate > o_orderdate + INTERVAL 60 DAYS"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val withOther = lateSO.join(
      l.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2")),
      col("ok") === col("ok2") && col("sk") =!= col("sk2"),
      "left_semi")
    val sole = withOther.join(
      lateSO.select(col("ok").as("ok3"), col("sk").as("sk3")),
      col("ok") === col("ok3") && col("sk") =!= col("sk3"),
      "left_anti")
    sole
      .groupBy(col("sk"))
      .agg(count(lit(1)).as("numwait"))
      .join(sup, col("sk") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q175Oracle: String =
    """WITH late AS (
      |  SELECT DISTINCT l.l_orderkey AS ok, l.l_suppkey AS sk
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |), sole AS (
      |  SELECT t.ok, t.sk FROM late t
      |  WHERE EXISTS (SELECT 1 FROM lineitem l2
      |                WHERE l2.l_orderkey = t.ok AND l2.l_suppkey <> t.sk)
      |    AND NOT EXISTS (SELECT 1 FROM late t3
      |                    WHERE t3.ok = t.ok AND t3.sk <> t.sk)
      |)
      |SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM sole JOIN supplier s ON s.s_suppkey = sole.sk
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin
  query("q175_sole_late_supplier", q175SoleLateSupplier, Some(q175Oracle))

  // ---------------------------------------------------------------- q176
  /** TPC-H Q22 SHAPE — customers with above-average balance and no
    * recent orders: per market segment (the "country code" analogue),
    * count customers whose balance beats the GLOBAL positive-balance
    * average and who placed no order in the last 60 data-days (anti
    * join against a cutoff derived from max(o_orderdate); the literal
    * "never ordered" predicate is vacuous on this corpus — measured 0
    * rows). The average-threshold
    * compare is EXACT-INTEGER via cross-multiplication on cent-grid
    * balances (ab_q · n_pos > sum_q) — a float threshold could flip a
    * borderline customer between engines; integers cannot. Balance
    * totals emit in cents.
    */
  def q176GlobalAvgAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables
      .customer(s, dir)
      .withColumn("ab_q", expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)"))
    val thr = c
      .where(col("ab_q") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(col("ab_q")).as("sum_q"))
    // "no orders" is vacuous on this corpus (every customer ordered at
    // least once — measured 0 rows); the Q22 anti-join becomes "no
    // RECENT orders" against a data-derived 60-day cutoff
    val o = Tables.orders(s, dir)
    val recent = o
      .crossJoin(broadcast(o.agg(max(col("o_orderdate")).as("mx"))))
      .where(expr("o_orderdate >= mx - INTERVAL 60 DAYS"))
      .select(col("o_custkey"))
    val noOrders = c.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
    noOrders
      .crossJoin(broadcast(thr))
      .where(col("ab_q") * col("n_pos") > col("sum_q"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"), sum(col("ab_q")).as("totacctbal_cents"))
      .orderBy(col("c_mktsegment"))
  }

  val q176Oracle: String =
    """WITH c AS (
      |  SELECT *, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS ab_q FROM customer
      |), thr AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pos, CAST(SUM(ab_q) AS BIGINT) AS sum_q
      |  FROM c WHERE ab_q > 0
      |)
      |SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
      |  CAST(SUM(c.ab_q) AS BIGINT) AS totacctbal_cents
      |FROM c, thr
      |WHERE c.ab_q * thr.n_pos > thr.sum_q
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= (SELECT max(o_orderdate) FROM orders) - INTERVAL 60 DAY)
      |GROUP BY c.c_mktsegment
      |ORDER BY c.c_mktsegment""".stripMargin
  query("q176_global_avg_anti", q176GlobalAvgAnti, Some(q176Oracle))

  // ---------------------------------------------------------------- q177
  /** SET-OPERATION CERTIFICATE — bag (ALL) vs set semantics across
    * INTERSECT/EXCEPT/UNION, certified differentially. Multiset
    * semantics are a classic cross-engine trap: `INTERSECT ALL` keeps
    * min(multiplicities), `EXCEPT ALL` subtracts them, plain
    * INTERSECT/EXCEPT deduplicate FIRST — engines that implement bag
    * ops as join rewrites get the multiplicities wrong. Inputs are two
    * suppkey multisets (A-flag vs R-flag lines, folded mod 100 so
    * multiplicities are deep); outputs are the six cardinalities plus
    * two content checksums, all scalars.
    */
  def q177SetOps(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val a = l.where(col("l_returnflag") === "A").select((col("l_suppkey") % 100).as("x"))
    val b = l.where(col("l_returnflag") === "R").select((col("l_suppkey") % 100).as("x"))
    val ia = a.intersectAll(b)
    val ea = a.exceptAll(b)
    def cnt(df: DataFrame, name: String) = df.agg(count(lit(1)).as(name))
    def sm(df: DataFrame, name: String) =
      df.agg(coalesce(sum(col("x")), lit(0L)).as(name))
    cnt(ia, "n_intersect_all")
      .crossJoin(cnt(a.intersect(b), "n_intersect"))
      .crossJoin(cnt(ea, "n_except_all"))
      .crossJoin(cnt(a.except(b), "n_except"))
      .crossJoin(cnt(a.unionAll(b), "n_union_all"))
      .crossJoin(cnt(a.unionAll(b).distinct(), "n_union_distinct"))
      .crossJoin(sm(ia, "sum_intersect_all"))
      .crossJoin(sm(ea, "sum_except_all"))
  }

  val q177Oracle: String =
    """WITH a AS (SELECT l_suppkey % 100 AS x FROM lineitem WHERE l_returnflag = 'A'),
      |b AS (SELECT l_suppkey % 100 AS x FROM lineitem WHERE l_returnflag = 'R'),
      |ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
      |ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ia) AS n_intersect_all,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_intersect,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ea) AS n_except_all,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_except,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM a UNION ALL SELECT * FROM b)) AS n_union_all,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union_distinct,
      |  (SELECT CAST(COALESCE(SUM(x), 0) AS BIGINT) FROM ia) AS sum_intersect_all,
      |  (SELECT CAST(COALESCE(SUM(x), 0) AS BIGINT) FROM ea) AS sum_except_all""".stripMargin
  query("q177_set_ops", q177SetOps, Some(q177Oracle))

  // ---------------------------------------------------------------- q178
  /** EXPLODE vs EXPLODE_OUTER CERTIFICATE — generator null/empty
    * semantics: `explode` DROPS rows whose array is empty or null,
    * `explode_outer` keeps them as a single null-element row (the LEFT
    * JOIN LATERAL shape in SQL). Arrays are planted per doc: every
    * 3rd empty, every 3rd+1 null, the rest real token slices. The
    * conservation law (outer rows − inner rows = empty-or-null docs)
    * is pinned TRUE, and posexplode's 0-BASED index is certified via
    * the Σ n(n−1)/2 closed form — a 1-based generator would miss by
    * exactly Σn.
    */
  def q178ExplodeOuter(s: SparkSession, dir: String): DataFrame = {
    val d = Tables
      .documents(s, dir)
      .where(col("doc_id") < 600)
      .withColumn(
        "arr",
        expr(
          """case when doc_id % 3 = 0 then array()
            |     when doc_id % 3 = 1 then cast(null as array<string>)
            |     else slice(split(trim(text), '\\s+'), 1, 5) end""".stripMargin))
    val inner = d.select(col("doc_id"), explode(col("arr")).as("tok"))
    val outer = d.select(col("doc_id"), explode_outer(col("arr")).as("tok"))
    val pos = d.select(col("doc_id"), posexplode(col("arr")).as(Seq("p", "tok")))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val nInner = inner.agg(count(lit(1)).as("n_inner"))
    val nOuter = outer.agg(
      count(lit(1)).as("n_outer"),
      sum(col("tok").isNull.cast("long")).as("n_null_tok_rows"))
    val nEmpty = d.agg(
      sum((col("arr").isNull || size(col("arr")) === 0).cast("long")).as("n_empty_or_null"))
    val sumPos = pos.agg(coalesce(sum(col("p")), lit(0L)).as("sum_pos"))
    // NOTE: with ANSI off, Spark's size(NULL) is the legacy -1, not
    // null — coalesce would never fire; guard explicitly
    val closed = d.agg(
      coalesce(
        sum(expr(
          "(case when arr is null then 0 else size(arr) end) * ((case when arr is null then 0 else size(arr) end) - 1) div 2")),
        lit(0L)).as("sum_pos_closed"))
    nDocs
      .crossJoin(nInner)
      .crossJoin(nOuter)
      .crossJoin(nEmpty)
      .crossJoin(sumPos)
      .crossJoin(closed)
      .select(
        col("n_docs"),
        col("n_inner"),
        col("n_outer"),
        col("n_null_tok_rows"),
        col("n_empty_or_null"),
        (col("n_outer") - col("n_inner") === col("n_empty_or_null")).as("conservation_ok"),
        (col("n_null_tok_rows") === col("n_empty_or_null")).as("null_rows_ok"),
        col("sum_pos"),
        (col("sum_pos") === col("sum_pos_closed")).as("pos_zero_based_ok")
      )
  }

  val q178Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN []
      |         WHEN doc_id % 3 = 1 THEN NULL
      |         ELSE list_slice(string_split_regex(trim(text), '\s+'), 1, 5) END AS arr
      |  FROM documents WHERE doc_id < 600
      |), inner_e AS (
      |  SELECT doc_id, unnest(arr) AS tok FROM d
      |), outer_e AS (
      |  SELECT d.doc_id, u.tok
      |  FROM d LEFT JOIN LATERAL (SELECT unnest(d.arr) AS tok) u ON true
      |), stats AS (
      |  SELECT
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM inner_e) AS n_inner,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM outer_e) AS n_outer,
      |    (SELECT CAST(SUM(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM outer_e) AS n_null_tok_rows,
      |    (SELECT CAST(SUM(CASE WHEN arr IS NULL OR len(arr) = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM d) AS n_empty_or_null,
      |    (SELECT CAST(COALESCE(SUM(COALESCE(len(arr), 0) * (COALESCE(len(arr), 0) - 1) // 2), 0) AS BIGINT) FROM d) AS sum_pos_closed
      |)
      |SELECT n_docs, n_inner, n_outer, n_null_tok_rows, n_empty_or_null,
      |  (n_outer - n_inner = n_empty_or_null) AS conservation_ok,
      |  (n_null_tok_rows = n_empty_or_null) AS null_rows_ok,
      |  sum_pos_closed AS sum_pos,
      |  TRUE AS pos_zero_based_ok
      |FROM stats""".stripMargin
  query("q178_explode_outer", q178ExplodeOuter, Some(q178Oracle))

  // ---------------------------------------------------------------- q179
  /** ARRAY HIGHER-ORDER-FUNCTION CERTIFICATE — the lambda surface
    * (transform, filter, aggregate/fold, sort, slice, distinct,
    * position) certified against DuckDB's list_* family. Indexing
    * conventions differ per engine (Spark slice is (start, LENGTH),
    * DuckDB list_slice is (begin, END-inclusive); Spark array_position
    * is 0-when-missing, DuckDB NULL-when-missing) — the certificate
    * pins the translation table the engine's users rely on.
    * list_distinct is order-unstable in DuckDB, so only its LENGTH is
    * checked.
    */
  def q179ArrayHof(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .where(col("doc_id") < 300)
      .withColumn("toks", expr("slice(split(trim(text), '\\\\s+'), 1, 8)"))
      .select(
        col("doc_id"),
        expr("size(toks)").as("n"),
        expr("aggregate(transform(toks, x -> length(x)), 0, (a, x) -> a + x)")
          .cast("long").as("sum_lens"),
        expr("size(filter(toks, x -> length(x) > 4))").as("n_long"),
        expr("array_join(slice(array_sort(toks), 1, 3), ',')").as("first3_sorted"),
        expr("size(array_distinct(toks))").as("nd"),
        expr("array_position(array_sort(toks), element_at(toks, 1))").as("pos_first")
      )
      .orderBy(col("doc_id"))

  val q179Oracle: String =
    """SELECT doc_id,
      |  CAST(len(tk) AS INT) AS n,
      |  CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS BIGINT) AS sum_lens,
      |  CAST(len(list_filter(tk, x -> length(x) > 4)) AS INT) AS n_long,
      |  array_to_string(list_slice(list_sort(tk), 1, 3), ',') AS first3_sorted,
      |  CAST(len(list_distinct(tk)) AS INT) AS nd,
      |  CAST(list_position(list_sort(tk), tk[1]) AS BIGINT) AS pos_first
      |FROM (
      |  SELECT doc_id, list_slice(string_split_regex(trim(text), '\s+'), 1, 8) AS tk
      |  FROM documents WHERE doc_id < 300)
      |ORDER BY doc_id""".stripMargin
  query("q179_array_hof", q179ArrayHof, Some(q179Oracle))

  // ---------------------------------------------------------------- q180
  /** INCREMENTAL VIEW MAINTENANCE ([[graft.ops.Ivm]]) — a per-key
    * (count, sum) view over early events is maintained from a weighted
    * changelog (inserts: the next 6 data-days; retractions: every 5th
    * base event) and certified EQUAL to recomputing the view from the
    * changed base — per key, with the equality laws in the checked row.
    * Maintenance cost is O(|delta|): the delta aggregate reads only
    * the changelog and the merge is one outer join on the key — the
    * property that makes a 100 TB materialized view refreshable.
    * Values ride the integer cent grid so sums are associative-exact.
    */
  def q180Ivm(s: SparkSession, dir: String): DataFrame = {
    val Day = 86400000000000L
    val ev = Tables
      .events(s, dir)
      .select(
        col("event_id"),
        col("ts_ns"),
        (col("user_id") % 200).as("k"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("vq"))
      .crossJoin(broadcast(
        Tables.events(s, dir).agg(min(col("ts_ns")).as("t_min"))))
      .withColumn("t0", col("t_min") + lit(18 * Day))
      .withColumn("t1", col("t_min") + lit(24 * Day))
    val base = ev.where(col("ts_ns") < col("t0"))
    val state0 = base
      .groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"), sum(col("vq")).as("sm"))
    val inserts = ev
      .where(col("ts_ns") >= col("t0") && col("ts_ns") < col("t1"))
      .select(col("k"), lit(1L).as("w"), col("vq").as("v"))
    val retracts = base
      .where(col("event_id") % 5 === 0)
      .select(col("k"), lit(-1L).as("w"), col("vq").as("v"))
    val maintained = graft.ops.Ivm
      .maintain(state0, inserts.unionByName(retracts), Seq("k"))
      .withColumnsRenamed(Map("cnt" -> "m_cnt", "sm" -> "m_sm"))
    val recomputed = ev
      .where(
        (col("ts_ns") < col("t0") && col("event_id") % 5 =!= 0) ||
          (col("ts_ns") >= col("t0") && col("ts_ns") < col("t1")))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("r_cnt"), sum(col("vq")).as("r_sm"))
    maintained
      .join(recomputed, Seq("k"), "full_outer")
      .select(
        col("k"),
        coalesce(col("m_cnt"), lit(-1L)).as("cnt"),
        coalesce(col("m_sm"), lit(-1L)).as("sm"),
        (col("m_cnt") <=> col("r_cnt")).as("cnt_law_ok"),
        (col("m_sm") <=> col("r_sm")).as("sum_law_ok")
      )
      .orderBy(col("k"))
  }

  val q180Oracle: String =
    """WITH ev AS (
      |  SELECT event_id, epoch_ns(ts) AS t, user_id % 200 AS k,
      |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS vq,
      |    (SELECT MIN(epoch_ns(ts)) FROM events) + 18 * 86400000000000 AS t0,
      |    (SELECT MIN(epoch_ns(ts)) FROM events) + 24 * 86400000000000 AS t1
      |  FROM events
      |), base AS (SELECT * FROM ev WHERE t < t0),
      |state0 AS (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(vq) AS BIGINT) AS sm
      |  FROM base GROUP BY k
      |), changes AS (
      |  SELECT k, CAST(1 AS BIGINT) AS w, vq AS v FROM ev WHERE t >= t0 AND t < t1
      |  UNION ALL
      |  SELECT k, CAST(-1 AS BIGINT) AS w, vq AS v FROM base WHERE event_id % 5 = 0
      |), delta AS (
      |  SELECT k, CAST(SUM(w) AS BIGINT) AS d_cnt, CAST(SUM(w * v) AS BIGINT) AS d_sm
      |  FROM changes GROUP BY k
      |), maintained AS (
      |  SELECT COALESCE(s.k, d.k) AS k,
      |    COALESCE(s.cnt, 0) + COALESCE(d.d_cnt, 0) AS m_cnt,
      |    COALESCE(s.sm, 0) + COALESCE(d.d_sm, 0) AS m_sm
      |  FROM state0 s FULL OUTER JOIN delta d ON s.k = d.k
      |), kept AS (SELECT * FROM maintained WHERE m_cnt > 0),
      |recomputed AS (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS r_cnt, CAST(SUM(vq) AS BIGINT) AS r_sm
      |  FROM ev
      |  WHERE (t < t0 AND event_id % 5 <> 0) OR (t >= t0 AND t < t1)
      |  GROUP BY k
      |)
      |SELECT COALESCE(kept.k, recomputed.k) AS k,
      |  CAST(COALESCE(kept.m_cnt, -1) AS BIGINT) AS cnt,
      |  CAST(COALESCE(kept.m_sm, -1) AS BIGINT) AS sm,
      |  (kept.m_cnt IS NOT DISTINCT FROM recomputed.r_cnt) AS cnt_law_ok,
      |  (kept.m_sm IS NOT DISTINCT FROM recomputed.r_sm) AS sum_law_ok
      |FROM kept FULL OUTER JOIN recomputed ON kept.k = recomputed.k
      |ORDER BY k""".stripMargin
  query("q180_ivm", q180Ivm, Some(q180Oracle))

  // ---------------------------------------------------------------- q181
  /** MULTI-TOUCH ATTRIBUTION — for every purchase, the view/click
    * touches of the same user in the prior 7 days earn credit under
    * three industry rules at once: last-touch (most recent touch takes
    * the conversion), first-touch (earliest takes it), and linear
    * (1/n in ppm, floor — deterministic integer credit). One
    * user-keyed equi join with the window predicate (per-user touch
    * lists are small; the join never goes quadratic in the corpus),
    * then per-conversion argmin/argmax via struct-ordered min/max
    * (exact (ts, event_id) tie-break). Reported per channel.
    */
  def q181Attribution(s: SparkSession, dir: String): DataFrame = {
    val Week = 604800000000000L
    val ev = Tables.events(s, dir)
    val conv = ev
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("cu"), col("ts_ns").as("cts"), col("event_id").as("cid"))
    val touch = ev
      .where(col("event_type").isin("view", "click"))
      .select(
        col("user_id").as("tu"),
        col("ts_ns").as("tts"),
        col("event_id").as("tid"),
        col("event_type").as("channel"))
    val pairs = conv.join(
      touch,
      col("cu") === col("tu") &&
        col("tts") < col("cts") && col("tts") >= col("cts") - lit(Week))
    val perConv = pairs
      .groupBy(col("cu"), col("cid"))
      .agg(
        count(lit(1)).as("n_touch"),
        max(struct(col("tts"), col("tid"), col("channel"))).as("last_t"),
        min(struct(col("tts"), col("tid"), col("channel"))).as("first_t"))
    val credited = pairs
      .join(
        perConv.select(col("cid").as("cid2"), col("n_touch"), col("last_t"), col("first_t")),
        col("cid") === col("cid2"))
    // a pair IS the winning touch iff its (ts, id) equals the argmax —
    // (tts, tid) is a total order, so channel equality is implied
    credited
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_credited_pairs"),
        sum((struct(col("tts"), col("tid")) ===
          struct(col("last_t.tts"), col("last_t.tid"))).cast("long")).as("last_touch_convs"),
        sum((struct(col("tts"), col("tid")) ===
          struct(col("first_t.tts"), col("first_t.tid"))).cast("long")).as("first_touch_convs"),
        sum(expr("1000000 div n_touch")).as("linear_ppm_total")
      )
      .orderBy(col("channel"))
  }

  val q181Oracle: String =
    """WITH conv AS (
      |  SELECT user_id AS cu, epoch_ns(ts) AS cts, event_id AS cid
      |  FROM events WHERE event_type = 'purchase'
      |), touch AS (
      |  SELECT user_id AS tu, epoch_ns(ts) AS tts, event_id AS tid, event_type AS channel
      |  FROM events WHERE event_type IN ('view', 'click')
      |), pairs AS (
      |  SELECT * FROM conv JOIN touch
      |    ON cu = tu AND tts < cts AND tts >= cts - 604800000000000
      |), pr AS (
      |  SELECT channel,
      |    row_number() OVER (PARTITION BY cid ORDER BY tts DESC, tid DESC) AS rl,
      |    row_number() OVER (PARTITION BY cid ORDER BY tts ASC, tid ASC) AS rf,
      |    COUNT(*) OVER (PARTITION BY cid) AS n_touch
      |  FROM pairs
      |)
      |SELECT channel,
      |  CAST(COUNT(*) AS BIGINT) AS n_credited_pairs,
      |  CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch_convs,
      |  CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch_convs,
      |  CAST(SUM(1000000 // n_touch) AS BIGINT) AS linear_ppm_total
      |FROM pr
      |GROUP BY channel
      |ORDER BY channel""".stripMargin
  query("q181_attribution", q181Attribution, Some(q181Oracle))

  // ---------------------------------------------------------------- q182
  /** TIME-WEIGHTED AVERAGE (TWAP) — per user, the step-function
    * integral of `value` over time divided by the covered duration:
    * each observation holds from its timestamp to the next (lead), the
    * last one contributes no interval. Products ride
    * decimal(38,0)·ns — a cents×ns product reaches ~1.5e20 and
    * OVERFLOWS a per-row BIGINT, so the first factor widens before
    * multiplying (the q170 lesson); the final ratio is an integral
    * division of exact integers, so both engines floor the same value.
    */
  def q182Twap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val ev = Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("ts_ns"),
        col("event_id"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
      .withColumn("nxt", lead(col("ts_ns"), 1).over(w))
      .where(col("nxt").isNotNull)
      .withColumn("dur", col("nxt") - col("ts_ns"))
    ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("vc").cast("decimal(38,0)") * col("dur")).as("wsum"),
        sum(col("dur")).as("tsum"))
      .where(col("tsum") > 0)
      .select(
        col("user_id"),
        col("n_intervals"),
        expr("cast(wsum div tsum as bigint)").as("twap_cents"),
        col("tsum").cast("long").as("covered_ns"))
      .orderBy(col("user_id"))
  }

  val q182Oracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id,
      |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS vc
      |  FROM events
      |), l AS (
      |  SELECT user_id, vc,
      |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dur
      |  FROM e
      |), d AS (SELECT * FROM l WHERE dur IS NOT NULL)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(CAST(vc AS HUGEINT) * dur) // SUM(dur) AS BIGINT) AS twap_cents,
      |  CAST(SUM(dur) AS BIGINT) AS covered_ns
      |FROM d
      |GROUP BY user_id
      |HAVING SUM(dur) > 0
      |ORDER BY user_id""".stripMargin
  query("q182_twap", q182Twap, Some(q182Oracle))

  // ---------------------------------------------------------------- q183
  /** OHLC BARS — per (event_type, UTC day): open/close via
    * struct-ordered argmin/argmax on the exact (ts_ns, event_id) total
    * order (never "first row seen" — that's partition-order
    * nondeterminism), high/low as plain extremes, plus the overnight
    * gap (open − previous close) through a lag window OVER THE
    * AGGREGATED bars — the window-on-aggregate composition every OHLC
    * pipeline needs. All prices in integer cents.
    */
  def q183Ohlc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        to_date(expr("timestamp_micros(ts_ns div 1000)")).as("day"),
        col("ts_ns"),
        col("event_id"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
    val bars = ev
      .groupBy(col("event_type"), col("day"))
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("ts_ns"), col("event_id"), col("vc"))).getField("vc").as("open_cents"),
        max(col("vc")).as("high_cents"),
        min(col("vc")).as("low_cents"),
        max(struct(col("ts_ns"), col("event_id"), col("vc"))).getField("vc").as("close_cents"))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    bars
      .withColumn(
        "gap_cents",
        coalesce(col("open_cents") - lag(col("close_cents"), 1).over(wd), lit(0L)))
      .select(
        col("event_type"),
        col("day").cast("string").as("day"),
        col("n"),
        col("open_cents"),
        col("high_cents"),
        col("low_cents"),
        col("close_cents"),
        col("gap_cents"))
      .orderBy(col("event_type"), col("day"))
  }

  val q183Oracle: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS day,
      |    epoch_ns(ts) AS t, event_id,
      |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS vc
      |  FROM events
      |), e2 AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, day ORDER BY t ASC, event_id ASC) AS ra,
      |    row_number() OVER (PARTITION BY event_type, day ORDER BY t DESC, event_id DESC) AS rd
      |  FROM e
      |), bars AS (
      |  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n,
      |    MAX(CASE WHEN ra = 1 THEN vc END) AS open_cents,
      |    MAX(vc) AS high_cents, MIN(vc) AS low_cents,
      |    MAX(CASE WHEN rd = 1 THEN vc END) AS close_cents
      |  FROM e2 GROUP BY event_type, day
      |)
      |SELECT event_type, CAST(day AS VARCHAR) AS day, n,
      |  open_cents, high_cents, low_cents, close_cents,
      |  CAST(COALESCE(open_cents - lag(close_cents) OVER
      |    (PARTITION BY event_type ORDER BY day), 0) AS BIGINT) AS gap_cents
      |FROM bars
      |ORDER BY event_type, day""".stripMargin
  query("q183_ohlc", q183Ohlc, Some(q183Oracle))

  // ---------------------------------------------------------------- q184
  /** K-CORE DECOMPOSITION ([[graft.ops.KCore]]) — iterative peeling to
    * the maximal subgraph of minimum degree ≥ k, on the shared block
    * graph, for k = 3 and k = 4. The deletion CASCADE is the point:
    * block ends start under-degree, their removal pushes interior
    * nodes under, and the fixpoint is reached only after several
    * rounds. The oracle UNROLLS 8 peel rounds per k as chained CTEs
    * (the q155 unrolled-rounds discipline) and pins a computed
    * stability verdict (|round 7| = |round 8| — peeling is monotone,
    * so equal cardinality ⟺ equal sets); Spark iterates to its own
    * fixpoint, so a cascade deeper than the unroll turns the row red
    * instead of silently passing.
    */
  def q184KCore(s: SparkSession, dir: String): DataFrame = {
    val edges = Place.persisted(blockGraph(s, dir))
    val allBuckets = edges.select(expr("u div 500").as("bucket")).distinct()
    val perK = Seq(3, 4).map { k =>
      val ce = Place.persisted(graft.ops.KCore.coreEdges(edges, k))
      val nodes = ce
        .select(col("u").as("id"))
        .unionByName(ce.select(col("v").as("id")))
        .distinct()
      val nb = nodes
        .groupBy(expr("id div 500").as("bucket"))
        .agg(count(lit(1)).as("n_core_nodes"))
      val eb = ce
        .groupBy(expr("u div 500").as("bucket"))
        .agg(count(lit(1)).as("n_core_edges"))
      // MEASURED fixpoint certificate, not a literal: recompute induced
      // degrees on the returned edge set and assert every surviving
      // node still clears k (vacuously true on an empty core). The
      // oracle pins its own stability predicate (|round 7| = |round 8|
      // cardinality); both must independently come out true. A one-row
      // broadcast-scalar cross join attaches the verdict to every
      // bucket row.
      val stable = ce
        .select(col("u").as("id"))
        .unionByName(ce.select(col("v").as("id")))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("deg"))
        .agg(coalesce(min(col("deg")) >= k, lit(true)).as("stable_ok"))
      allBuckets
        .join(nb, Seq("bucket"), "left")
        .join(eb, Seq("bucket"), "left")
        .na
        .fill(0L, Seq("n_core_nodes", "n_core_edges"))
        .withColumn("k", lit(k))
        .crossJoin(broadcast(stable))
    }
    perK
      .reduce(_ unionByName _)
      .select(
        col("k"),
        col("bucket"),
        col("n_core_nodes"),
        col("n_core_edges"),
        col("stable_ok"))
      .orderBy(col("k"), col("bucket"))
  }

  val q184Oracle: String = {
    val rounds = 8
    def chain(k: Int): String = {
      val sb = new StringBuilder
      // MATERIALIZED is load-bearing: each round references its
      // predecessor 3x, and DuckDB's default CTE inlining would go
      // exponential over 8 rounds (the q95 BPE lesson — here it
      // surfaced as "Too many open files" from 2^8 base-table scans)
      sb ++= s"e${k}_0 AS MATERIALIZED (SELECT u, v FROM eset),\n"
      for (r <- 1 to rounds) {
        val p = s"e${k}_${r - 1}"
        sb ++= s"""d${k}_$r AS (
                  |  SELECT id, COUNT(*) AS deg FROM (
                  |    SELECT u AS id FROM $p UNION ALL SELECT v FROM $p) GROUP BY id),
                  |k${k}_$r AS (SELECT id FROM d${k}_$r WHERE deg >= $k),
                  |e${k}_$r AS MATERIALIZED (
                  |  SELECT e.u, e.v FROM $p e
                  |  JOIN k${k}_$r a ON a.id = e.u
                  |  JOIN k${k}_$r b ON b.id = e.v),
                  |""".stripMargin
      }
      sb.toString
    }
    def summary(k: Int): String =
      s"""SELECT $k AS k, bkt.bucket,
         |  COALESCE(nb.n_core_nodes, 0) AS n_core_nodes,
         |  COALESCE(eb.n_core_edges, 0) AS n_core_edges,
         |  (SELECT COUNT(*) FROM e${k}_${rounds - 1}) = (SELECT COUNT(*) FROM e${k}_$rounds) AS stable_ok
         |FROM (SELECT DISTINCT u // 500 AS bucket FROM eset) bkt
         |LEFT JOIN (
         |  SELECT id // 500 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_core_nodes FROM (
         |    SELECT DISTINCT id FROM (
         |      SELECT u AS id FROM e${k}_$rounds UNION ALL SELECT v FROM e${k}_$rounds))
         |  GROUP BY 1) nb ON nb.bucket = bkt.bucket
         |LEFT JOIN (
         |  SELECT u // 500 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_core_edges
         |  FROM e${k}_$rounds GROUP BY 1) eb ON eb.bucket = bkt.bucket""".stripMargin
    s"""WITH eset AS MATERIALIZED (
       |$BlockGraphSql
       |),
       |${chain(3)}${chain(4)}
       |dummy AS (SELECT 1)
       |SELECT CAST(k AS INT) AS k, CAST(bucket AS BIGINT) AS bucket,
       |  n_core_nodes, n_core_edges, stable_ok
       |FROM (
       |${summary(3)}
       |UNION ALL
       |${summary(4)}
       |)
       |ORDER BY k, bucket""".stripMargin
  }
  query("q184_kcore", q184KCore, Some(q184Oracle))

  // ---------------------------------------------------------------- q185
  /** TRENDING VALUES — day-over-day frequency lift with +1 smoothing:
    * per day, the top-3 prop-k values by
    * lift_ppm = ⌊cnt_today · (total_prev + D) · 10⁶ /
    *            ((cnt_prev + 1) · (total_today) · 1)⌋-style ratio
    * (exact integer floor on both engines — the FLOOR IS the
    * definition, so ranking can never flip on a stray ulp), ties to
    * the smaller value. First day has no previous and is excluded.
    * The JSON prop surface (get_json_object / json_extract_string)
    * feeds the counts.
    */
  def q185Trending(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables
      .events(s, dir)
      .select(
        to_date(expr("timestamp_micros(ts_ns div 1000)")).as("day"),
        expr("cast(get_json_object(props, '$.k') as bigint)").as("kv"))
      .where(col("kv").isNotNull)
    val counts = ev.groupBy(col("day"), col("kv")).agg(count(lit(1)).as("cnt"))
    val totals = ev.groupBy(col("day")).agg(count(lit(1)).as("total"))
    val wt = Window.orderBy(col("day"))
    // previous-day count per value (0 when absent yesterday) via a
    // self-join on (kv, day-1); previous-day total via lag over the
    // tiny per-day totals
    val prevCounts = counts.select(
      col("kv").as("pkv"),
      expr("date_add(day, 1)").as("pday"),
      col("cnt").as("prev_cnt"))
    val prevTotals = totals
      .withColumn("prev_total", lag(col("total"), 1).over(wt))
      .where(col("prev_total").isNotNull)
    val lifted = counts
      .join(prevTotals, Seq("day"))
      .join(
        prevCounts,
        col("kv") === col("pkv") && col("day") === col("pday"),
        "left")
      .withColumn("pc", coalesce(col("prev_cnt"), lit(0L)))
      .withColumn(
        "lift_ppm",
        expr("cast((cnt * prev_total * 1000000) div ((pc + 1) * total) as bigint)"))
    val wr = Window
      .partitionBy(col("day"))
      .orderBy(col("lift_ppm").desc, col("kv").asc)
    lifted
      .withColumn("rnk", row_number().over(wr))
      .where(col("rnk") <= 3)
      .select(
        col("day").cast("string").as("day"),
        col("rnk"),
        col("kv"),
        col("cnt"),
        col("lift_ppm"))
      .orderBy(col("day"), col("rnk"))
  }

  val q185Oracle: String =
    """WITH ev AS (
      |  SELECT CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS day,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
      |  FROM events
      |), e AS (SELECT * FROM ev WHERE kv IS NOT NULL),
      |counts AS (SELECT day, kv, CAST(COUNT(*) AS BIGINT) AS cnt FROM e GROUP BY day, kv),
      |totals AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS total FROM e GROUP BY day),
      |pt AS (
      |  SELECT day, total, lag(total) OVER (ORDER BY day) AS prev_total FROM totals
      |), lifted AS (
      |  SELECT c.day, c.kv, c.cnt,
      |    CAST((c.cnt * pt.prev_total * 1000000) //
      |         ((COALESCE(p.cnt, 0) + 1) * pt.total) AS BIGINT) AS lift_ppm
      |  FROM counts c
      |  JOIN pt ON pt.day = c.day AND pt.prev_total IS NOT NULL
      |  LEFT JOIN counts p ON p.kv = c.kv AND p.day + 1 = c.day
      |), rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY day ORDER BY lift_ppm DESC, kv ASC) AS rnk
      |  FROM lifted
      |)
      |SELECT CAST(day AS VARCHAR) AS day, CAST(rnk AS INT) AS rnk, kv, cnt, lift_ppm
      |FROM rk WHERE rnk <= 3
      |ORDER BY day, rnk""".stripMargin
  query("q185_trending", q185Trending, Some(q185Oracle))

  // ---------------------------------------------------------------- q186
  /** RATIO-TO-REPORT CERTIFICATE — the percent-of-total analytic
    * family: each (type, day) cell's share of its type (whole-partition
    * window sum — no ORDER BY, unbounded frame), its cumulative share
    * through time (ordered running sum over the same partition), and
    * the type's share of the grand total (window over the empty
    * partition). All shares are integer ppm via exact integral
    * division — cnt·10⁶ div total — so no float ratio can drift.
    */
  def q186RatioReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cell = Tables
      .events(s, dir)
      .groupBy(
        col("event_type"),
        to_date(expr("timestamp_micros(ts_ns div 1000)")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val wType = Window.partitionBy(col("event_type"))
    val wCum = Window
      .partitionBy(col("event_type"))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    cell
      .withColumn("type_total", sum(col("cnt")).over(wType))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("grand", sum(col("cnt")).over(wAll))
      .select(
        col("event_type"),
        col("day").cast("string").as("day"),
        col("cnt"),
        expr("cast((cnt * 1000000) div type_total as bigint)").as("share_ppm"),
        expr("cast((cum * 1000000) div type_total as bigint)").as("cum_share_ppm"),
        expr("cast((type_total * 1000000) div grand as bigint)").as("type_share_ppm"))
      .orderBy(col("event_type"), col("day"))
  }

  val q186Oracle: String =
    """WITH cell AS (
      |  SELECT event_type,
      |    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT event_type, day, cnt,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS type_total,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
      |                   ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(cnt) OVER () AS grand
      |  FROM cell
      |)
      |SELECT event_type, CAST(day AS VARCHAR) AS day, cnt,
      |  CAST((cnt * 1000000) // type_total AS BIGINT) AS share_ppm,
      |  CAST((cum * 1000000) // type_total AS BIGINT) AS cum_share_ppm,
      |  CAST((type_total * 1000000) // grand AS BIGINT) AS type_share_ppm
      |FROM w
      |ORDER BY event_type, day""".stripMargin
  query("q186_ratio_report", q186RatioReport, Some(q186Oracle))

  // ---------------------------------------------------------------- q187
  /** MOVING MEDIAN — 7-day discrete sliding median of daily event
    * counts per type. Interpolated medians diverge cross-engine in the
    * last ulp (the q41/q92 lesson), so the DISCRETE lower median IS
    * the definition: order the window's values by (count, day) —
    * a total order — and take position ⌈n/2⌉. The window materializes
    * as a banded self-join on the date offset (0..6) over the tiny
    * per-day grid, then one rank window per (type, day) cell — the
    * rank-selection recipe, slid through time.
    */
  def q187MovingMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables
      .events(s, dir)
      .groupBy(
        col("event_type"),
        to_date(expr("timestamp_micros(ts_ns div 1000)")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val win = daily
      .join(
        daily.select(
          col("event_type").as("et2"),
          col("day").as("wday"),
          col("cnt").as("wcnt")),
        col("event_type") === col("et2") &&
          expr("datediff(day, wday)").between(0, 6))
    val wr = Window
      .partitionBy(col("event_type"), col("day"))
      .orderBy(col("wcnt").asc, col("wday").asc)
    win
      .withColumn("rn", row_number().over(wr))
      .withColumn(
        "n_win",
        count(lit(1)).over(Window.partitionBy(col("event_type"), col("day"))))
      .where(col("rn") === expr("(n_win + 1) div 2"))
      .select(
        col("event_type"),
        col("day").cast("string").as("day"),
        col("cnt"),
        col("n_win").cast("long").as("n_win"),
        col("wcnt").as("med7"))
      .orderBy(col("event_type"), col("day"))
  }

  val q187Oracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), win AS (
      |  SELECT a.event_type, a.day, a.cnt, b.day AS wday, b.cnt AS wcnt
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type
      |   AND a.day - b.day BETWEEN 0 AND 6
      |), rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, day ORDER BY wcnt ASC, wday ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type, day) AS n_win
      |  FROM win
      |)
      |SELECT event_type, CAST(day AS VARCHAR) AS day, cnt,
      |  CAST(n_win AS BIGINT) AS n_win, wcnt AS med7
      |FROM rk WHERE rn = (n_win + 1) // 2
      |ORDER BY event_type, day""".stripMargin
  query("q187_moving_median", q187MovingMedian, Some(q187Oracle))

  // ---------------------------------------------------------------- q189
  /** WEIGHTED MEDIAN via the distributed prefix sum
    * ([[graft.ops.Sweep.orderedPrefixSum]]) — per return flag, the
    * smallest price whose cumulative quantity weight reaches half the
    * total. Weights pre-aggregate per (flag, price) so the order key
    * is UNIQUE within each group — the (l_orderkey, l_linenumber)
    * non-uniqueness gotcha never enters — and the crossing-point
    * definition (min price with cum ≥ ⌈W/2⌉) is tie-free by
    * construction. The cumulative sum is the range-binned two-pass;
    * the oracle replays the plain single window it must equal.
    */
  def q189WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(s, dir)
      .select(
        col("l_returnflag").as("flag"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("pc"),
        expr("cast(floor(l_quantity + 0.5) as bigint)").as("w"))
    val byPrice = li.groupBy(col("flag"), col("pc")).agg(sum(col("w")).as("wsum"))
    val cum = graft.ops.Sweep.orderedPrefixSum(
      byPrice, Seq("flag"), col("pc"), col("pc"), col("wsum"), "cumw")
    val tot = byPrice
      .groupBy(col("flag"))
      .agg(sum(col("wsum")).as("wtot"))
      .withColumnRenamed("flag", "__tf")
    cum
      .join(broadcast(tot), col("flag") === col("__tf"))
      .where(col("cumw") * 2 >= col("wtot"))
      .groupBy(col("flag"), col("wtot"))
      .agg(min(col("pc")).as("wmedian_cents"))
      .select(col("flag"), col("wtot"), col("wmedian_cents"))
      .orderBy(col("flag"))
  }

  val q189Oracle: String =
    """WITH li AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc,
      |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
      |  FROM lineitem
      |), bp AS (
      |  SELECT flag, pc, CAST(SUM(w) AS BIGINT) AS wsum FROM li GROUP BY flag, pc
      |), c AS (
      |  SELECT flag, pc, wsum,
      |    SUM(wsum) OVER (PARTITION BY flag ORDER BY pc ROWS UNBOUNDED PRECEDING) AS cumw
      |  FROM bp
      |), t AS (SELECT flag, CAST(SUM(wsum) AS BIGINT) AS wtot FROM bp GROUP BY flag)
      |SELECT c.flag, t.wtot, CAST(MIN(c.pc) AS BIGINT) AS wmedian_cents
      |FROM c JOIN t ON c.flag = t.flag
      |WHERE c.cumw * 2 >= t.wtot
      |GROUP BY c.flag, t.wtot
      |ORDER BY c.flag""".stripMargin
  query("q189_weighted_median", q189WeightedMedian, Some(q189Oracle))

  // ---------------------------------------------------------------- q190
  /** JOURNEY PATTERN MINING — each user's event history collapses to an
    * ordered initial string ('v','c','p','s','e' by the exact
    * (ts, event_id) order), and a pattern table counts the users whose
    * journey matches each regex: the anywhere-funnel v.*c.*p, the
    * adjacency vc, repeat purchase p.*p, starts-with-signup ^s, and
    * ends-in-error e$. Construction is one sorted struct collect per
    * user (Spark) ≡ ordered string_agg (DuckDB) — the deterministic
    * sequence-to-string recipe; the regex subset (classes, anchors,
    * dot-star) is engine-portable.
    */
  def q190JourneyPatterns(s: SparkSession, dir: String): DataFrame = {
    val pats = Seq("v.*c.*p", "vc", "p.*p", "^s", "e$")
    val ev = Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("ts_ns"),
        col("event_id"),
        expr("substring(event_type, 1, 1)").as("ini"))
    import s.implicits._
    val journeys = ev
      .groupBy(col("user_id"))
      .agg(
        array_join(
          expr("transform(array_sort(collect_list(struct(ts_ns, event_id, ini))), x -> x.ini)"),
          "").as("j"))
    pats
      .toDF("pattern")
      .crossJoin(journeys)
      .groupBy(col("pattern"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(expr("case when regexp_like(j, pattern) then 1 else 0 end")).as("n_matched"))
      .orderBy(col("pattern"))
  }

  val q190Oracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id, substr(event_type, 1, 1) AS ini
      |  FROM events
      |), j AS (
      |  SELECT user_id, string_agg(ini, '' ORDER BY t, event_id) AS j
      |  FROM e GROUP BY user_id
      |), pats AS (
      |  SELECT unnest(['v.*c.*p', 'vc', 'p.*p', '^s', 'e$']) AS pattern
      |)
      |SELECT pattern,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(CASE WHEN regexp_matches(j.j, pattern) THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
      |FROM pats CROSS JOIN j
      |GROUP BY pattern
      |ORDER BY pattern""".stripMargin
  query("q190_journey_patterns", q190JourneyPatterns, Some(q190Oracle))

  // ---------------------------------------------------------------- q191
  /** CLAMPED RUNNING BALANCE ([[graft.ops.Sweep.clampedRunningSum]]) —
    * per-user inventory-style level where purchases draw down and other
    * events deposit, floored at zero: level_i = max(0, level_{i−1} +
    * delta_i). The sequential-looking recurrence is computed
    * declaratively via the two-window identity level = cum − min(0,
    * running-min(cum)) — ClampedLawSpec PROVES the identity against
    * the sequential fold; the oracle replays the same windows, so the
    * cross-engine check pins the arithmetic and the spec pins the
    * semantics. Outputs per user: final level (struct-ordered last),
    * max level, floor-hit count.
    */
  def q191ClampedBalance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("ts_ns"),
        col("event_id"),
        when(
          col("event_type") === "purchase",
          -expr("cast(floor(value * 100 + 0.5) as bigint)"))
          .otherwise(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("delta"))
    val lvl = graft.ops.Sweep.clampedRunningSum(
      ev, Seq("user_id"), col("ts_ns"), col("event_id"), col("delta"), "lvl")
    lvl
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("lvl")).as("max_lvl"),
        max(struct(col("ts_ns"), col("event_id"), col("lvl")))
          .getField("lvl").as("final_lvl"),
        sum((col("lvl") === 0).cast("long")).as("n_floor_hits"))
      .orderBy(col("user_id"))
  }

  val q191Oracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id,
      |    CASE WHEN event_type = 'purchase'
      |         THEN -CAST(floor("value" * 100 + 0.5) AS BIGINT)
      |         ELSE CAST(floor("value" * 100 + 0.5) AS BIGINT) END AS delta
      |  FROM events
      |), c AS (
      |  SELECT user_id, t, event_id,
      |    SUM(delta) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM e
      |), l AS (
      |  SELECT user_id, t, event_id,
      |    cum - LEAST(0, MIN(cum) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                                  ROWS UNBOUNDED PRECEDING)) AS lvl
      |  FROM c
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rd
      |  FROM l
      |)
      |SELECT user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(MAX(lvl) AS BIGINT) AS max_lvl,
      |  CAST(MAX(CASE WHEN rd = 1 THEN lvl END) AS BIGINT) AS final_lvl,
      |  CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_floor_hits
      |FROM r
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  query("q191_clamped_balance", q191ClampedBalance, Some(q191Oracle))

  // ---------------------------------------------------------------- q192
  /** EXACT MERGEABLE DISTINCT — the bitmap-rollup law HLL only
    * approximates: daily per-(type, day) distinct-user sets materialize
    * as sorted id arrays (the partial), weekly counts come from FOLDING
    * the daily partials with array_union — never rescanning the base —
    * and the law `|merged| = direct COUNT(DISTINCT)` is pinned per
    * cell, alongside the naive Σ(daily distinct) overcount that
    * motivates mergeable structures in the first place. Weeks are
    * epoch-day div 7 (integer, engine-portable — weekofyear semantics
    * are not).
    */
  def q192MergeableDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        expr("(ts_ns div 86400000000000)").as("eday"),
        expr("((ts_ns div 86400000000000) div 7)").as("wk"),
        col("user_id"))
    val daily = ev
      .groupBy(col("event_type"), col("wk"), col("eday"))
      .agg(
        sort_array(collect_set(col("user_id"))).as("u_arr"),
        countDistinct(col("user_id")).as("n_day"))
    val weekly = daily
      .groupBy(col("event_type"), col("wk"))
      .agg(
        expr(
          "size(aggregate(collect_list(u_arr), cast(array() as array<bigint>), (acc, x) -> array_union(acc, x)))")
          .cast("long").as("n_merged"),
        sum(col("n_day")).as("sum_daily"))
    val direct = ev
      .groupBy(col("event_type"), col("wk"))
      .agg(countDistinct(col("user_id")).as("n_direct"))
    weekly
      .join(direct, Seq("event_type", "wk"))
      .select(
        col("event_type"),
        col("wk"),
        col("n_direct"),
        col("n_merged"),
        col("sum_daily"),
        (col("n_merged") === col("n_direct")).as("merge_law_ok"),
        (col("sum_daily") - col("n_direct")).as("naive_overcount"))
      .orderBy(col("event_type"), col("wk"))
  }

  val q192Oracle: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    epoch_ns(ts) // 86400000000000 AS eday,
      |    (epoch_ns(ts) // 86400000000000) // 7 AS wk,
      |    user_id
      |  FROM events
      |), daily AS (
      |  SELECT event_type, wk, eday, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_day
      |  FROM ev GROUP BY 1, 2, 3
      |), weekly AS (
      |  SELECT event_type, wk, CAST(SUM(n_day) AS BIGINT) AS sum_daily
      |  FROM daily GROUP BY 1, 2
      |), direct AS (
      |  SELECT event_type, wk, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_direct
      |  FROM ev GROUP BY 1, 2
      |)
      |SELECT d.event_type, CAST(d.wk AS BIGINT) AS wk, d.n_direct,
      |  d.n_direct AS n_merged,
      |  w.sum_daily,
      |  TRUE AS merge_law_ok,
      |  w.sum_daily - d.n_direct AS naive_overcount
      |FROM direct d JOIN weekly w ON d.event_type = w.event_type AND d.wk = w.wk
      |ORDER BY d.event_type, d.wk""".stripMargin
  query("q192_mergeable_distinct", q192MergeableDistinct, Some(q192Oracle))

  // ---------------------------------------------------------------- q193
  /** FUNNEL TIME-TO-CONVERT — users whose first purchase follows their
    * first view, with DISCRETE p50/p90 of the conversion latency
    * (rank-selected order statistics, the q92/q97 recipe — interpolated
    * quantiles diverge cross-engine): order latencies by (latency,
    * user_id), p50 at row (n+1) div 2, p90 at row (9n) div 10 + 1.
    * Latencies in whole milliseconds.
    */
  def q193TimeToConvert(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val firsts = ev
      .where(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts_ns"))).as("first_view"),
        min(when(col("event_type") === "purchase", col("ts_ns"))).as("first_purchase"))
      .where(
        col("first_view").isNotNull && col("first_purchase").isNotNull &&
          col("first_purchase") > col("first_view"))
      .select(
        col("user_id"),
        expr("(first_purchase - first_view) div 1000000").as("tt_ms"))
    val w = Window.orderBy(col("tt_ms").asc, col("user_id").asc)
    val ranked = firsts
      .withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(firsts.agg(count(lit(1)).as("n"))))
    ranked
      .where(
        col("rn") === expr("(n + 1) div 2") || col("rn") === expr("(n * 9) div 10 + 1"))
      .groupBy(col("n"))
      .agg(
        min(when(col("rn") === expr("(n + 1) div 2"), col("tt_ms"))).as("p50_ms"),
        min(when(col("rn") === expr("(n * 9) div 10 + 1"), col("tt_ms"))).as("p90_ms"))
      .select(col("n").as("n_converting"), col("p50_ms"), col("p90_ms"))
  }

  val q193Oracle: String =
    """WITH f AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS fv,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS fp
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  GROUP BY user_id
      |), c AS (
      |  SELECT user_id, (fp - fv) // 1000000 AS tt_ms
      |  FROM f WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp > fv
      |), r AS (
      |  SELECT *, row_number() OVER (ORDER BY tt_ms ASC, user_id ASC) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM c
      |)
      |SELECT CAST(n AS BIGINT) AS n_converting,
      |  CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN tt_ms END) AS BIGINT) AS p50_ms,
      |  CAST(MIN(CASE WHEN rn = (n * 9) // 10 + 1 THEN tt_ms END) AS BIGINT) AS p90_ms
      |FROM r
      |WHERE rn = (n + 1) // 2 OR rn = (n * 9) // 10 + 1
      |GROUP BY n""".stripMargin
  query("q193_time_to_convert", q193TimeToConvert, Some(q193Oracle))

  // ---------------------------------------------------------------- q194
  /** RFM SEGMENTATION — the classic marketing cube: per user, Recency
    * (last purchase instant), Frequency (purchase count), Monetary
    * (cent sum), each cut into quintiles by ntile(5) over a TOTAL
    * order ((metric desc, user_id) — ntile under ties is
    * order-dependent, so the tiebreak is part of the definition);
    * output is the populated (r, f, m) cells with user counts and
    * monetary mass. Users who never purchased are excluded up front
    * (their R/M are undefined, not zero).
    */
  def q194Rfm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables
      .events(s, dir)
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        max(col("ts_ns")).as("last_p"),
        count(lit(1)).as("freq"),
        sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("cents"))
    val rq = Window.orderBy(col("last_p").desc, col("user_id").asc)
    val fq = Window.orderBy(col("freq").desc, col("user_id").asc)
    val mq = Window.orderBy(col("cents").desc, col("user_id").asc)
    p.withColumn("r_q", ntile(5).over(rq))
      .withColumn("f_q", ntile(5).over(fq))
      .withColumn("m_q", ntile(5).over(mq))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents_total"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val q194Oracle: String =
    """WITH p AS (
      |  SELECT user_id, MAX(epoch_ns(ts)) AS last_p,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id
      |), q AS (
      |  SELECT *,
      |    ntile(5) OVER (ORDER BY last_p DESC, user_id ASC) AS r_q,
      |    ntile(5) OVER (ORDER BY freq DESC, user_id ASC) AS f_q,
      |    ntile(5) OVER (ORDER BY cents DESC, user_id ASC) AS m_q
      |  FROM p
      |)
      |SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q, CAST(m_q AS INT) AS m_q,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(cents) AS BIGINT) AS cents_total
      |FROM q
      |GROUP BY r_q, f_q, m_q
      |ORDER BY r_q, f_q, m_q""".stripMargin
  query("q194_rfm", q194Rfm, Some(q194Oracle))

  // ---------------------------------------------------------------- q195
  /** FIFO LOT DEPLETION — first-in-first-out inventory matching made
    * declarative: per part, 'A'-flag lines are restock lots in
    * (shipdate, orderkey, linenumber) order and 'R'-flag demand D
    * consumes them front to back. The sequential matching has a closed
    * prefix-sum form:
    *
    *   consumed_i = clamp(D − lot_start_i, 0, size_i)
    *
    * where lot_start_i is the exclusive cumulative size. Two FIFO laws
    * are certified in-row: Σ consumed = min(D, supply) per part, and
    * at most ONE partially-consumed lot per part — both aggregated as
    * violation counts pinned 0.
    */
  def q195Fifo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables
      .lineitem(s, dir)
      .select(
        col("l_partkey").as("pk"),
        col("l_returnflag").as("fl"),
        col("l_shipdate"),
        col("l_orderkey"),
        col("l_linenumber"),
        expr("cast(floor(l_quantity + 0.5) as bigint)").as("qty"))
    val demand = li
      .where(col("fl") === "R")
      .groupBy(col("pk"))
      .agg(sum(col("qty")).as("d"))
    val w = Window
      .partitionBy(col("pk"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lots = li
      .where(col("fl") === "A")
      .withColumn("cum", sum(col("qty")).over(w))
      .withColumn("lot_start", col("cum") - col("qty"))
      .join(demand, Seq("pk"), "left")
      .na
      .fill(0L, Seq("d"))
      .withColumn(
        "consumed",
        greatest(lit(0L), least(col("qty"), col("d") - col("lot_start"))))
    val perPart = lots
      .groupBy(col("pk"), col("d"))
      .agg(
        sum(col("qty")).as("supply"),
        sum(col("consumed")).as("consumed_sum"),
        sum((col("consumed") === col("qty")).cast("long")).as("n_depleted"),
        sum((col("consumed") > 0 && col("consumed") < col("qty")).cast("long")).as("n_partial"))
    perPart
      .groupBy(expr("pk div 1000").as("bucket"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("consumed_sum")).as("sum_consumed"),
        sum(col("n_depleted")).as("n_depleted_lots"),
        sum((col("consumed_sum") =!= least(col("d"), col("supply"))).cast("long"))
          .as("conservation_violations"),
        sum((col("n_partial") > 1).cast("long")).as("partial_lot_violations"))
      .orderBy(col("bucket"))
  }

  val q195Oracle: String =
    """WITH li AS (
      |  SELECT l_partkey AS pk, l_returnflag AS fl, l_shipdate, l_orderkey,
      |    l_linenumber, CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
      |  FROM lineitem
      |), dem AS (
      |  SELECT pk, CAST(SUM(qty) AS BIGINT) AS d FROM li WHERE fl = 'R' GROUP BY pk
      |), lots AS (
      |  SELECT li.pk, li.qty,
      |    SUM(qty) OVER (PARTITION BY li.pk
      |                   ORDER BY l_shipdate, l_orderkey, l_linenumber
      |                   ROWS UNBOUNDED PRECEDING) - qty AS lot_start,
      |    COALESCE(dem.d, 0) AS d
      |  FROM li LEFT JOIN dem ON dem.pk = li.pk
      |  WHERE fl = 'A'
      |), c AS (
      |  SELECT pk, d, qty,
      |    GREATEST(0, LEAST(qty, d - lot_start)) AS consumed
      |  FROM lots
      |), pp AS (
      |  SELECT pk, d, CAST(SUM(qty) AS BIGINT) AS supply,
      |    CAST(SUM(consumed) AS BIGINT) AS consumed_sum,
      |    CAST(SUM(CASE WHEN consumed = qty THEN 1 ELSE 0 END) AS BIGINT) AS n_depleted,
      |    CAST(SUM(CASE WHEN consumed > 0 AND consumed < qty THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
      |  FROM c GROUP BY pk, d
      |)
      |SELECT CAST(pk // 1000 AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(consumed_sum) AS BIGINT) AS sum_consumed,
      |  CAST(SUM(n_depleted) AS BIGINT) AS n_depleted_lots,
      |  CAST(SUM(CASE WHEN consumed_sum <> LEAST(d, supply) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS conservation_violations,
      |  CAST(SUM(CASE WHEN n_partial > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS partial_lot_violations
      |FROM pp
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin
  query("q195_fifo", q195Fifo, Some(q195Oracle))

  // ---------------------------------------------------------------- q196
  /** ISO WEEKDAY CERTIFICATE — day-of-week semantics differ per engine
    * (Spark's dayofweek is 1 = Sunday; DuckDB's isodow is 1 = Monday):
    * the portable formula `((dayofweek + 5) % 7) + 1` lands Spark on
    * ISO numbering, and the English day NAME (date_format 'EEEE' ↔
    * dayname) rides along as a second witness. Per ISO weekday:
    * events, purchase share ppm.
    */
  def q196IsoWeekday(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(
        to_date(expr("timestamp_micros(ts_ns div 1000)")).as("day"),
        col("event_type"))
      .withColumn("isodow", expr("((dayofweek(day) + 5) % 7) + 1"))
      .withColumn("dow_name", expr("date_format(day, 'EEEE')"))
      .groupBy(col("isodow"), col("dow_name"))
      .agg(
        count(lit(1)).as("n"),
        sum((col("event_type") === "purchase").cast("long")).as("n_purchase"))
      .select(
        col("isodow"),
        col("dow_name"),
        col("n"),
        expr("cast((n_purchase * 1000000) div n as bigint)").as("purchase_ppm"))
      .orderBy(col("isodow"))

  val q196Oracle: String =
    """WITH e AS (
      |  SELECT CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS day, event_type
      |  FROM events
      |)
      |SELECT CAST(isodow(day) AS INT) AS isodow,
      |  dayname(day) AS dow_name,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST((SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1000000)
      |       // COUNT(*) AS BIGINT) AS purchase_ppm
      |FROM e
      |GROUP BY isodow(day), dayname(day)
      |ORDER BY isodow""".stripMargin
  query("q196_iso_weekday", q196IsoWeekday, Some(q196Oracle))

  // ---------------------------------------------------------------- q197
  /** UNICODE STRING CERTIFICATE — code-point vs byte semantics across
    * the string surface on adversarial samples (combining accents,
    * Greek, CJK, an astral-plane emoji, padding): length counts CODE
    * POINTS on both engines (the emoji is 1, not 2 UTF-16 units),
    * octet_length/strlen counts bytes, substring/instr/left/right/
    * reverse/lpad are all code-point-indexed, and case mapping agrees
    * on the Latin/Greek samples. Pinning the pairs (length,
    * octet_length) is what certifies neither engine silently falls
    * back to byte indexing.
    */
  def q197Unicode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val samples = Seq("héllo wörld", "ΚΌΣΜΕ", "こんにちは", "a😀b", "  pad  ", "a,b,c")
    samples
      .toDF("t")
      .select(
        col("t"),
        length(col("t")).as("n_chars"),
        expr("octet_length(t)").as("n_bytes"),
        upper(col("t")).as("up"),
        lower(col("t")).as("lo"),
        expr("substring(t, 2, 3)").as("sub23"),
        expr("instr(t, 'l')").as("pos_l"),
        reverse(col("t")).as("rev"),
        expr("left(t, 2)").as("l2"),
        expr("right(t, 2)").as("r2"),
        expr("lpad(t, 8, '-')").as("pad8"),
        expr("trim(t)").as("trimmed"),
        expr("split_part(t, ',', 2)").as("csv2"))
      .orderBy(col("t"))
  }

  val q197Oracle: String =
    """WITH s AS (
      |  SELECT unnest(['héllo wörld', 'ΚΌΣΜΕ', 'こんにちは', 'a😀b', '  pad  ', 'a,b,c']) AS t
      |)
      |SELECT t,
      |  CAST(length(t) AS INT) AS n_chars,
      |  CAST(strlen(t) AS INT) AS n_bytes,
      |  upper(t) AS up,
      |  lower(t) AS lo,
      |  substr(t, 2, 3) AS sub23,
      |  CAST(strpos(t, 'l') AS INT) AS pos_l,
      |  reverse(t) AS rev,
      |  left(t, 2) AS l2,
      |  right(t, 2) AS r2,
      |  lpad(t, 8, '-') AS pad8,
      |  trim(t) AS trimmed,
      |  split_part(t, ',', 2) AS csv2
      |FROM s
      |ORDER BY t""".stripMargin
  query("q197_unicode", q197Unicode, Some(q197Oracle))

  // ---------------------------------------------------------------- q198
  /** NEGATIVE INTEGER DIVISION CERTIFICATE — `div` / `%` / `pmod` on a
    * signed grid. Both engines truncate integral division toward zero
    * and give `%` the dividend's sign (probed; NOT universal — Python
    * floors both), so the certificate pins: (a) truncation on the
    * full signed grid, (b) the Euclidean identity a = b·(a div b) +
    * a % b, (c) Spark's ACTUAL pmod rule — `if (a % b < 0)
    * ((a % b) + b) % b else a % b` — which for NEGATIVE moduli is NOT
    * the textbook ((a%b)+b)%b emulation (measured: pmod(1, −3) = 1,
    * emulation −2) and is only non-negative when b > 0
    * (pmod(−1, −3) = −1); the oracle replicates the rule verbatim and
    * the non-negativity law is scoped to positive b, and (d) floor
    * division recovered as (a − pmod) div b for b > 0. The law columns
    * make any future engine change (or a floor-semantics port) turn
    * the row red.
    */
  def q198IntDivision(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grid = for { a <- Seq(-7L, -3L, -1L, 0L, 1L, 3L, 7L); b <- Seq(-3L, -2L, 2L, 3L) } yield (a, b)
    grid
      .toDF("a", "b")
      .select(
        col("a"),
        col("b"),
        expr("a div b").as("q_trunc"),
        expr("a % b").as("r_sign"),
        expr("pmod(a, b)").as("r_pos"),
        expr("case when b > 0 then (a - pmod(a, b)) div b else a div b end").as("q_floor"),
        expr("b * (a div b) + (a % b) = a").as("euclid_ok"),
        expr("b < 0 or pmod(a, b) >= 0").as("pmod_nonneg_ok"))
      .orderBy(col("a"), col("b"))
  }

  val q198Oracle: String =
    """WITH g AS (
      |  SELECT a.a, b.b
      |  FROM (SELECT unnest([-7, -3, -1, 0, 1, 3, 7]) AS a) a,
      |       (SELECT unnest([-3, -2, 2, 3]) AS b) b
      |)
      |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
      |  CAST(a // b AS BIGINT) AS q_trunc,
      |  CAST(a % b AS BIGINT) AS r_sign,
      |  CAST(CASE WHEN (a % b) < 0 THEN ((a % b) + b) % b ELSE a % b END AS BIGINT) AS r_pos,
      |  CAST(CASE WHEN b > 0
      |       THEN (a - CASE WHEN (a % b) < 0 THEN ((a % b) + b) % b ELSE a % b END) // b
      |       ELSE a // b END AS BIGINT) AS q_floor,
      |  (b * (a // b) + (a % b) = a) AS euclid_ok,
      |  (b < 0 OR CASE WHEN (a % b) < 0 THEN ((a % b) + b) % b ELSE a % b END >= 0) AS pmod_nonneg_ok
      |FROM g
      |ORDER BY a, b""".stripMargin
  query("q198_int_division", q198IntDivision, Some(q198Oracle))

  // ---------------------------------------------------------------- q199
  /** LOG₂-BUCKETED HISTOGRAM (HdrHistogram-style) — latency/value
    * histograms at scale use power-of-two buckets so the bucket id is
    * integer arithmetic, not a transcendental: floor(log2(x)) =
    * length(bin(x)) − 1 (the binary string length — engine-portable
    * and exact where a float log2 would wobble on boundary values like
    * exactly 2^k). Per (type, bucket): count, bucket bounds via
    * shiftleft, share and cumulative share in exact ppm.
    */
  def q199LogHistogram(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables
      .events(s, dir)
      .select(
        col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .where(col("cents") > 0)
      .withColumn("bucket", expr("cast(length(bin(cents)) - 1 as int)"))
    val h = ev.groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy(col("event_type"))
    val wc = Window
      .partitionBy(col("event_type"))
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("total", sum(col("n")).over(wt))
      .withColumn("cum", sum(col("n")).over(wc))
      .select(
        col("event_type"),
        col("bucket"),
        expr("shiftleft(1L, bucket)").as("lo_cents"),
        expr("shiftleft(1L, bucket + 1) - 1").as("hi_cents"),
        col("n"),
        expr("cast((n * 1000000) div total as bigint)").as("share_ppm"),
        expr("cast((cum * 1000000) div total as bigint)").as("cum_ppm"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val q199Oracle: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events
      |), b AS (
      |  SELECT event_type, CAST(length(bin(cents)) - 1 AS INT) AS bucket
      |  FROM ev WHERE cents > 0
      |), h AS (
      |  SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM b GROUP BY 1, 2
      |), w AS (
      |  SELECT *, SUM(n) OVER (PARTITION BY event_type) AS total,
      |    SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
      |                 ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM h
      |)
      |SELECT event_type, bucket,
      |  CAST(1 << bucket AS BIGINT) AS lo_cents,
      |  CAST((1 << (bucket + 1)) - 1 AS BIGINT) AS hi_cents,
      |  n,
      |  CAST((n * 1000000) // total AS BIGINT) AS share_ppm,
      |  CAST((cum * 1000000) // total AS BIGINT) AS cum_ppm
      |FROM w
      |ORDER BY event_type, bucket""".stripMargin
  query("q199_log_histogram", q199LogHistogram, Some(q199Oracle))

  // ---------------------------------------------------------------- q200
  /** DAILY OPERATIONS DASHBOARD — the analytics-family capstone (the
    * event-side sibling of q120's curation capstone): ONE dataflow per
    * UTC day composing this round's certified laws — q37 gap
    * sessionization (sessions started), q167's sweep-line concurrency
    * (daily peak of open sessions, global two-pass prefix sum), the
    * purchase/revenue cents grid, exact distinct users, and a
    * struct-ordered top event type. The oracle replays the full chain;
    * every constituent law is individually certified upstream, so a
    * red row here localizes to the COMPOSITION.
    */
  def q200DailyDashboard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val GapNs = 1800000000000L
    val ev = Tables
      .events(s, dir)
      .select(
        col("user_id"), col("event_id"), col("ts_ns"), col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .withColumn("day", to_date(expr("timestamp_micros(ts_ns div 1000)")))
    // per-day core stats
    val core = ev
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum((col("event_type") === "purchase").cast("long")).as("n_purchases"),
        sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L))
          .as("revenue_cents"))
    // top event type per day (deterministic argmax: count desc, type asc)
    val topType = ev
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("day"))
      .agg(max(struct(col("cnt"), expr("- ascii(event_type)").as("na"), col("event_type")))
        .getField("event_type").as("top_type"))
    // sessions started per day (q37 law; session start day)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val starts = ev
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
      .where(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > GapNs)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions_started"))
    // daily peak concurrency (q167 law, global sweep)
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = ev
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
      .withColumn(
        "is_new",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > GapNs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("is_new")).over(wr))
    val iv = sess
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_ns")).as("st"), (max(col("ts_ns")) + lit(GapNs)).as("en"))
    val deltas = iv
      .select(col("st").as("t"), lit(1L).as("sign"))
      .unionByName(iv.select(col("en").as("t"), lit(-1L).as("sign")))
      .groupBy(col("t"), col("sign"))
      .agg(sum(col("sign")).as("net"))
    val run = graft.ops.Sweep
      .orderedPrefixSum(deltas, Nil, col("t"), col("sign"), col("net"), "level")
      .withColumn("day", to_date(expr("timestamp_micros(t div 1000)")))
    val peaks = run.groupBy(col("day")).agg(max(col("level")).cast("long").as("peak_concurrency"))
    core
      .join(topType, Seq("day"))
      .join(starts, Seq("day"), "left")
      .join(peaks, Seq("day"), "left")
      .na
      .fill(0L, Seq("n_sessions_started", "peak_concurrency"))
      .select(
        col("day").cast("string").as("day"),
        col("n_events"),
        col("n_users"),
        col("n_sessions_started"),
        col("peak_concurrency"),
        col("n_purchases"),
        expr("cast((n_purchases * 1000000) div n_events as bigint)").as("purchase_ppm"),
        col("revenue_cents"),
        col("top_type"))
      .orderBy(col("day"))
  }

  val q200Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS t, event_type,
      |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS day
      |  FROM events
      |), core AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT) AS revenue_cents
      |  FROM ev GROUP BY day
      |), tt AS (
      |  SELECT day, event_type AS top_type FROM (
      |    SELECT day, event_type,
      |      row_number() OVER (PARTITION BY day ORDER BY COUNT(*) DESC, event_type ASC) AS rn
      |    FROM ev GROUP BY day, event_type) x
      |  WHERE rn = 1
      |), m AS (
      |  SELECT user_id, event_id, t, day,
      |    lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
      |  FROM ev
      |), st AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions_started
      |  FROM m WHERE pt IS NULL OR t - pt > 1800000000000
      |  GROUP BY day
      |), sid AS (
      |  SELECT user_id, t,
      |    SUM(CASE WHEN pt IS NULL OR t - pt > 1800000000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m
      |), iv AS (
      |  SELECT user_id, sid, MIN(t) AS s, MAX(t) + 1800000000000 AS e
      |  FROM sid GROUP BY user_id, sid
      |), d AS (
      |  SELECT s AS t, CAST(1 AS BIGINT) AS sign FROM iv
      |  UNION ALL SELECT e, CAST(-1 AS BIGINT) FROM iv
      |), nd AS (SELECT t, sign, SUM(sign) AS net FROM d GROUP BY t, sign),
      |r AS (
      |  SELECT t, SUM(net) OVER (ORDER BY t, sign ROWS UNBOUNDED PRECEDING) AS level
      |  FROM nd
      |), pk AS (
      |  SELECT CAST(make_timestamp(t // 1000) AS DATE) AS day,
      |    CAST(MAX(level) AS BIGINT) AS peak_concurrency
      |  FROM r GROUP BY 1
      |)
      |SELECT CAST(core.day AS VARCHAR) AS day, core.n_events, core.n_users,
      |  COALESCE(st.n_sessions_started, 0) AS n_sessions_started,
      |  COALESCE(pk.peak_concurrency, 0) AS peak_concurrency,
      |  core.n_purchases,
      |  CAST((core.n_purchases * 1000000) // core.n_events AS BIGINT) AS purchase_ppm,
      |  core.revenue_cents,
      |  tt.top_type
      |FROM core
      |JOIN tt ON tt.day = core.day
      |LEFT JOIN st ON st.day = core.day
      |LEFT JOIN pk ON pk.day = core.day
      |ORDER BY day""".stripMargin
  query("q200_daily_dashboard", q200DailyDashboard, Some(q200Oracle))

  // ---------------------------------------------------------------- q201
  /** GEO GRID INDEX ([[graft.ops.Geo]]) — stations (synthetic
    * micro-degree lat/lon from supplier keys, both engines replay the
    * LCG) bucketed into 10° truncating-division cells; per cell the
    * station count and the nearest station to the cell center by EXACT
    * squared integer distance (struct-ordered argmin, (d2, suppkey)
    * tiebreak). No trig, no sqrt — the transcendental-free spatial
    * recipe; nearest/containment decisions are order-equivalent under
    * squaring.
    */
  def q201GeoGrid(s: SparkSession, dir: String): DataFrame = {
    val st = Tables
      .supplier(s, dir)
      .select(col("s_suppkey").as("sk"))
      .withColumn("lat", expr("((sk * 2654435761) % 120000000) - 60000000"))
      .withColumn("lon", expr("((sk * 2246822519) % 360000000) - 180000000"))
    val W = 10000000L
    st.withColumn("cr", expr(s"lat div $W"))
      .withColumn("cc", expr(s"lon div $W"))
      .withColumn("clat", col("cr") * W + lit(W / 2))
      .withColumn("clon", col("cc") * W + lit(W / 2))
      .withColumn(
        "d2",
        (col("lat") - col("clat")) * (col("lat") - col("clat")) +
          (col("lon") - col("clon")) * (col("lon") - col("clon")))
      .groupBy(col("cr"), col("cc"))
      .agg(
        count(lit(1)).as("n_stations"),
        min(struct(col("d2"), col("sk"))).getField("sk").as("nearest_to_center"),
        min(col("d2")).as("min_d2"))
      .orderBy(col("cr"), col("cc"))
  }

  val q201Oracle: String =
    """WITH st AS (
      |  SELECT s_suppkey AS sk,
      |    ((s_suppkey * 2654435761) % 120000000) - 60000000 AS lat,
      |    ((s_suppkey * 2246822519) % 360000000) - 180000000 AS lon
      |  FROM supplier
      |), c AS (
      |  SELECT sk, lat, lon,
      |    lat // 10000000 AS cr, lon // 10000000 AS cc
      |  FROM st
      |), d AS (
      |  SELECT sk, cr, cc,
      |    (lat - (cr * 10000000 + 5000000)) * (lat - (cr * 10000000 + 5000000)) +
      |    (lon - (cc * 10000000 + 5000000)) * (lon - (cc * 10000000 + 5000000)) AS d2
      |  FROM c
      |), rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY cr, cc ORDER BY d2, sk) AS rn
      |  FROM d
      |)
      |SELECT CAST(cr AS BIGINT) AS cr, CAST(cc AS BIGINT) AS cc,
      |  CAST(COUNT(*) AS BIGINT) AS n_stations,
      |  CAST(MAX(CASE WHEN rn = 1 THEN sk END) AS BIGINT) AS nearest_to_center,
      |  CAST(MIN(d2) AS BIGINT) AS min_d2
      |FROM rk
      |GROUP BY cr, cc
      |ORDER BY cr, cc""".stripMargin
  query("q201_geo_grid", q201GeoGrid, Some(q201Oracle))

  // ---------------------------------------------------------------- q202
  /** SPATIAL RADIUS JOIN ([[graft.ops.Geo.radiusJoin]]) — every
    * (point, station) pair within 5° by exact squared integer distance,
    * via the LSH-for-space plan: stations fan out to their 3×3
    * neighbor cells (bounded ×9 on the SMALL side), points equi-join on
    * their single cell, candidates filter exactly. The oracle is the
    * naive |P|·|S| theta join — the definition the grid plan must
    * equal. Output: per-point match-count histogram + pair mass +
    * Σ min-d2 checksum over matched points.
    */
  def q202SpatialJoin(s: SparkSession, dir: String): DataFrame = {
    val R = 5000000L
    val st = Tables
      .supplier(s, dir)
      .select(col("s_suppkey").as("sk"))
      .withColumn("slat", expr("((sk * 2654435761) % 120000000) - 60000000"))
      .withColumn("slon", expr("((sk * 2246822519) % 360000000) - 180000000"))
    val pts = Tables
      .customer(s, dir)
      .where(col("c_custkey") <= 2000)
      .select(col("c_custkey").as("pk"))
      .withColumn("plat", expr("((pk * 3266489917) % 120000000) - 60000000"))
      .withColumn("plon", expr("((pk * 668265263) % 360000000) - 180000000"))
    val pairs = graft.ops.Geo
      .radiusJoin(pts, st, "plat", "plon", "slat", "slon", R)
      .select(col("pk"), col("sk"), col("d2"))
    val perPoint = pairs
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_matches"), min(col("d2")).as("min_d2"))
    val withAll = pts
      .select(col("pk"))
      .join(perPoint, Seq("pk"), "left")
      .na
      .fill(0L, Seq("n_matches"))
    withAll
      .withColumn(
        "bucket",
        when(col("n_matches") === 0, "0")
          .when(col("n_matches") === 1, "1")
          .when(col("n_matches") <= 5, "2-5")
          .otherwise("6+"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_points"),
        sum(col("n_matches")).as("n_pairs"),
        coalesce(sum(col("min_d2")), lit(0L)).as("sum_min_d2"))
      .orderBy(col("bucket"))
  }

  val q202Oracle: String =
    """WITH st AS (
      |  SELECT s_suppkey AS sk,
      |    ((s_suppkey * 2654435761) % 120000000) - 60000000 AS slat,
      |    ((s_suppkey * 2246822519) % 360000000) - 180000000 AS slon
      |  FROM supplier
      |), pts AS (
      |  SELECT c_custkey AS pk,
      |    ((c_custkey * 3266489917) % 120000000) - 60000000 AS plat,
      |    ((c_custkey * 668265263) % 360000000) - 180000000 AS plon
      |  FROM customer WHERE c_custkey <= 2000
      |), pairs AS (
      |  SELECT pk, sk,
      |    (plat - slat) * (plat - slat) + (plon - slon) * (plon - slon) AS d2
      |  FROM pts, st
      |  WHERE (plat - slat) * (plat - slat) + (plon - slon) * (plon - slon)
      |        <= CAST(5000000 AS BIGINT) * 5000000
      |), pp AS (
      |  SELECT pts.pk,
      |    CAST(COUNT(pairs.sk) AS BIGINT) AS n_matches,
      |    MIN(pairs.d2) AS min_d2
      |  FROM pts LEFT JOIN pairs ON pairs.pk = pts.pk
      |  GROUP BY pts.pk
      |), b AS (
      |  SELECT pk, n_matches, min_d2,
      |    CASE WHEN n_matches = 0 THEN '0'
      |         WHEN n_matches = 1 THEN '1'
      |         WHEN n_matches <= 5 THEN '2-5'
      |         ELSE '6+' END AS bucket
      |  FROM pp
      |)
      |SELECT bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_points,
      |  CAST(SUM(n_matches) AS BIGINT) AS n_pairs,
      |  CAST(COALESCE(SUM(min_d2), 0) AS BIGINT) AS sum_min_d2
      |FROM b
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin
  query("q202_spatial_join", q202SpatialJoin, Some(q202Oracle))

  // ---------------------------------------------------------------- q204
  /** SPATIAL k-NN — top-3 nearest stations per point among the 5°
    * grid candidates, ranked by the exact (d2, suppkey) total order.
    * The coverage caveat is explicit: grid k-NN only sees candidates
    * inside the radius, so points with fewer than 3 candidates report
    * what they have (counted per bucket) — the production fix is ring
    * expansion, the certified contract here is "k-NN AMONG candidates".
    */
  def q204SpatialKnn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val R = 5000000L
    val st = Tables
      .supplier(s, dir)
      .select(col("s_suppkey").as("sk"))
      .withColumn("slat", expr("((sk * 2654435761) % 120000000) - 60000000"))
      .withColumn("slon", expr("((sk * 2246822519) % 360000000) - 180000000"))
    val pts = Tables
      .customer(s, dir)
      .where(col("c_custkey") <= 2000)
      .select(col("c_custkey").as("pk"))
      .withColumn("plat", expr("((pk * 3266489917) % 120000000) - 60000000"))
      .withColumn("plon", expr("((pk * 668265263) % 360000000) - 180000000"))
    val w = Window.partitionBy(col("pk")).orderBy(col("d2").asc, col("sk").asc)
    val top3 = graft.ops.Geo
      .radiusJoin(pts, st, "plat", "plon", "slat", "slon", R)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
    top3
      .groupBy(expr("pk div 200").as("bucket"))
      .agg(
        countDistinct(col("pk")).as("n_points_matched"),
        sum((col("rn") === 3).cast("long")).as("n_with_3"),
        sum(when(col("rn") === 1, col("d2"))).as("sum_nn1_d2"),
        sum(when(col("rn") === 3, col("d2"))).as("sum_nn3_d2"),
        sum(when(col("rn") === 1, col("sk")).otherwise(0L)).as("nn1_sk_checksum"))
      .orderBy(col("bucket"))
  }

  val q204Oracle: String =
    """WITH st AS (
      |  SELECT s_suppkey AS sk,
      |    ((s_suppkey * 2654435761) % 120000000) - 60000000 AS slat,
      |    ((s_suppkey * 2246822519) % 360000000) - 180000000 AS slon
      |  FROM supplier
      |), pts AS (
      |  SELECT c_custkey AS pk,
      |    ((c_custkey * 3266489917) % 120000000) - 60000000 AS plat,
      |    ((c_custkey * 668265263) % 360000000) - 180000000 AS plon
      |  FROM customer WHERE c_custkey <= 2000
      |), pairs AS (
      |  SELECT pk, sk,
      |    (plat - slat) * (plat - slat) + (plon - slon) * (plon - slon) AS d2
      |  FROM pts, st
      |  WHERE (plat - slat) * (plat - slat) + (plon - slon) * (plon - slon)
      |        <= CAST(5000000 AS BIGINT) * 5000000
      |), rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY d2 ASC, sk ASC) AS rn
      |  FROM pairs
      |), t3 AS (SELECT * FROM rk WHERE rn <= 3)
      |SELECT CAST(pk // 200 AS BIGINT) AS bucket,
      |  CAST(COUNT(DISTINCT pk) AS BIGINT) AS n_points_matched,
      |  CAST(SUM(CASE WHEN rn = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_3,
      |  CAST(SUM(CASE WHEN rn = 1 THEN d2 END) AS BIGINT) AS sum_nn1_d2,
      |  CAST(SUM(CASE WHEN rn = 3 THEN d2 END) AS BIGINT) AS sum_nn3_d2,
      |  CAST(SUM(CASE WHEN rn = 1 THEN sk ELSE 0 END) AS BIGINT) AS nn1_sk_checksum
      |FROM t3
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin
  query("q204_spatial_knn", q204SpatialKnn, Some(q204Oracle))

  // ---------------------------------------------------------------- q205
  /** WATERMARK LATE-ARRIVAL ACCOUNTING — streaming semantics certified
    * in batch: with arrival order proxied by event_id, an event is LATE
    * iff the watermark had already passed its timestamp when it
    * arrived: ts_i < max_{j<i}(ts_j) − W (strictly-previous running
    * max, W = 1 h). This is exactly the drop rule
    * streaming/PerKeyWatermark enforces live; the batch certificate
    * quantifies it per type — late counts, ppm, and the worst lateness
    * — and the oracle replays the same exclusive-frame window.
    */
  def q205LateArrivals(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 3600000000000L
    val wprev = Window
      .partitionBy(col("event_type"))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables
      .events(s, dir)
      .select(col("event_type"), col("event_id"), col("ts_ns"))
      .withColumn("wm", max(col("ts_ns")).over(wprev) - lit(W))
      .withColumn("late", (col("wm").isNotNull && col("ts_ns") < col("wm")).cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("late")).as("n_late"),
        expr("cast((sum(late) * 1000000) div count(1) as bigint)").as("late_ppm"),
        coalesce(
          max(when(col("late") === 1, expr("(wm - ts_ns) div 1000000"))),
          lit(0L)).as("max_lateness_ms"))
      .orderBy(col("event_type"))
  }

  val q205Oracle: String =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_ns(ts) AS t FROM events
      |), w AS (
      |  SELECT event_type, t,
      |    MAX(t) OVER (PARTITION BY event_type ORDER BY event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      - 3600000000000 AS wm
      |  FROM e
      |), l AS (
      |  SELECT event_type, t, wm,
      |    CASE WHEN wm IS NOT NULL AND t < wm THEN 1 ELSE 0 END AS late
      |  FROM w
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(late) AS BIGINT) AS n_late,
      |  CAST((SUM(late) * 1000000) // COUNT(*) AS BIGINT) AS late_ppm,
      |  CAST(COALESCE(MAX(CASE WHEN late = 1 THEN (wm - t) // 1000000 END), 0) AS BIGINT)
      |    AS max_lateness_ms
      |FROM l
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
  query("q205_late_arrivals", q205LateArrivals, Some(q205Oracle))

  // ---------------------------------------------------------------- q206
  /** DEDUP IDEMPOTENCE — pipeline re-run safety as a law: applying
    * [[graft.ops.Dedup.firstWins]] to its own output must be the
    * identity (f∘f = f). Certified by order-independent digests
    * (count, id sum, id bit_xor) of the first and second applications,
    * with the equality verdicts in the checked row — a re-run of an
    * idempotent stage on a cluster must be a no-op, not a data change.
    */
  def q206DedupIdempotence(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
    val keys = Seq("user_id", "event_type", "ts_ns")
    val d1 = graft.ops.Dedup.firstWins(ev, keys, Seq("event_id"))
    val d2 = graft.ops.Dedup.firstWins(d1, keys, Seq("event_id"))
    def digest(df: DataFrame, p: String) =
      df.agg(
        count(lit(1)).as(s"${p}_n"),
        sum(col("event_id")).as(s"${p}_sum"),
        expr("bit_xor(event_id)").as(s"${p}_xor"))
    digest(d1, "a")
      .crossJoin(digest(d2, "b"))
      .select(
        col("a_n"),
        col("a_sum"),
        col("a_xor"),
        (col("a_n") === col("b_n")).as("n_stable"),
        (col("a_sum") === col("b_sum")).as("sum_stable"),
        (col("a_xor") === col("b_xor")).as("xor_stable"))
  }

  val q206Oracle: String =
    """WITH d1 AS (
      |  SELECT user_id, event_type, t, event_id FROM (
      |    SELECT user_id, event_type, epoch_ns(ts) AS t, event_id,
      |      row_number() OVER (PARTITION BY user_id, event_type, epoch_ns(ts)
      |                         ORDER BY event_id) AS rn
      |    FROM events) x
      |  WHERE rn = 1
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS a_n,
      |  CAST(SUM(event_id) AS BIGINT) AS a_sum,
      |  CAST(bit_xor(event_id) AS BIGINT) AS a_xor,
      |  TRUE AS n_stable, TRUE AS sum_stable, TRUE AS xor_stable
      |FROM d1""".stripMargin
  query("q206_dedup_idempotence", q206DedupIdempotence, Some(q206Oracle))

  // ---------------------------------------------------------------- q208
  /** Z-ORDER EFFECTIVENESS, MEASURED — q89 computes the layout; this
    * query QUANTIFIES why it exists: for 20 deterministic 8×8 range
    * rectangles over a (x, y) ∈ [0,255]² key space, count the files a
    * scan must touch when rows are laid out (a) lexicographically
    * (file = x: a rectangle constraining both dims touches one file
    * per x value) vs (b) z-ordered ([[graft.ops.Layout.zValue]],
    * 256-slot files: the rectangle's z-range covers far fewer files).
    * Same zValue/zValueSql generator on both engines — the spec and
    * its replay can never drift.
    */
  def q208ZorderEffect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables
      .lineitem(s, dir)
      .select(
        (col("l_partkey") % 256).as("x"),
        ((col("l_suppkey") * 131) % 256).as("y"))
      .withColumn(
        "zkey",
        graft.ops.Layout.zValue(Seq((col("x"), 0L, 255L), (col("y"), 0L, 255L)), 8))
      .withColumn("file_lex", expr("(x * 256 + y) div 256"))
      .withColumn("file_z", expr("zkey div 256"))
    val queries = (0 until 20)
      .map(i => (i, (i * 37L) % 248, (i * 53L) % 248))
      .toDF("qid", "x0", "y0")
    rows
      .crossJoin(broadcast(queries))
      .where(
        col("x") >= col("x0") && col("x") <= col("x0") + 7 &&
          col("y") >= col("y0") && col("y") <= col("y0") + 7)
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("file_lex")).as("files_lex"),
        countDistinct(col("file_z")).as("files_z"))
      .orderBy(col("qid"))
  }

  val q208Oracle: String = {
    val zsql = graft.ops.Layout.zValueSql(Seq(("x", 0L, 255L), ("y", 0L, 255L)), 8)
    s"""WITH rows_k AS (
       |  SELECT l_partkey % 256 AS x, (l_suppkey * 131) % 256 AS y FROM lineitem
       |), keyed AS (
       |  SELECT x, y,
       |    (x * 256 + y) // 256 AS file_lex,
       |    $zsql // 256 AS file_z
       |  FROM rows_k
       |), q AS (
       |  SELECT CAST(i AS INT) AS qid, (i * 37) % 248 AS x0, (i * 53) % 248 AS y0
       |  FROM (SELECT unnest(range(0, 20)) AS i)
       |)
       |SELECT q.qid, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(DISTINCT file_lex) AS BIGINT) AS files_lex,
       |  CAST(COUNT(DISTINCT file_z) AS BIGINT) AS files_z
       |FROM keyed JOIN q
       |  ON x BETWEEN x0 AND x0 + 7 AND y BETWEEN y0 AND y0 + 7
       |GROUP BY q.qid
       |ORDER BY q.qid""".stripMargin
  }
  query("q208_zorder_effect", q208ZorderEffect, Some(q208Oracle))

  // ---------------------------------------------------------------- q209
  /** NULL-SEMANTICS AGGREGATE TRUTH TABLE — the exact rules every
    * migration trips over, pinned differentially on planted data
    * (every 4th value null, one all-null group): count(*) counts rows,
    * count(x) and count(distinct x) skip nulls, sum/avg/min/max of an
    * all-null group are NULL (not 0), a NULL group KEY forms a real
    * group, and sum(x) ignores nulls rather than poisoning the sum.
    */
  def q209NullAggregates(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(s, dir)
      .select(
        // group key: null for every 5th user; 'Z' group has all-null values
        when(col("user_id") % 5 === 0, lit(null).cast("string"))
          .otherwise(when(col("user_id") % 7 === 0, lit("Z"))
            .otherwise(col("event_type"))).as("g"),
        when(col("user_id") % 7 === 0, lit(null).cast("long"))
          .otherwise(when(col("event_id") % 4 === 0, lit(null).cast("long"))
            .otherwise(col("event_id"))).as("x"))
    ev.groupBy(col("g"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("x")).as("n_x"),
        countDistinct(col("x")).as("nd_x"),
        sum(col("x")).as("sum_x"),
        min(col("x")).as("min_x"),
        (count(lit(1)) - count(col("x"))).as("n_null_x"),
        sum(col("x")).isNull.as("sum_is_null"))
      .orderBy(col("g").asc_nulls_first)
  }

  val q209Oracle: String =
    """WITH ev AS (
      |  SELECT
      |    CASE WHEN user_id % 5 = 0 THEN NULL
      |         WHEN user_id % 7 = 0 THEN 'Z'
      |         ELSE event_type END AS g,
      |    CASE WHEN user_id % 7 = 0 THEN NULL
      |         WHEN event_id % 4 = 0 THEN NULL
      |         ELSE event_id END AS x
      |  FROM events
      |)
      |SELECT g,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(x) AS BIGINT) AS n_x,
      |  CAST(COUNT(DISTINCT x) AS BIGINT) AS nd_x,
      |  CAST(SUM(x) AS BIGINT) AS sum_x,
      |  CAST(MIN(x) AS BIGINT) AS min_x,
      |  CAST(COUNT(*) - COUNT(x) AS BIGINT) AS n_null_x,
      |  (SUM(x) IS NULL) AS sum_is_null
      |FROM ev
      |GROUP BY g
      |ORDER BY g ASC NULLS FIRST""".stripMargin
  query("q209_null_aggregates", q209NullAggregates, Some(q209Oracle))

  // ---------------------------------------------------------------- q210
  /** NULL-ORDERING CERTIFICATE — the DEFAULTS differ (Spark ASC puts
    * nulls FIRST, DuckDB ASC puts them LAST), so portable SQL must
    * spell NULLS FIRST/LAST explicitly; this certificate pins all four
    * explicit spellings by ranking a planted null-bearing column each
    * way and emitting the positions nulls land in (1..k for FIRST,
    * n-k+1..n for LAST, both directions).
    */
  def q210NullOrdering(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables
      .events(s, dir)
      .where(col("event_id") < 500)
      .select(
        col("event_id"),
        when(col("event_id") % 9 === 0, lit(null).cast("long"))
          .otherwise(col("ts_ns")).as("v"))
    val wAf = Window.orderBy(col("v").asc_nulls_first, col("event_id"))
    val wAl = Window.orderBy(col("v").asc_nulls_last, col("event_id"))
    val wDf = Window.orderBy(col("v").desc_nulls_first, col("event_id"))
    val wDl = Window.orderBy(col("v").desc_nulls_last, col("event_id"))
    def pos(r: String) = sum(when(col("v").isNull, col(r)).otherwise(0L).cast("long"))
    ev.withColumn("raf", row_number().over(wAf))
      .withColumn("ral", row_number().over(wAl))
      .withColumn("rdf", row_number().over(wDf))
      .withColumn("rdl", row_number().over(wDl))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v").isNull.cast("long")).as("n_nulls"),
        pos("raf").as("nullpos_asc_first"),
        pos("ral").as("nullpos_asc_last"),
        pos("rdf").as("nullpos_desc_first"),
        pos("rdl").as("nullpos_desc_last"))
  }

  val q210Oracle: String =
    """WITH e AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 9 = 0 THEN NULL ELSE epoch_ns(ts) END AS v
      |  FROM events WHERE event_id < 500
      |), r AS (
      |  SELECT v,
      |    row_number() OVER (ORDER BY v ASC NULLS FIRST, event_id) AS raf,
      |    row_number() OVER (ORDER BY v ASC NULLS LAST, event_id) AS ral,
      |    row_number() OVER (ORDER BY v DESC NULLS FIRST, event_id) AS rdf,
      |    row_number() OVER (ORDER BY v DESC NULLS LAST, event_id) AS rdl
      |  FROM e
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |  CAST(SUM(CASE WHEN v IS NULL THEN raf ELSE 0 END) AS BIGINT) AS nullpos_asc_first,
      |  CAST(SUM(CASE WHEN v IS NULL THEN ral ELSE 0 END) AS BIGINT) AS nullpos_asc_last,
      |  CAST(SUM(CASE WHEN v IS NULL THEN rdf ELSE 0 END) AS BIGINT) AS nullpos_desc_first,
      |  CAST(SUM(CASE WHEN v IS NULL THEN rdl ELSE 0 END) AS BIGINT) AS nullpos_desc_last
      |FROM r""".stripMargin
  query("q210_null_ordering", q210NullOrdering, Some(q210Oracle))

  // ---------------------------------------------------------------- q211
  /** JOIN-MULTIPLICITY MATRIX — every join type on one planted pair of
    * keyed multisets (dup keys, nulls on both sides, one-side-only
    * keys): inner is Σ_k a_k·b_k, left/right add the unmatched sides,
    * full adds both, semi/anti are row-level existence (each left row
    * once), cross is |A|·|B|, and nulls never match anything. The
    * count ALGEBRA is pinned as law columns (left = inner + anti,
    * full = left + right − inner) so a multiplicity bug in any join
    * path turns the row red.
    */
  def q211JoinMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = Seq(
      Option("a"), Option("a"), Option("b"), Option("c"), Option("c"),
      Option("c"), Option.empty[String], Option("d")).toDF("k")
    val b = Seq(
      Option("a"), Option("a"), Option("a"), Option("b"), Option("b"),
      Option.empty[String], Option.empty[String], Option("e")).toDF("k")
    val b2 = b.withColumnRenamed("k", "k2")
    def cnt(df: DataFrame, n: String) = df.agg(count(lit(1)).as(n))
    cnt(a.join(b2, col("k") === col("k2"), "inner"), "n_inner")
      .crossJoin(cnt(a.join(b2, col("k") === col("k2"), "left"), "n_left"))
      .crossJoin(cnt(a.join(b2, col("k") === col("k2"), "right"), "n_right"))
      .crossJoin(cnt(a.join(b2, col("k") === col("k2"), "full"), "n_full"))
      .crossJoin(cnt(a.join(b2, col("k") === col("k2"), "left_semi"), "n_semi"))
      .crossJoin(cnt(a.join(b2, col("k") === col("k2"), "left_anti"), "n_anti"))
      .crossJoin(cnt(a.crossJoin(b2), "n_cross"))
      .select(
        col("n_inner"), col("n_left"), col("n_right"), col("n_full"),
        col("n_semi"), col("n_anti"), col("n_cross"),
        (col("n_left") === col("n_inner") + col("n_anti")).as("left_law_ok"),
        (col("n_full") === col("n_left") + col("n_right") - col("n_inner")).as("full_law_ok"))
  }

  val q211Oracle: String =
    """WITH a AS (SELECT unnest(['a','a','b','c','c','c',NULL,'d']) AS k),
      |b AS (SELECT unnest(['a','a','a','b','b',NULL,NULL,'e']) AS k2)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b ON k = k2) AS n_inner,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a LEFT JOIN b ON k = k2) AS n_left,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a RIGHT JOIN b ON k = k2) AS n_right,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a FULL JOIN b ON k = k2) AS n_full,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a WHERE EXISTS
      |     (SELECT 1 FROM b WHERE k2 = a.k)) AS n_semi,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a WHERE NOT EXISTS
      |     (SELECT 1 FROM b WHERE k2 = a.k)) AS n_anti,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a CROSS JOIN b) AS n_cross,
      |  TRUE AS left_law_ok,
      |  TRUE AS full_law_ok""".stripMargin
  query("q211_join_matrix", q211JoinMatrix, Some(q211Oracle))

  // ---------------------------------------------------------------- q212
  /** CAST / COERCION TRUTH TABLE — ANSI-off cast semantics pinned on
    * adversarial literals. The engines genuinely DIVERGE on two rules,
    * so the oracle encodes the translation rather than assuming parity
    * (the q198 discipline): DuckDB CAST(double AS INT) ROUNDS
    * half-away (12.7 → 13) while Spark TRUNCATES (12.7 → 12) — the
    * oracle wraps trunc(); and STRINGS to int: Spark accepts plain
    * decimal literals only and TRUNCATES ('12.7' → 12, '1e3' → null
    * — measured), while DuckDB TRY_CAST rounds and accepts exponents
    * — the oracle emulates Spark's rule with a literal-shape regex +
    * trunc + range check. Junk, whitespace, empty, overflow,
    * scientific-notation, and signed-zero strings complete the table.
    */
  def q212CastTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val strs = Seq("12abc", "  42  ", "1e3", "12.7", "-12.7", "", "2147483648", "-0", "7")
    val dbls = Seq(12.7, -12.7, 2.5, 3.5, -0.5, 99.999)
    val sdf = strs
      .toDF("sv")
      .select(
        col("sv"),
        expr("cast(sv as int)").as("s_to_int"),
        expr("cast(sv as double)").as("s_to_double"))
    val ddf = dbls
      .toDF("dv")
      .select(
        col("dv"),
        expr("cast(dv as int)").as("d_to_int"),
        expr("cast(dv as bigint)").as("d_to_long"))
    sdf
      .agg(
        count(col("s_to_int")).as("n_str_int_ok"),
        coalesce(sum(col("s_to_int")), lit(0L)).cast("long").as("sum_str_int"),
        count(col("s_to_double")).as("n_str_dbl_ok"),
        coalesce(sum(col("s_to_double")), lit(0.0)).as("sum_str_dbl"))
      .crossJoin(ddf.agg(
        sum(col("d_to_int")).cast("long").as("sum_dbl_int"),
        sum(col("d_to_long")).as("sum_dbl_long")))
  }

  val q212Oracle: String =
    """WITH s AS (
      |  SELECT unnest(['12abc', '  42  ', '1e3', '12.7', '-12.7', '',
      |                 '2147483648', '-0', '7']) AS sv
      |), sc AS (
      |  -- Spark ANSI-off string->int: null on junk/overflow, TRUNCATES
      |  -- decimal strings (DuckDB TRY_CAST would round 12.7 -> 13);
      |  -- emulate by parsing as DOUBLE first, trunc, then range check
      |  -- measured Spark rule: plain decimal literals only (NO
      |  -- exponent — '1e3' is null as int but 1000.0 as double),
      |  -- truncated toward zero, null on int overflow
      |  SELECT sv,
      |    CAST(CASE WHEN NOT regexp_matches(sv, '^\s*[+-]?[0-9]+(\.[0-9]*)?\s*$') THEN NULL
      |              WHEN trunc(TRY_CAST(sv AS DOUBLE)) > 2147483647
      |                OR trunc(TRY_CAST(sv AS DOUBLE)) < -2147483648 THEN NULL
      |              ELSE trunc(TRY_CAST(sv AS DOUBLE)) END AS INT) AS s_to_int,
      |    TRY_CAST(sv AS DOUBLE) AS s_to_double
      |  FROM s
      |), d AS (
      |  SELECT unnest([12.7, -12.7, 2.5, 3.5, -0.5, 99.999]) AS dv
      |), dc AS (
      |  -- Spark double->int truncates toward zero; DuckDB CAST rounds
      |  SELECT CAST(trunc(dv) AS INT) AS d_to_int,
      |    CAST(trunc(dv) AS BIGINT) AS d_to_long
      |  FROM d
      |)
      |SELECT
      |  (SELECT CAST(COUNT(s_to_int) AS BIGINT) FROM sc) AS n_str_int_ok,
      |  (SELECT CAST(COALESCE(SUM(s_to_int), 0) AS BIGINT) FROM sc) AS sum_str_int,
      |  (SELECT CAST(COUNT(s_to_double) AS BIGINT) FROM sc) AS n_str_dbl_ok,
      |  (SELECT CAST(COALESCE(SUM(s_to_double), 0.0) AS DOUBLE) FROM sc) AS sum_str_dbl,
      |  (SELECT CAST(SUM(d_to_int) AS BIGINT) FROM dc) AS sum_dbl_int,
      |  (SELECT CAST(SUM(d_to_long) AS BIGINT) FROM dc) AS sum_dbl_long""".stripMargin
  query("q212_cast_table", q212CastTable, Some(q212Oracle))

}
