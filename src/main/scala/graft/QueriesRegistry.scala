package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The registry as the driver contract reads it (`all`, `oracles`),
  * derived from the `query(...)` declarations, and the oracles Verify
  * generates from corpus statistics.
  */
private[graft] trait QueriesRegistry extends QueryRegistration {
  this: QueriesCore with QueriesCuration with QueriesAnalytics with QueriesExact with QueriesGraph with QueriesJdbc =>

  lazy val all: Map[String, (SparkSession, String) => DataFrame] =
    registered.map { case (name, q) => name -> q.build }

  lazy val oracles: Map[String, String] =
    registered.collect { case (name, Q(_, _, Some(sql))) => name -> sql }

  // ------------------------------------------------------- dynamic oracles
  /** Oracles GENERATED AT VERIFY TIME from the same corpus statistics
    * the Spark queries read. q30/q31/q107 derive their LSH geometry
    * adaptively via Similarity.lshParams(corpus count) — a static SQL
    * string would freeze one (nbits, tables) and silently rot if the
    * gate ever ran at a different SF. Generating the replay AFTER
    * reading the corpus count keeps the adaptive policy AND the
    * certification: the oracle always replays exactly the geometry the
    * Spark side derived. (The count is a parquet-footer metadata read,
    * the same one the queries themselves pay.)
    */
  def dynamicOracles(s: SparkSession, dir: String): Map[String, String] =
    // PER-ENTRY fault isolation (T6): each generator runs in its own
    // try, so one failure (e.g. Pq.fit throwing during q94 generation)
    // costs only that query's oracle, never the whole dynamic set — the
    // all-in-one Map construction used through round 5 contradicted
    // exactly that contract.
    dynamicOracleGenerators(s, dir).flatMap { case (name, gen) =>
      try Some(name -> gen())
      catch {
        // NonFatal only: an OOM/LinkageError means the JVM is already
        // compromised — continuing to generate the remaining oracles in
        // it would ship silently-missing oracles attributed to the
        // wrong cause; let fatal errors propagate to Verify's top level
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] dynamic oracle for $name failed: ${e.getMessage}")
          None
      }
    }.toMap

  /** One generator per query whose oracle is generated at Verify time;
    * nothing runs until a generator is applied. The corpus count is
    * shared lazily (one Spark job, not one per n-dependent entry; a
    * failed count simply fails each n-dependent generator individually).
    */
  private[graft] def dynamicOracleGenerators(s: SparkSession, dir: String): Seq[(String, () => String)] = {
    lazy val n = Tables.embeddings(s, dir).count()
    Seq(
      ("q30_ann_lsh", () => q30OracleFor(n)),
      ("q31_embed_neardups", () => q31OracleFor(n)),
      ("q107_hard_negatives_ann", () => q107OracleFor(n)),
      ("q94_pq_adc", () => q94OracleFor(s, dir)),
      ("q33_dedup_assign", () => q33OracleFor(s, dir)),
      ("q49_ann_adaptive", () => q49OracleFor(n)),
      ("q27_minhash_dedup", () => q27OracleFor(s, dir)),
      ("q28_simhash", () => q28OracleFor(s, dir)),
      ("q44_hll_sketch", () => q44OracleFor(s, dir)),
      ("q48_minhash_recall", () => q48OracleFor(s, dir)),
      ("q54_media_dedup", () => q54OracleFor(s, dir)),
      ("q109_ivf_pq", () => q109OracleFor(s, dir)),
      ("q122_bm25", () => q122OracleFor(s, dir)),
      ("q255_rrf_fusion", () => q255OracleFor(s, dir))
    )
  }

  /** q30 replay at corpus size `n`: same adaptive geometry, banding,
    * radius-1 multiprobe on the query side, candidate dedup, and
    * rounded-cosine ranking as Similarity.annTopK. */
  def q30OracleFor(n: Long): String = {
    val (nbits, tables) = Similarity.lshParams(n, targetCosine = 0.4, probeHamming = 1)
    s"""WITH dbk AS (
       |${LshSql.dbk(nbits, tables)}
       |), qpb AS (
       |  SELECT vec_id AS query_id, tbl, unnest([${LshSql.probeList(nbits)}]) AS bucket
       |  FROM dbk WHERE vec_id < 10
       |), cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |  FROM dbk c JOIN qpb q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |  WHERE c.vec_id <> q.query_id
       |)
       |SELECT query_id, rank, neighbor_id, sim FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS sim,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY cand.query_id
       |      ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
       |               cand.neighbor_id) AS rank
       |  FROM cand
       |  JOIN embeddings c ON cand.neighbor_id = c.vec_id
       |  JOIN embeddings q ON cand.query_id = q.vec_id
       |) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q31 replay at corpus size `n`: one-side radius-1 multiprobe bucket
    * self-join, candidate dedup, rounded-cosine threshold — exactly
    * Similarity.nearDupsEmbedding's pipeline. */
  def q31OracleFor(n: Long): String = {
    val (nbits, tables) = Similarity.lshParams(n, targetCosine = 0.35, probeHamming = 1)
    s"""WITH dbk AS (
       |${LshSql.dbk(nbits, tables)}
       |), pa AS (
       |  SELECT vec_id AS id_a, tbl, unnest([${LshSql.probeList(nbits)}]) AS bucket FROM dbk
       |), cand AS (
       |  SELECT DISTINCT a.id_a, b.vec_id AS id_b
       |  FROM pa a JOIN dbk b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.id_a < b.vec_id
       |)
       |SELECT cand.id_a, cand.id_b,
       |  round(list_cosine_similarity(va.embedding::DOUBLE[], vb.embedding::DOUBLE[]), 4) AS sim
       |FROM cand
       |JOIN embeddings va ON cand.id_a = va.vec_id
       |JOIN embeddings vb ON cand.id_b = vb.vec_id
       |WHERE round(list_cosine_similarity(va.embedding::DOUBLE[], vb.embedding::DOUBLE[]), 4) >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q49 replay at corpus size `n`: q30's candidate/ranking replay plus
    * the exact brute-force side and the recallAudit arithmetic. */
  def q49OracleFor(n: Long): String = {
    val (nbits, tables) = Similarity.lshParams(n, targetCosine = 0.4, probeHamming = 1)
    s"""WITH dbk AS (
       |${LshSql.dbk(nbits, tables)}
       |), qpb AS (
       |  SELECT vec_id AS query_id, tbl, unnest([${LshSql.probeList(nbits)}]) AS bucket
       |  FROM dbk WHERE vec_id < 10
       |), cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |  FROM dbk c JOIN qpb q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |  WHERE c.vec_id <> q.query_id
       |), ar AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT cand.query_id, cand.neighbor_id,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY cand.query_id
       |        ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
       |                 cand.neighbor_id) AS rank
       |    FROM cand
       |    JOIN embeddings c ON cand.neighbor_id = c.vec_id
       |    JOIN embeddings q ON cand.query_id = q.vec_id
       |  ) WHERE rank <= 5
       |), ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
       |                 c.vec_id) AS rank
       |    FROM embeddings c, embeddings q
       |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
       |  ) WHERE rank <= 5
       |)
       |SELECT CAST($n AS BIGINT) AS n_vectors, $nbits AS nbits, $tables AS tables,
       |  CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       |  round(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |        CAST(count(*) AS DOUBLE), 4) AS recall
       |FROM ex LEFT JOIN (SELECT DISTINCT query_id, neighbor_id FROM ar) a
       |  USING (query_id, neighbor_id)""".stripMargin
  }

  /** q107 replay at corpus size `n`: the full production-shape mining
    * pipeline — LSH candidates, per-anchor pos/neg argmax, and both
    * slice audits (exact hardest negative from the slice×corpus pass,
    * top-1 agreement, candidate-set membership). */
  def q107OracleFor(n: Long): String = {
    val (nbits, tables) = Similarity.lshParams(n, targetCosine = 0.4, probeHamming = 1)
    s"""WITH dbk AS (
       |${LshSql.dbk(nbits, tables)}
       |), apb AS (
       |  SELECT vec_id AS anchor, tbl, unnest([${LshSql.probeList(nbits)}]) AS bucket FROM dbk
       |), cand AS (
       |  SELECT DISTINCT a.anchor, b.vec_id AS other
       |  FROM apb a JOIN dbk b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.anchor <> b.vec_id
       |), sc AS (
       |  SELECT cand.anchor, va.label AS la, cand.other, vb.label AS lb,
       |    round(list_cosine_similarity(va.embedding::DOUBLE[], vb.embedding::DOUBLE[]), 6) AS sim
       |  FROM cand
       |  JOIN embeddings va ON cand.anchor = va.vec_id
       |  JOIN embeddings vb ON cand.other = vb.vec_id
       |), pos AS (
       |  SELECT anchor, other AS pos_id, sim AS pos_sim,
       |    row_number() OVER (PARTITION BY anchor ORDER BY sim DESC, other ASC) AS rn
       |  FROM sc WHERE la = lb
       |), neg AS (
       |  SELECT anchor, other AS neg_id, sim AS neg_sim,
       |    row_number() OVER (PARTITION BY anchor ORDER BY sim DESC, other ASC) AS rn
       |  FROM sc WHERE la <> lb
       |), mined AS (
       |  SELECT p.anchor, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
       |    round(p.pos_sim - n.neg_sim, 6) AS margin
       |  FROM pos p JOIN neg n ON p.anchor = n.anchor AND p.rn = 1 AND n.rn = 1
       |), xs AS (
       |  SELECT a.vec_id AS anchor, b.vec_id AS other,
       |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
       |  FROM embeddings a JOIN embeddings b
       |    ON a.vec_id <> b.vec_id AND a.label <> b.label
       |  WHERE a.vec_id < 500
       |), xneg AS (
       |  SELECT anchor, other AS xneg_id FROM (
       |    SELECT anchor, other,
       |      row_number() OVER (PARTITION BY anchor ORDER BY sim DESC, other ASC) AS rn
       |    FROM xs
       |  ) WHERE rn = 1
       |), agree AS (
       |  SELECT round(AVG(CASE WHEN m.neg_id = x.xneg_id THEN CAST(1.0 AS DOUBLE)
       |    ELSE CAST(0.0 AS DOUBLE) END), 4) AS audit_slice_neg_top1_agree
       |  FROM xneg x LEFT JOIN mined m ON x.anchor = m.anchor
       |), incands AS (
       |  SELECT round(AVG(CASE WHEN c.other IS NOT NULL THEN CAST(1.0 AS DOUBLE)
       |    ELSE CAST(0.0 AS DOUBLE) END), 4) AS audit_slice_neg_in_cands
       |  FROM xneg x LEFT JOIN cand c ON x.anchor = c.anchor AND x.xneg_id = c.other
       |)
       |SELECT mined.anchor, mined.pos_id, mined.pos_sim, mined.neg_id, mined.neg_sim,
       |  mined.margin, agree.audit_slice_neg_top1_agree, incands.audit_slice_neg_in_cands
       |FROM mined, agree, incands
       |ORDER BY mined.anchor""".stripMargin
  }

}
