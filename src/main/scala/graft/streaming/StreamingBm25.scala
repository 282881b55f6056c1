package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Bm25, TextStats}

/** STREAMING BM25 retrieval gate: score every incoming document
  * against a FITTED query model and keep (doc, query, score) rows at
  * or above a threshold — the retrieval-based streaming filter that
  * complements the batch top-k (ops.Bm25.search). The model (idf per
  * term + avgdl, from [[Bm25.fitStats]] on a reference corpus) is
  * bounded state baked into the plan as literals, so the gate is a
  * STATELESS per-row projection: no shuffle, no state store, append
  * mode — it runs identically on a batch or streaming frame, which is
  * exactly what the parity spec pins.
  *
  * Score parity with the batch scorer is BIT-exact: the gate folds
  * term components left-to-right over the SORTED full term list,
  * adding 0.0 for unmatched terms — IEEE x + 0.0 == x for the
  * positive components BM25 produces, so the fold equals
  * Bm25.search's sorted matched-terms fold bit-for-bit.
  */
object StreamingBm25 {

  /** Append (qid, score) gate output: one row per (incoming doc,
    * query) whose BM25 score ≥ minScore. Pass-through of `idCol`.
    */
  def gate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Int, Seq[String])],
      st: Bm25.Stats,
      minScore: Double
  ): DataFrame = {
    val toks = TextStats.tokens(lower(col(textCol)))
    val dl = size(toks).cast("long")
    def tf(term: String): Column = {
      val lit = term.replace("\\", "\\\\").replace("'", "\\'")
      expr(s"CAST(size(filter(__toks, x -> x = '$lit')) AS BIGINT)")
    }
    def comp(term: String): Column = {
      val idf = st.idf(term)
      val t = tf(term)
      when(
        t > 0L,
        lit(idf) * (t * lit(Bm25.K1 + 1.0)) /
          (t + lit(Bm25.K1) * (lit(1.0 - Bm25.B) + lit(Bm25.B) * col("__dl") / lit(st.avgdl)))
      ).otherwise(lit(0.0))
    }
    val base = docs.withColumn("__toks", toks).withColumn("__dl", dl)
    val perQuery = queries.map { case (qid, terms) =>
      val score = terms.distinct.sorted.foldLeft(lit(0.0): Column)((acc, t) => acc + comp(t))
      struct(lit(qid).as("qid"), score.as("score"))
    }
    base
      .withColumn("__q", explode(array(perQuery: _*)))
      .select(col(idCol), col("__q.qid").as("qid"), col("__q.score").as("score"))
      .filter(col("score") >= minScore)
  }
}
