package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval over an inverted index — the quality-retrieval
  * primitive a curation pipeline uses for benchmark decontamination
  * scoring, targeted corpus search, and retrieval-based filtering
  * (complementing q66's TF-IDF weighting, which scores documents but
  * never ranks them against queries).
  *
  * Scale shape (the 100 TB plan, in order):
  *  1. one tokenize+explode pass builds postings (doc, term, tf) with
  *     the doc length riding along — a single (doc, term) shuffle;
  *  2. postings are immediately cut to QUERY terms via a broadcast
  *     semi join (the query set is human-sized; the filter runs
  *     map-side before anything heavy);
  *  3. document frequencies over the surviving postings are a
  *     |terms|-row aggregate, collected as BOUNDED MODEL STATE (the
  *     IVF-centroid posture: idf is a lookup table, not data) and
  *     rebroadcast as a literal (term, idf) frame;
  *  4. per-(query, doc) scores fold the matched term components in
  *     DETERMINISTIC term order (sort_array + aggregate, the q35
  *     bit-exact fold discipline) so reruns — and the DuckDB oracle —
  *     reproduce scores bit-for-bit;
  *  5. top-k per query runs through [[Rank.rankWithin]], the two-pass
  *     distributed rank — never a per-query single-task window, even
  *     when one term matches half the corpus.
  *
  * Cross-engine parity: idf (the only transcendental) is computed ONCE
  * in Scala (Math.log) and enters both engines as identical double
  * literals; everything downstream is +,*,/ on bit-equal inputs, which
  * IEEE 754 rounds identically everywhere. avgdl is derived from two
  * exact longs collected in the same bounded-stats pass.
  */
object Bm25 {

  /** Per-corpus statistics the scorer needs, all bounded: one row per
    * distinct QUERY term plus two scalars.
    */
  final case class Stats(n: Long, avgdl: Double, idf: Map[String, Double])

  val K1 = 1.2
  val B = 0.75

  private def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(
        col(idCol).as("doc_id"),
        TextStats.tokens(lower(col(textCol))).as("toks")
      )
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))

  /** Postings for QUERY terms only: (doc_id, term, tf, dl). */
  def postings(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String]): DataFrame =
    tokens(docs, idCol, textCol)
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** Corpus stats: N, avgdl, and Robertson idf per query term
    * (ln(1 + (N - df + 0.5)/(df + 0.5)) — always positive). Bounded
    * collects only: two scalars + one row per query term.
    */
  def fitStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      post: DataFrame
  ): Stats = {
    val Array(nDocs, sumDl) = docs
      .select(
        count(lit(1)).cast("long"),
        sum(size(TextStats.tokens(lower(col(textCol))))).cast("long")
      )
      .head()
      .toSeq
      .map(_.asInstanceOf[Long])
      .toArray
    val dfByTerm = post
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // postings are (doc, term)-unique
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val idf = terms.map { t =>
      val df = dfByTerm.getOrElse(t, 0L).toDouble
      t -> math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
    }.toMap
    Stats(nDocs, sumDl.toDouble / nDocs, idf)
  }

  /** Top-k docs per query. `queries`: (qid, term) pairs, distinct terms
    * per qid. Output: (qid, rank, doc_id, score), rank 1-based by
    * (score desc, doc_id asc).
    */
  def search(
      s: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Int, Seq[String])],
      k: Int = 10
  ): DataFrame = {
    import s.implicits._
    val terms = queries.flatMap(_._2).distinct
    val post = postings(docs, idCol, textCol, terms)
      .transform(Place.materialized) // eager: stats pass + scoring pass share one tokenize
    val st = fitStats(docs, idCol, textCol, terms, post)
    val qframe = broadcast(
      queries
        .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t, st.idf(t))) }
        .toDF("qid", "term", "idf")
    )
    val comp = post
      .join(qframe, Seq("term"))
      .withColumn(
        "comp",
        col("idf") * (col("tf") * lit(K1 + 1.0)) /
          (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / lit(st.avgdl)))
      )
    // deterministic-order fold (the q35 discipline): sort components by
    // term, left-fold from 0.0 — bit-identical on rerun and in DuckDB's
    // list_reduce replay
    val scored = comp
      .groupBy(col("qid"), col("doc_id"))
      .agg(
        expr(
          "aggregate(sort_array(collect_list(struct(term, comp))), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.comp)"
        ).as("score")
      )
      // eager (r15): rankWithin's three input subtrees each recomputed the
      // scoring fold (q122: four racing 4-7 s-task_ms jobs)
      .transform(Place.materialized)
    post.unpersist(false) // superseded by the filled `scored`
    Rank
      .rankWithin(scored, Seq("qid"), -col("score"), col("doc_id"), "rank", bins = 64)
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("score"))
  }
}
