package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical language-model quality scoring — the CCNet/KenLM-style
  * filter (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data"): train a smoothed n-gram LM on a
  * trusted reference slice, score every candidate document by its
  * per-token negative log-likelihood, and filter/bucket on the score.
  * Here: a word-BIGRAM model with add-one (Laplace) smoothing,
  * P(w|u) = (c(u,w) + 1) / (c(u) + V), where c(u) is u's count as a
  * bigram CONTEXT in the reference and V the reference vocabulary
  * size; unseen contexts degrade gracefully to 1/V.
  *
  * Scale shape: the model is built with two gram-keyed aggregates over
  * the reference slice (one shuffle each, map-side partials), then
  * BROADCAST to the scorers — the LM is a model artifact, shipped to
  * every worker exactly as CCNet ships its KenLM binary; the candidate
  * corpus is touched once, map-side, no candidate-side shuffle except
  * the final per-doc aggregate keyed by doc id. For an open-vocabulary
  * corpus where V² outgrows a broadcast, hash grams into a bounded
  * feature space first (the q64 Bloom / q44 sketch discipline) — the
  * law below is agnostic to what the gram key is.
  *
  * Determinism note (the oracle contract): each bigram's nll term is
  * one double `ln` of a ratio of integers — identical on both engines —
  * and the per-doc sum is staged through decimal(38,12) (each term
  * rounded to 12 fractional digits, then summed exactly), so the
  * result is independent of partitioning AND immune to sub-1e-12
  * cross-engine ulp drift; the established q27 census discipline.
  */
object LmScore {

  /** Per-doc (u, w) bigram stream: one posexplode over the token
    * array — LINEAR in corpus size (the Bpe.pairCounts shape, per-doc).
    */
  def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextStats.tokens(col(textCol)).as("toks"))
      .select(
        col(idCol),
        posexplode(slice(col("toks"), lit(1), size(col("toks")) - 1)),
        col("toks")
      )
      .select(
        col(idCol),
        col("col").as("u"),
        element_at(col("toks"), col("pos") + 2).as("w")
      )

  /** Score held-out docs under a reference-slice bigram LM.
    * `refPred` selects the reference slice (trusted/high-quality docs);
    * everything else is scored. Output per held-out doc:
    * (idCol, n_bigrams, avg_nll, oov_bigram_rate), avg_nll = mean
    * add-one-smoothed negative log-likelihood per bigram (lower =
    * closer to the reference distribution), oov rate = fraction of
    * bigrams never seen in the reference.
    */
  def scoreHeldOut(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      refPred: org.apache.spark.sql.Column
  ): DataFrame = {
    val bi = docBigrams(docs, idCol, textCol)
    val ref = bi.filter(refPred)
    val big = ref.groupBy(col("u"), col("w")).agg(count(lit(1)).as("cuw"))
    val uni = ref.groupBy(col("u")).agg(count(lit(1)).as("cu"))
    // V: the reference slice's full-token vocabulary (not just contexts
    // — the add-one event space is "any vocabulary word follows")
    val vdf = docs
      .filter(refPred)
      .select(explode(TextStats.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    bi.filter(!refPred)
      .join(broadcast(big), Seq("u", "w"), "left")
      .join(broadcast(uni), Seq("u"), "left")
      .crossJoin(broadcast(vdf))
      .select(
        col(idCol),
        (-log(
          (coalesce(col("cuw"), lit(0L)) + 1).cast("double") /
            (coalesce(col("cu"), lit(0L)) + col("v")).cast("double")
        )).as("nll"),
        when(col("cuw").isNull, 1L).otherwise(0L).as("oov")
      )
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(
          sum(col("nll").cast("decimal(38,12)")).cast("double") / count(lit(1)),
          6
        ).as("avg_nll"),
        round(sum(col("oov")).cast("double") / count(lit(1)), 6).as("oov_bigram_rate")
      )
  }
}
