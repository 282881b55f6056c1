package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SPARSE all-pairs cosine similarity via an inverted index — the
  * sparse-vector complement to the dense ANN family (LSH q30, IVF q35,
  * PQ q94): near-dup mining when documents live in a high-dimensional
  * SPARSE feature space (n-gram TF-IDF), where hyperplane LSH is the
  * wrong tool (random projections of sparse vectors lose the
  * discriminative tail) and the inverted index is the classical answer
  * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07).
  *
  * Shape: postings (feature, doc, weight) self-join on the FEATURE key
  * — a pair of documents is generated once per shared feature, so the
  * join's output volume is Σ_t df(t)², not |docs|². Two levers keep
  * that sum linear-ish at 100 TB:
  *
  *  - **df-cap pruning** (the WWW'07 maxweight idea in its bluntest
  *    form): features occurring in more than `dfCap` documents are
  *    dropped from the index BEFORE the self-join. High-df features
  *    carry near-zero idf weight — they cost df² pair work for almost
  *    no cosine mass. With a CONSTANT cap C the total pair work is
  *    unconditionally linear in corpus size: Σ_{df≤C} df² ≤ C·Σdf ≤
  *    C·|postings|, no distributional assumption needed — which is why
  *    the shipped call sites use a constant, NOT a corpus-fraction cap
  *    (a cap ∝ N lets head features saturate at df = Θ(N), so Σdf²
  *    grows ~N²; measured on the SparseCandidateSpec ladder before
  *    being replaced, round 7). Similarity is DEFINED over the pruned
  *    space (exact within it — the oracle replays the same
  *    pruned-space law).
  *  - the self-join and the pair aggregate shuffle on an 8-ish-byte
  *    key each (feature string / (id,id) pair) — the same
  *    one-shuffle-per-stage posture as the MinHash census (q27).
  *
  * Determinism: idf = ln(N/df) is one libm call on an integer ratio
  * (bit-identical cross-engine, the q66/q110 precedent); dot products
  * and squared norms accumulate as decimal(38,12)-cast products
  * (order-independent, the q99 pattern); cosines round to 6 decimals
  * before the threshold gate so both engines filter identical keys.
  */
object SparseSim {

  /** decimal-accumulated sum of a product column: double addition is
    * order-sensitive and shuffle arrival order is not deterministic —
    * cast every term to decimal(38,12) first (exact for |term| < 1e26).
    */
  private def dsum12(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")

  /** TF-IDF postings over word n-gram features, df-capped.
    *
    * @param docs  (idCol, textCol) frame
    * @param n     words per n-gram feature
    * @param dfCap drop features with document frequency above this —
    *              a CONSTANT cap C bounds total pair work by
    *              C·|postings| (linear in corpus size). May reference
    *              the corpus-size column `n_docs` (this frame
    *              cross-joins the one-row doc count in) when a caller
    *              wants a corpus-relative cap — but caps ∝ N forfeit
    *              the linear-work bound (see object scaladoc)
    * @return (idCol, feature, w) — w = tf × ln(N/df)
    */
  def postings(docs: DataFrame, idCol: String, textCol: String, n: Int, dfCap: Column): DataFrame =
    postingsReleasable(docs, idCol, textCol, n, dfCap)._1

  /** As [[postings]], plus a release hook that unpersists the internal
    * shared-scan cache (`tf`). The cache must stay live until everything
    * derived from the returned frame is MATERIALIZED (it is read by the
    * dfreq broadcast build, the n_docs census, and the main join's
    * stream side); after that it is dead weight for the rest of the
    * session unless released (r14, ADVICE fix — the harnesses'
    * per-query clearCache() bounded the leak, library callers had no
    * handle). [[allPairs]]' `afterMaterialize` is the natural wiring
    * point: its own persist barrier is exactly the moment `tf` dies.
    */
  def postingsReleasable(docs: DataFrame, idCol: String, textCol: String, n: Int, dfCap: Column): (DataFrame, () => Unit) = {
    val toks = docs
      .select(col(idCol), TextStats.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n) // shorter docs have no full n-gram
    val tf = toks
      .select(col(idCol), explode(TextStats.ngrams(col("toks"), n)).as("feature"))
      .groupBy(col(idCol), col("feature"))
      .agg(count(lit(1)).as("tc"))
      // eager (r13): the dfreq build, the n_docs census and the main join all
      // read tf; lazy, q112 swung 2.0–5.9 s on identical code
      .transform(Place.materialized)
    val dfreq = tf.groupBy(col("feature")).agg(count(lit(1)).as("df"))
    // corpus size from the cached tf, not a third scan of `docs`: every
    // doc that survives the >= n-token filter contributes >= 1 feature
    // row, so countDistinct(id) over tf IS |toks| exactly.
    val nDocs = tf.agg(count_distinct(col(idCol)).cast("double").as("n_docs"))
    // dfreq is |vocab|-sized: broadcast is right while the vocab of
    // CAPPED features fits (it shrinks as dfCap bites); at 100 TB the
    // un-broadcast form is the same plan with the tf shuffle reused —
    // both joins key on `feature`.
    val out = tf.join(broadcast(dfreq), Seq("feature"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df").cast("double") <= dfCap)
      .select(
        col(idCol),
        col("feature"),
        (col("tc").cast("double") * log(col("n_docs") / col("df").cast("double"))).as("w")
      )
    (out, () => { tf.unpersist(); () })
  }

  /** All document pairs with pruned-space cosine ≥ threshold.
    *
    * @param afterMaterialize invoked right after the postings cache is
    *        filled — pass [[postingsReleasable]]'s release hook here to
    *        free the upstream tf cache the moment `p` supersedes it
    * @return (id_a, id_b, n_shared, cosine), id_a < id_b
    */
  def allPairs(post: DataFrame, idCol: String, threshold: Double,
               afterMaterialize: () => Unit = () => ()): DataFrame = {
    val p = Place.materialized(post) // eager: norms + both self-join sides share this cache
    afterMaterialize()

    // a doc whose kept features ALL have idf 0 (df = N) has zero norm
    // and an undefined cosine; drop it here rather than let 0/0 = NaN
    // reach the threshold comparison (Spark orders NaN above every
    // value, so `NaN >= t` would PASS the gate). Unreachable once the
    // df-cap is below N — a df = N feature never survives the cap.
    val norms = p
      .groupBy(col(idCol))
      .agg(sqrt(dsum12(col("w") * col("w"))).as("nm"))
      .filter(col("nm") > 0)
    val a = p.select(col(idCol).as("id_a"), col("feature"), col("w").as("w_a"))
    val b = p.select(col(idCol).as("id_b"), col("feature"), col("w").as("w_b"))
    val dots = a
      .join(b, Seq("feature"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(dsum12(col("w_a") * col("w_b")).as("dot"), count(lit(1)).as("n_shared"))
    // norms is |docs|-sized (tiny next to the pair stream) — broadcast
    // is the plan AQE would pick; at 1000-executor scale with a huge
    // doc count this becomes two shuffle joins on the pair ids.
    dots
      .join(broadcast(norms.select(col(idCol).as("id_a"), col("nm").as("nm_a"))), Seq("id_a"))
      .join(broadcast(norms.select(col(idCol).as("id_b"), col("nm").as("nm_b"))), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        col("n_shared"),
        round(col("dot") / (col("nm_a") * col("nm_b")), 6).as("cosine")
      )
      .filter(col("cosine") >= threshold)
  }

  // ------------------------------------------------------------------
  // Asymmetric CONTAINMENT/coverage — the decontamination shape: "what
  // fraction of reference doc r's (idf²-weighted) feature mass appears
  // in probe doc p?". Unlike cosine it needs NO probe-side norm, which
  // is what makes it a SINGLE aggregation over a frozen reference index.
  // ------------------------------------------------------------------

  /** DISTINCT n-gram features per doc, built entirely map-side
    * (array_distinct in-row — no shuffle).
    */
  def distinctFeatures(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol), TextStats.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col(idCol), explode(array_distinct(TextStats.ngrams(col("toks"), n))).as("feature"))

  /** Frozen coverage index over the reference (eval) corpus: TF-IDF
    * postings with each ref doc's total squared mass ATTACHED to every
    * posting row (`nm2` rides the feature join so no post-aggregation
    * join is needed). idf/df/cap are all reference-corpus-relative, so
    * the index stays frozen whatever probes it scores.
    *
    * @return (ref_id, feature, w, nm2)
    */
  def coverageIndex(ref: DataFrame, idCol: String, textCol: String, n: Int, dfCap: Column): DataFrame = {
    val post = postings(ref, idCol, textCol, n, dfCap)
    val nm2 = post
      .groupBy(col(idCol))
      .agg(dsum12(col("w") * col("w")).as("nm2"))
      .filter(col("nm2") > 0)
    post
      .join(broadcast(nm2), Seq(idCol))
      .select(col(idCol).as("ref_id"), col("feature"), col("w"), col("nm2"))
  }

  /** Coverage of each reference doc by each probe doc: Σ_{t ∈ p∩r} w_r²
    * / ‖w_r‖² ∈ [0,1] (1 ⟺ every capped feature of r occurs in p).
    * One feature join + ONE aggregate; q114 calls exactly this.
    *
    * @param probeFeats output of [[distinctFeatures]] — id column name
    *                   `probe_id` expected
    */
  def coverageScores(probeFeats: DataFrame, index: DataFrame, threshold: Double): DataFrame =
    probeFeats
      .join(index, Seq("feature"))
      .groupBy(col("probe_id"), col("ref_id"))
      .agg(
        count(lit(1)).as("n_shared"),
        // nm2 is constant within the (probe, ref) group — max() reads it
        // through the single-agg constraint
        round(dsum12(col("w") * col("w")) / max(col("nm2")), 6).as("coverage")
      )
      .filter(col("coverage") >= threshold)
}
