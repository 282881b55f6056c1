package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) tokenizer TRAINING — the iterative greedy
  * merge loop (public algorithm: Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units"). q75 counts adjacent
  * pairs once; this runs the full loop: repeatedly take the corpus-wide
  * most-frequent adjacent token pair and fuse it, `nMerges` times.
  *
  * Scale shape per round:
  *  - the pair count runs over the DISTINCT-WORD table weighted by word
  *    frequency — the corpus text is touched once up front (word
  *    groupBy); every merge round then works on |vocab| rows, not
  *    |corpus| rows (at 100 TB the distinct-word table is millions of
  *    rows where the corpus is trillions of tokens — this is why every
  *    real BPE trainer pre-aggregates words);
  *  - the winning pair is ONE collected row (scalar constant — the
  *    argmax, not data);
  *  - applying the merge is a map-side aggregate() fold per word:
  *    left-to-right non-overlapping fusion, no shuffle.
  * Ties break deterministically: freq desc, then (left, right) asc.
  */
object Bpe {

  /** Greedy left-to-right fusion of adjacent (l, r) into one token
    * inside an array<string> column — the BPE apply step as a pure
    * fold: append each token, but if the accumulator's last element is
    * `l` and the incoming token is `r`, replace that last element with
    * the fused token. Non-overlapping by construction (the fused token
    * no longer equals `l` unless l+r == l, impossible for non-empty r).
    */
  def applyMerge(tokens: Column, l: String, r: String): Column = {
    val fused = l + r
    aggregate(
      tokens,
      array().cast("array<string>"),
      (acc, t) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(l) && t === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused)))
        ).otherwise(concat(acc, array(t)))
    )
  }

  /** Apply a TRAINED merge sequence in order — the tokenizer ENCODE
    * step: n chained [[applyMerge]] folds, all map-side (the merge
    * table is a driver-side constant baked into the expression tree,
    * exactly how a shipped tokenizer applies its merges.txt). */
  def applyMerges(tokens: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(tokens) { case (c, (l, r)) => applyMerge(c, l, r) }

  /** Adjacent-pair frequencies over (tokens, weight) rows: one explode
    * + one aggregate; pairs are (left, right) with summed weights. */
  def pairCounts(words: DataFrame, tokensCol: String, weightCol: String): DataFrame =
    words
      .select(
        posexplode(slice(col(tokensCol), lit(1), size(col(tokensCol)) - 1)),
        col(tokensCol),
        col(weightCol)
      )
      .select(
        col("col").as("left"),
        element_at(col(tokensCol), col("pos") + 2).as("right"),
        col(weightCol)
      )
      .groupBy(col("left"), col("right"))
      .agg(sum(col(weightCol)).as("freq"))

  /** Train `nMerges` BPE merges over a corpus text column. Returns the
    * merge table: (step, left, right, freq) — the artifact a tokenizer
    * ships. The distinct-word working set is localCheckpointed each
    * round (the q51/q60 iterative-plan discipline: without it the plan
    * doubles per round).
    */
  def trainMerges(
      docs: DataFrame,
      textCol: String,
      nMerges: Int
  ): (Seq[(Int, String, String, Long)], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(TextStats.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("weight"))
      .select(col("word"), split(col("word"), "").as("tokens"), col("weight"))
      .transform(Checkpoints.cut)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val top = pairCounts(words, "tokens", "weight")
        .orderBy(col("freq").desc, col("left"), col("right"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption match {
        case None => exhausted = true // every word is a single token
        case Some((l, r, f)) =>
          merges += ((step, l, r, f))
          val fused = words
            .select(col("word"), Bpe.applyMerge(col("tokens"), l, r).as("tokens"), col("weight"))
            .transform(Checkpoints.cut)
          // free the superseded round's checkpoint (eager materialize
          // above makes this safe; without it executor storage grows
          // linearly with nMerges)
          Checkpoints.release(words)
          words = fused
          step += 1
      }
    }
    (merges.toSeq, words)
  }
}
