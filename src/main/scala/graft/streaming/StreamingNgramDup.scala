package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.NgramDup

/** STREAMING repeated-span gate: documents arriving on a stream are
  * profiled against a FROZEN shingle index of the existing corpus — the
  * live form of [[graft.ops.NgramDup]]'s census (q141): "how much of
  * this arriving doc is verbatim repetition of spans the corpus already
  * holds" is computed in the ingest path, so boilerplate-heavy arrivals
  * are flagged BEFORE they land in a training shard (the same
  * ingest-time posture as the q114 decontamination gate).
  *
  * Shape: span extraction is the same map-side HOF algebra as batch
  * (no explode before the span is formed), the index probe is one
  * stream-static left join on the shingle key, and the only stateful
  * operation is the per-document counting aggregate — state is one row
  * per arriving doc, the output itself. Complete output mode; rows are
  * whole documents so a doc can never straddle micro-batches.
  *
  * Parity law (spec-pinned): for any arrival set, the streaming profile
  * EQUALS [[profileAgainst]] applied to the same rows as a static frame
  * — integer counts, so equality is exact, not approximate.
  */
object StreamingNgramDup {

  /** The frozen corpus index: the DISTINCT shingle set. */
  def index(corpus: DataFrame, textCol: String, w: Int): DataFrame =
    NgramDup.shingles(corpus, textCol, w, Seq.empty).distinct()

  /** Score `arrivals` (streaming OR static) against a frozen index:
    * per doc, total span positions and how many hit the index.
    */
  def profileAgainst(
      arrivals: DataFrame,
      index: DataFrame,
      w: Int,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val sh = NgramDup.shingles(arrivals, textCol, w, Seq(idCol))
    sh.join(index.withColumn("__hit", lit(1L)), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(coalesce(col("__hit"), lit(0L))).as("known_spans")
      )
  }
}
