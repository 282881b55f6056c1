package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repeated n-gram SPAN census — the exact-substring duplication signal
  * of Lee et al., "Deduplicating Training Data Makes Language Models
  * Better" (ACL 2022), re-expressed as relational dataflow instead of a
  * suffix array: a token span of width `w` that occurs more than once
  * ANYWHERE in the corpus (another document, or elsewhere in the same
  * one) is a duplicated span, and a document's `dup fraction` is the
  * share of its span positions that are duplicated. Near-dup detection
  * (MinHash/SimHash, TextDedup) finds documents that look alike as
  * wholes; this finds verbatim internal repetition — boilerplate,
  * templated spans, copy-paste — which near-dup misses by design.
  *
  * Spark shape (ONE linear pass, no self-joins, no driver state):
  *   1. positional shingles per document — pure map-side column algebra
  *      (`transform` over `sequence`, no explode until the shingle is
  *      formed);
  *   2. per-(doc, shingle) counts — one hash aggregate;
  *   3. per-shingle corpus totals as an unbounded window sum OVER the
  *      per-(doc, shingle) frame, partitioned by the shingle. (r15
  *      optimization: the earlier form aggregated totals separately
  *      and joined them back — a frame joined with its own aggregate,
  *      which Spark plans as TWO full computations of the explode +
  *      count subtree, one per join side. The window computes the
  *      total on the same shingle-clustered pass the join needed
  *      anyway, so the corpus is exploded once, not twice; values are
  *      identical — the same integer sums over the same groups.)
  *
  * Scale: every shuffle is keyed on the shingle, so the plan is the
  * inverted-index shape that survives 100 TB; no group ever collapses
  * into one task. At cluster scale the shingle KEY would be
  * `xxhash64(shingle)` (8 bytes on the wire instead of ~40); the census
  * keys on the string itself so the DuckDB oracle replays it
  * zero-literal — the swap is a one-line wire optimization that cannot
  * change counts except on a 64-bit collision.
  */
object NgramDup {

  /** Exploded shingles: one row per width-`w` span position, the span
    * as `shingle`. With `withPos`, each row also keeps the 1-based span
    * start `pos` (before `shingle`) — the removal rewrite needs to know
    * WHERE a duplicated span sits, not just that it exists.
    * Documents shorter than `w` tokens contribute no rows (they have no
    * width-`w` span) — callers wanting per-doc totals over ALL docs
    * must left-join from the document table (as [[sourceCensus]] does).
    */
  def shingles(
      df: DataFrame,
      textCol: String,
      w: Int,
      keep: Seq[String],
      withPos: Boolean = false
  ): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    val docs = df.select((keep.map(col) :+ toks.as("__toks")): _*)
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") >= w)
    val starts = sequence(lit(1), col("__n") - lit(w - 1))
    def span(i: Column): Column = array_join(slice(col("__toks"), i, lit(w)), " ")
    if (!withPos) docs.select((keep.map(col) :+ explode(transform(starts, span(_))).as("shingle")): _*)
    else
      docs
        .select(
          (keep.map(col) :+
            explode(transform(starts, i => struct(i.as("pos"), span(i).as("shingle")))).as("__sp")): _*
        )
        .select((keep.map(col) :+ col("__sp.pos").as("pos") :+ col("__sp.shingle").as("shingle")): _*)
  }

  /** The REMOVAL REWRITE of Lee et al. — which tokens an exact-substring
    * dedup pass deletes: a token is removed iff it is covered by a span
    * occurrence that is NOT the corpus-first occurrence of its shingle
    * (first = smallest (doc_id, pos), encoded as the single integer key
    * doc_id·2^20 + pos so both engines compare one BIGINT; the 2^20
    * position budget holds to million-token documents — at planet-scale
    * id widths swap the key for a struct ordering, which changes no
    * semantics). The first occurrence always survives, so the rewrite
    * never deletes content from the corpus — only repeats of it.
    *
    * Returns per-document (idCol, n_tokens, n_removed). Shape: one
    * shingle-keyed aggregate (first-occurrence key + implicit count),
    * the join back on the shingle, one positional explode of only the
    * NON-first duplicated occurrences, and a distinct on (doc, token
    * position) — everything keyed, nothing driver-side.
    */
  def removalProfile(docs: DataFrame, textCol: String, w: Int, idCol: String): DataFrame = {
    val occ = shingles(docs, textCol, w, Seq(idCol), withPos = true)
      .withColumn("__ok", col(idCol) * lit(1048576L) + col("pos"))
    // A window-min over shingle partitions was tried here (r15) and
    // measured ~2x SLOWER than this join form: `occ` is the RAW
    // positional explode, so the window ships and sorts every instance,
    // while groupBy(min) reduces map-side to one row per (partition,
    // shingle) before its exchange — the double explode it pays is the
    // cheaper side of that trade. docProfile's window rewrite works
    // precisely because its window input is already count-reduced.
    val firsts = occ.groupBy(col("shingle")).agg(min(col("__ok")).as("__first"))
    val removedPos = occ
      .join(firsts, Seq("shingle"))
      .filter(col("__ok") =!= col("__first")) // non-first ⇒ the shingle is duplicated
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("tp"))
      .distinct()
    val removed = removedPos.groupBy(col(idCol)).agg(count(lit(1)).as("n_removed"))
    docs
      .select(col(idCol), size(TextStats.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(removed, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Per-source removal census in integer units: token totals, removed
    * tokens, removal ppm, and fully-gutted docs (every token covered by
    * repeats of spans first seen elsewhere — the doc contributes
    * nothing new).
    */
  def sourceRemoval(docs: DataFrame, textCol: String, w: Int): DataFrame = {
    val prof = removalProfile(docs, textCol, w, "doc_id")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    prof
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_removed")).as("removed_tokens"),
        sum(when(col("n_removed") === col("n_tokens") && col("n_tokens") > 0, lit(1L)).otherwise(lit(0L)))
          .as("n_gutted_docs")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("total_tokens"),
        col("removed_tokens"),
        when(col("total_tokens") > 0, floor(col("removed_tokens") * lit(1000000L) / col("total_tokens")))
          .otherwise(lit(0L)).as("removed_ppm"),
        col("n_gutted_docs")
      )
  }

  /** Per-document duplication profile: `n_spans` (span positions),
    * `dup_spans` (positions whose shingle occurs ≥2 times corpus-wide,
    * counting intra-document repeats), over the given id column.
    */
  def docProfile(df: DataFrame, textCol: String, w: Int, idCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(df, textCol, w, idCols)
    val perDoc = sh
      .groupBy((idCols.map(col) :+ col("shingle")): _*)
      .agg(count(lit(1)).as("__c_doc"))
    // corpus total per shingle as an unbounded window sum over the
    // already-reduced per-(doc, shingle) counts: one shingle-keyed
    // exchange, and the explode above is computed ONCE (the former
    // aggregate-and-join-back form re-computed it on both join sides)
    perDoc
      .withColumn("__c_all", sum(col("__c_doc")).over(Window.partitionBy(col("shingle"))))
      .groupBy(idCols.map(col): _*)
      .agg(
        sum(col("__c_doc")).as("n_spans"),
        sum(when(col("__c_all") >= 2, col("__c_doc")).otherwise(lit(0L))).as("dup_spans")
      )
  }

  /** Per-source corpus census in integer units (hash-safe checked
    * output): doc counts, span totals, duplicated-span ppm, and the
    * count of high-duplication documents (>50% duplicated spans — the
    * rows an exact-substring dedup pass would rewrite first).
    */
  def sourceCensus(docs: DataFrame, textCol: String, w: Int): DataFrame = {
    val prof = docProfile(docs, textCol, w, Seq("doc_id", "source"))
    val perSource = prof
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs_spanned"),
        sum(col("n_spans")).as("total_spans"),
        sum(col("dup_spans")).as("dup_spans"),
        sum(when(col("dup_spans") * lit(2L) > col("n_spans"), lit(1L)).otherwise(lit(0L)))
          .as("n_high_dup_docs")
      )
    val allDocs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    allDocs
      .join(perSource, Seq("source"), "left")
      .select(
        col("source"),
        col("n_docs"),
        coalesce(col("n_docs_spanned"), lit(0L)).as("n_docs_spanned"),
        coalesce(col("total_spans"), lit(0L)).as("total_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        when(
          coalesce(col("total_spans"), lit(0L)) > 0,
          floor(coalesce(col("dup_spans"), lit(0L)) * lit(1000000L) / col("total_spans"))
        ).otherwise(lit(0L)).as("dup_ppm"),
        coalesce(col("n_high_dup_docs"), lit(0L)).as("n_high_dup_docs")
      )
  }
}
