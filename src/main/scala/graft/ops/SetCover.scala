package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed GREEDY SET COVER over token bigrams — the vocabulary-
  * curation operator behind q276 ("which k documents cover the most
  * vocabulary?"), extracted so the greedy itself is library surface
  * and property-testable against a sequential reference fold.
  *
  * Shape (r13): the doc→bigram incidence is ONE ROW PER DOC with its
  * distinct-bigram ARRAY (the TextDedup "sets" representation, bounded
  * per row by doc length), cached once; the covered-token set is
  * DRIVER-HELD MODEL STATE — after k picks it is the union of k
  * documents' bigrams, bounded by k × max-doc-length, NOT by the
  * universe. Each round is then a single NARROW stage: an in-row
  * lambda filter against a hashed InSet + TakeOrderedAndProject(1),
  * whose argmax row carries the pick's uncovered bigrams back — one
  * job per round, no shuffle, no per-round lineage growth. At 100 TB
  * the round structure is the textbook distributed greedy (one pass
  * per pick); k is a constant.
  *
  * Determinism: gain = |doc's distinct bigrams \ covered| (an integer),
  * ties broken by lowest doc id — both engines (and the sequential
  * fold in SetCoverSpec) replay the identical rule.
  */
object SetCover {

  /** Per-doc distinct-bigram sets: (idCol, toks array). The size guard
    * matters: for a sub-2-token doc, `sequence(0, size - 2)` runs
    * DESCENDING (Spark infers step -1 when start > stop), the transform
    * indexes out of bounds, and the doc would carry a spurious [null]
    * "bigram" the relational replay (range i < len) never sees — the
    * guard pins bigrams(<2 tokens) = [] on both engines.
    */
  def bigramSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextStats.tokens(lower(col(textCol))).as("ts"))
      .select(
        col(idCol),
        when(
          size(col("ts")) >= 2,
          array_distinct(
            expr("transform(sequence(0, size(ts) - 2), i -> ts[i] || ' ' || ts[i + 1])")))
          .otherwise(array().cast("array<string>"))
          .as("toks"))

  /** Run `rounds` greedy picks over a (id, toks-array) frame.
    *
    * @return (picks as (doc_id, newly_covered) in round order,
    *         vocabulary size of the full universe)
    */
  def greedy(spark: SparkSession, sets: DataFrame, idCol: String, rounds: Int): (Seq[(Long, Long)], Long) = {
    // ids must be integral (r14, ADVICE fix): the picks are returned as
    // Long, and the argmax tie-break is numeric order. Fail loudly at
    // the library surface instead of a runtime cast error in round 1.
    {
      import org.apache.spark.sql.types._
      val dt = sets.schema(idCol).dataType
      require(
        Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"SetCover.greedy: id column '$idCol' must be an integral type, got $dt")
    }
    val cached = Place.persisted(sets)
    // eager fill (single reader — no concurrent-fill race) doubling as
    // the vocab census callers report coverage against
    val vocabTotal = cached.select(explode(col("toks")).as("tok")).distinct().count()
    val covered = scala.collection.mutable.HashSet.empty[String]
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (_ <- 1 to rounds) {
      // gain = |doc's bigrams \ covered|: an in-row lambda filter
      // against the bounded driver-held set (Catalyst folds the In over
      // its conversion threshold into a hashed InSet — codegen'd, no
      // join, no broadcast, no shuffle)
      val remaining =
        if (covered.isEmpty) col("toks")
        else filter(col("toks"), t => !t.isInCollection(covered))
      // untyped Row decode + widening long cast: works for any integral
      // id type the require above admits (the Dataset encoder it
      // replaces demanded LongType exactly)
      val best = cached
        .select(col(idCol).cast("long").as("__id"), remaining.as("new_toks"))
        .orderBy(size(col("new_toks")).desc, col("__id").asc)
        .limit(1)
        .head()
      val bestId = best.getLong(0)
      val bestToks = best.getSeq[String](1)
      picks += ((bestId, bestToks.size.toLong))
      // fold the pick's uncovered bigrams into the covered set: ONE
      // document's bigrams — the same bounded-model-state contract as
      // the argmax row itself
      covered ++= bestToks
    }
    cached.unpersist()
    (picks.toSeq, vocabTotal)
  }
}
