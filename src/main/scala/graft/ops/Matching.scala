package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DISTRIBUTED GREEDY MAXIMAL MATCHING by locally-minimal edges — the
  * symmetric round: an edge joins the matching iff it is the MINIMUM
  * incident edge of BOTH its endpoints under a deterministic total
  * order (weight, u, v); matched endpoints leave the graph; repeat.
  * Each round is two per-endpoint min aggregates + two semi joins —
  * the Israeli–Itai / Luby-style local rule expressed declaratively,
  * deterministic (no coin flips: the total edge order breaks all
  * ties), so a SQL oracle can replay rounds verbatim. Local minima
  * are never adjacent (two adjacent edges can't both be the shared
  * endpoint's minimum), so each round adds an independent edge set.
  *
  * Rounds are FIXED (caller-chosen), not run-to-fixpoint: the
  * replayable contract is "R rounds of the greedy rule", and the
  * caller reads maximality off the returned remainder (empty ⇔
  * maximal). Scale: state is the shrinking edge set, lineage cut per
  * round through [[Checkpoints]].
  */
object Matching {

  /** Returns (matched, remaining): matched (u, v) pairs after `rounds`
    * rounds over canonical u<v edges with the deterministic weight
    * `w`, and the edges still alive (both endpoints unmatched). An
    * empty remainder certifies maximality.
    */
  def greedyRounds(edges: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    var e = edges
      .select(col("u"), col("v"), col("w"))
      .distinct()
      .transform(Checkpoints.cut)
    var matched: DataFrame = null
    for (_ <- 1 to rounds) {
      // each endpoint's minimal incident edge under (w, u, v)
      val inc = e.select(col("u").as("n"), col("w"), col("u"), col("v"))
        .unionByName(e.select(col("v").as("n"), col("w"), col("u"), col("v")))
      val minInc = inc
        .groupBy(col("n"))
        .agg(min(struct(col("w"), col("u"), col("v"))).as("m"))
        .select(col("n"), col("m.u").as("u"), col("m.v").as("v"))
      // an edge survives iff BOTH endpoints nominate it
      val picked = minInc
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") === 2)
        .select(col("u"), col("v"))
        .transform(Checkpoints.cut)
      matched = if (matched == null) picked else Checkpoints.cut(matched.unionByName(picked))
      val touched = matched.select(col("u").as("n"))
        .unionByName(matched.select(col("v").as("n")))
        .distinct()
      e = e
        .join(touched.withColumnRenamed("n", "u"), Seq("u"), "left_anti")
        .join(touched.withColumnRenamed("n", "v"), Seq("v"), "left_anti")
        .transform(Checkpoints.cut)
    }
    (matched, e)
  }
}
