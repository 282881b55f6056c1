package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STRONGLY CONNECTED COMPONENTS via forward/backward min-label
  * propagation — the directed closure of the Components/LabelProp
  * family. Two bounded fixpoint dataflows over the SAME edge frame:
  *
  *   F(v) = min id reachable FROM v   (pull labels from successors)
  *   B(v) = min id that can REACH v   (pull labels from predecessors)
  *
  * and the component key is the pair (F, B): u ≡ v ⟹ they reach the
  * same forward minimum and are reached by the same backward minimum.
  * The converse holds on graphs whose cycles each CONTAIN their
  * component's global minimum-reachable node (true whenever an SCC's
  * minimum id lies on the cycle — e.g. per-block cycle graphs, call
  * graphs with canonical entry nodes); on adversarial graphs (F, B)
  * can over-merge, which is why q277 carries a ground-truth oracle:
  * the driver's hash compare IS the per-dataset proof, the same
  * posture as q130's documented recall finding. For guaranteed
  * general-graph SCC, iterate: contract the (F, B) classes, re-run on
  * the condensation — each pass only ever SPLITS classes.
  *
  * Scale shape: per round one equi join + one min-aggregate, both
  * shuffling on node id; each direction's rounds run through
  * [[Checkpoints.fixpoint]] (one observed cut per round); rounds bounded
  * by the graph's directed diameter, passed explicitly by the caller.
  * No driver collects.
  */
object Scc {

  /** Labels: (node, f, b) after AT MOST `rounds` pull rounds each way —
    * the loop EXITS EARLY at the fixpoint: labels are min-monotone
    * (next = min(own, pulled) ≤ own), so any change strictly decreases
    * Σlbl and "sum unchanged" is an exact convergence test (observed on
    * each round's checkpoint job — the Components probe). `rounds` stays
    * the caller's diameter bound; on graphs that converge sooner (most
    * real ones) the tail rounds are never paid. A direction that has not
    * settled after `rounds` rounds throws: its labels would split real
    * components. `edges` must expose (`src`, `dst`) long columns.
    */
  def fwbwLabels(edges: DataFrame, rounds: Int): DataFrame = {
    Components.requireIntegralIds(edges, "src", "dst") // sum probe needs integer ids
    // cut once (r15): both propagations scan the edge frame and the
    // node set; uncut, each direction re-executes the upstream plan
    val e0 = Checkpoints.cut(edges.select(col("src"), col("dst")))
    val nodes = Checkpoints.cut(
      e0
        .select(col("src").as("node"))
        .unionByName(e0.select(col("dst").as("node")))
        .distinct())
    def propagate(flip: Boolean): DataFrame = {
      val (a, bcol) = if (flip) ("dst", "src") else ("src", "dst")
      // pay the edge-side shuffle ONCE: every round joins on `succ`, so
      // pre-hash-partition the projected edge frame on the join key and
      // cut — the per-round join then plans no edge-side exchange (the
      // LabelProp/PageRank discipline)
      // NOTE (r15): an explicit-width repartition here (the PageRank
      // spread) was tried and MEASURED WORSE (q277 2.9 → 6.6 s): these
      // rounds move tiny frames, so forcing conf-width stages only adds
      // per-task scheduling; AQE's coalescing is right for them. The
      // spread pays only where one heavy join/aggregate dominates the
      // round (PageRank's 940k-edge contribution pass).
      val proj = Checkpoints.cut(
        e0
          .select(col(a).as("node"), col(bcol).as("succ"))
          .repartition(col("succ")))
      // a direction that has not settled in `rounds` would split real
      // components, so the loop throws at the bound
      Checkpoints.fixpoint(
        s"Scc ${if (flip) "backward" else "forward"} labels",
        rounds,
        nodes.withColumn("lbl", col("node")),
        sum(col("lbl").cast("decimal(38,0)")))(Checkpoints.sameProbe) { lab =>
        val pulled = proj
          .join(lab.select(col("node").as("succ"), col("lbl")), Seq("succ"))
          .select(col("node"), col("lbl"))
        lab
          .unionByName(pulled)
          .groupBy(col("node"))
          .agg(min(col("lbl")).as("lbl"))
      }
    }
    // the two directions are independent dataflows until the final
    // join, each a sequential eager loop (one observed cut per round):
    // overlap them on two driver threads (Place.overlap)
    val (fwd, bwd) = Place.overlap(propagate(flip = false), propagate(flip = true))
    fwd
      .withColumnRenamed("lbl", "f")
      .join(bwd.withColumnRenamed("lbl", "b"), Seq("node"))
  }

  /** Component rollup: one row per (f, b) class with size and min id. */
  def components(edges: DataFrame, rounds: Int): DataFrame =
    fwbwLabels(edges, rounds)
      .groupBy(col("f"), col("b"))
      .agg(
        count(lit(1)).as("size"),
        min(col("node")).as("scc_id"))
}
