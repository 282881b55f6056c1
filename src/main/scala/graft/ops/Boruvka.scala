package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BORŮVKA MINIMUM SPANNING FOREST — the parallel-native MST algorithm
  * (each round every component claims its minimum incident cross edge,
  * components contract, rounds halve the component count ⇒ O(log n)
  * rounds), the same round structure Sollin published and every
  * Pregel/GraphX MST variant uses. The reference pipeline has no graph
  * module (its dataflow is flat polling, `/root/reference/app/main.py`);
  * this extends the repo's CC/SCC/LabelProp family with the remaining
  * classic: spanning-structure extraction, the primitive behind
  * single-link clustering of near-dup graphs at corpus scale.
  *
  * Contract: `edges` exposes (`src`, `dst`, `w`) with one row per
  * undirected edge (src < dst). Selection minimizes the STRUCT
  * (w, src, dst) — a total order even under duplicate weights, so the
  * forest is the unique lexicographic-Kruskal MSF and every round is
  * deterministic on both engines (the q277 replay posture).
  *
  * Scale shape: per round one two-sided label join + one per-component
  * min-struct aggregate (both shuffle on bounded keys), then label
  * maintenance on the CONTRACTED hook graph only — each component's
  * chosen (comp → other-comp) pointer, a frame that HALVES each round.
  * The hook graph is a PSEUDO-FOREST (out-degree exactly 1; under a
  * total edge order its only cycles are the mutual 2-cycles at each
  * merge group's minimum edge — a longer pointer cycle would need a
  * strictly-decreasing weight cycle), so labels come from the classic
  * Shiloach–Vishkin recipe: break the 2-cycle at the pair minimum,
  * then POINTER-JUMP (p ← p∘p) to the root in O(log depth) one-join
  * rounds. Never a CC recompute over the accumulated forest: the
  * forest GROWS per round while the hook graph shrinks, and min-label
  * CC on the forest would pay O(tree diameter) rounds on exactly the
  * round where trees are deepest (measured on the q283 block graph at
  * sf0.1: 17 s forest-CC → 5.8 s this form). No driver collects
  * beyond the per-jump convergence scalar; forest size ≤ nodes−1 by
  * construction.
  */
object Boruvka {

  /** Forest edges (src, dst, w) after `rounds` Borůvka rounds.
    * `rounds` must be ≥ log2(largest final component's node count);
    * extra rounds are no-ops (no cross-component edge left).
    */
  def forest(edges: DataFrame, rounds: Int): DataFrame =
    forestWithLabels(edges, rounds)._1

  /** Like [[forest]], but also returns the component labels the
    * algorithm maintains anyway — (node, comp) with comp CANONICALIZED
    * to the component's minimum node id (one extra groupBy-min + join;
    * hook roots alone are deterministic but not min-ids). Running this
    * on a τ-THRESHOLDED edge set yields single-link clusters at τ in
    * the same pass as their spanning forest — no separate CC job.
    */
  def forestWithLabels(edges: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    // materialized ONCE: every round's cross join re-reads the edge set,
    // and an uncut input replays its whole upstream plan (parquet scan +
    // weight derivation in the q283 case) per round
    val e0 = Checkpoints.cut(edges.select(col("src"), col("dst"), col("w")))
    val nodes = e0
      .select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node")))
      .distinct()

    var labels = Checkpoints.cut(nodes.withColumn("comp", col("node")))
    var forest = e0.limit(0)
    // each round's sel stays PERSISTED until the forest union is cut
    // once after the loop — the r10 form checkpointed the growing
    // forest per round (an eager job each time for a frame nothing
    // reads until the end); deferring pays ONE materialization total,
    // while the persisted sels keep the deferred union from replaying
    // any round's join+aggregate
    val sels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val cross = e0
        .join(labels.select(col("node").as("src"), col("comp").as("ca")), Seq("src"))
        .join(labels.select(col("node").as("dst"), col("comp").as("cb")), Seq("dst"))
        .where(col("ca") =!= col("cb"))
      // ONE pass over the cross join: explode emits the edge under both
      // endpoint components (the r10 union form evaluated the uncached
      // three-way join twice — once per branch). min carries (ca, cb)
      // along: they are a function of (src, dst), so the
      // (w, src, dst)-prefixed struct order picks the same edge.
      val sel = cross
        .select(
          struct(col("w"), col("src"), col("dst"), col("ca"), col("cb")).as("e"),
          explode(array(col("ca"), col("cb"))).as("comp"))
        .groupBy(col("comp"))
        .agg(min(col("e")).as("e"))
      Place.persisted(sel)
      // materialize the cache NOW (one scalar job): hookLabels reads
      // sel from two subtrees of one join — on an unmaterialized cache
      // both sides recompute the cross join + aggregate (measured 2.5×
      // on q283/q292 when the r10 forest checkpoint, which used to do
      // this materialization as a side effect, was deferred). The count
      // doubles as the EARLY EXIT: no cross edge left ⇒ the forest is
      // complete and the remaining rounds would be no-ops.
      val nCross = sel.count()
      if (nCross == 0) {
        sel.unpersist(blocking = false)
        exhausted = true
      } else {
        sels += sel
        // a cross edge chosen in round r merges its endpoints' components,
        // so it can never be cross again — the union needs no re-distinct
        forest = forest.unionByName(
          sel
            .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
            .distinct())
        // invariant: comp labels after round r = CC of the forest after r
        // rounds; THIS round's merge structure is the hook pointer
        // p(comp) = the chosen edge's other-endpoint component
        val merged = hookLabels(sel.select(
          col("comp").as("c"),
          when(col("comp") === col("e.ca"), col("e.cb")).otherwise(col("e.ca")).as("p")))
        labels = Checkpoints.cut(
          labels
            .join(merged.select(col("c").as("comp"), col("p").as("c2")), Seq("comp"), "left")
            .select(col("node"), coalesce(col("c2"), col("comp")).as("comp")))
      }
      r += 1
    }
    forest = Checkpoints.cut(forest)
    sels.foreach(_.unpersist(blocking = false))
    val canon = labels
      .groupBy(col("comp"))
      .agg(min(col("node")).as("canon"))
    val canonLabels = labels
      .join(canon, Seq("comp"))
      .select(col("node"), col("canon").as("comp"))
    (forest, canonLabels)
  }

  /** MSF of a graph whose edges NEVER CROSS `grp` groups — the
    * locality-aware fast path (r15). When a graph decomposes into
    * bounded independent subgraphs (every edge's endpoints share one
    * group value — the caller's ASSERTION, true by construction for
    * the q283/q292 block graphs), the global MSF is exactly the union
    * of per-group MSFs: a cut between groups is never crossed, so no
    * group's choice can affect another's. That turns O(log n) rounds
    * of joins + checkpoints + convergence probes (measured: 110 Spark
    * jobs at harness scale) into ONE group-keyed shuffle and a
    * map-side Kruskal fold per group — the Karloff–Suri–Vassilvitskii
    * MapReduce-MST shape specialized to independent partitions, where
    * local MST is exact rather than a candidate-pruning step.
    *
    * The per-group fold is plain Kruskal over the lexicographically
    * sorted (w, src, dst) edge list — the SAME total order Borůvka's
    * min-struct selection uses, so the kept set is the identical
    * unique lexicographic-Kruskal MSF (BoruvkaLocalSpec pins equality
    * against [[forestWithLabels]]). Union-find lives in the fold
    * accumulator as a fully-flattened (node → root) array: roots merge
    * to LEAST(rootA, rootB), so each cluster's label converges to its
    * MINIMUM node id — the same canonical labels forestWithLabels
    * returns. Integer-only arithmetic: bit-identical on any engine,
    * any partitioning.
    *
    * Scale posture: one shuffle keyed by `grp`; per-task state is one
    * group's edge list (the boundedness the caller asserts — the same
    * contract as every blocked/banded operator in this repo). Groups
    * land across the shuffle partitions, so parallelism tracks the
    * group count, not the graph size.
    *
    * @return (forest, labels): forest = (src, dst, w) MSF edges;
    *         labels = (node, comp) for every node incident to an edge,
    *         comp = min node id of its component.
    */
  def forestWithLabelsLocalGroups(
      edges: DataFrame,
      grp: org.apache.spark.sql.Column
  ): (DataFrame, DataFrame) = {
    val labT = "array<struct<n: bigint, c: bigint>>"
    val keptT = "array<struct<w: bigint, src: bigint, dst: bigint>>"
    // resolved root of a node: its entry in the flattened label array,
    // else itself (first appearance = its own singleton root)
    def root(node: String) =
      s"coalesce(element_at(filter(acc.lab, p -> p.n = $node), 1).c, $node)"
    val la = root("e.src")
    val lb = root("e.dst")
    val fold =
      s"""aggregate(
         |  es,
         |  cast(named_struct('lab', array(), 'kept', array())
         |       as struct<lab: $labT, kept: $keptT>),
         |  (acc, e) -> CASE WHEN ($la) = ($lb) THEN acc ELSE named_struct(
         |    'lab', concat(
         |      transform(acc.lab, p -> named_struct(
         |        'n', p.n,
         |        'c', CASE WHEN p.c = greatest($la, $lb)
         |             THEN least($la, $lb) ELSE p.c END)),
         |      CASE WHEN exists(acc.lab, p -> p.n = e.src)
         |           THEN cast(array() as $labT)
         |           ELSE array(named_struct('n', e.src, 'c', least($la, $lb))) END,
         |      CASE WHEN exists(acc.lab, p -> p.n = e.dst)
         |           THEN cast(array() as $labT)
         |           ELSE array(named_struct('n', e.dst, 'c', least($la, $lb))) END),
         |    'kept', concat(acc.kept, array(e))) END)""".stripMargin
    val folded = edges
      .groupBy(grp.as("__grp"))
      .agg(sort_array(collect_list(struct(
        col("w").cast("long").as("w"),
        col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))).as("es"))
      .select(expr(fold).as("res"))
      // eager: forest and labels can be two subtrees of one job (q292's final join)
      .transform(Place.materialized)
    val forest = folded
      .select(explode(col("res.kept")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
    val labels = folded
      .select(explode(col("res.lab")).as("p"))
      .select(col("p.n").as("node"), col("p.c").as("comp"))
    (forest, labels)
  }

  /** Resolve the hook pseudo-forest `ptr` (c → p, out-degree exactly 1,
    * cycles only mutual 2-cycles) to root labels: break each 2-cycle at
    * the pair minimum (the root self-loops), then pointer-jump until
    * p = p∘p everywhere. Every frame is ≤ |components| rows; the loop
    * BATCHES TWO jumps per iteration (p ← (p∘p)∘(p∘p), two self-joins)
    * per checkpoint (which counts the unsettled pointers on its own
    * job), so convergence costs ⌈log₄ depth⌉ round-trips, not ⌈log₂⌉ —
    * on the shallow per-round hook forests (depth ≤ component count
    * halvings) that halves the fixed driver-side overhead, which is
    * the dominant cost at harness scale. Extra jumps past the root are
    * no-ops (the root self-loops), so over-jumping is always safe.
    *
    * The loop is its own, not [[Checkpoints.fixpoint]]: its first cut
    * observes nothing (no pointer has jumped yet) and each step starts
    * from a projection of the last cut, while the helper observes its
    * probe on every cut, the first included. Routing it there would add
    * an observation and a column to the first cut's plan. The loop needs
    * no round bound: once 2-cycles are broken the pointers form a forest,
    * and each step halves every pointer's distance to its root twice.
    */
  private def hookLabels(ptr0: DataFrame): DataFrame = {
    val grand = ptr0.select(col("c").as("p"), col("p").as("pp"))
    // cut per step: both sides of the next jump re-read the frame,
    // and an uncut chain re-evaluates every prior jump per consumer
    // (measured: the lazy form re-shuffled quadratically many joins)
    var ptr = Checkpoints.cut(
      ptr0
        .join(grand, Seq("p"))
        .select(
          col("c"),
          when(col("pp") === col("c"), least(col("c"), col("p"))).otherwise(col("p")).as("p")))
    var done = false
    while (!done) {
      // first jump (lazy — bounded lineage on the checkpointed ptr)
      val t1 = ptr.select(col("c").as("p"), col("p").as("pp"))
      val j1 = ptr.join(t1, Seq("p")).select(col("c"), col("pp").as("p"))
      // second jump, then one checkpoint counting pointers still moving
      val t2 = j1.select(col("c").as("p"), col("p").as("pp"))
      val (j2, moved) = Checkpoints.cutObserved(
        j1.join(t2, Seq("p")).select(col("c"), col("p"), col("pp")),
        count(when(col("p") =!= col("pp"), 1)))
      done = moved.getLong(0) == 0
      ptr = j2.select(col("c"), col("pp").as("p"))
    }
    ptr
  }
}
