package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous LABEL-PROPAGATION community detection (Raghavan, Albert
  * & Kumara 2007), deterministic variant: every round, every node
  * adopts the MOST FREQUENT label among its in-neighbors, ties broken
  * by the smallest label. The classic formulation updates nodes
  * asynchronously in random order — unreplayable across engines and
  * even across runs; the synchronous min-tie variant is a pure
  * function of (graph, round count), which is what lets a DuckDB
  * oracle replay it round-for-round (the q96 unrolled-recurrence
  * discipline). Complements the component operators: connected
  * components (ops/Components) answer "reachable at all", LPA answers
  * "densely attached where" — communities inside one giant component.
  *
  * Scale shape (the PageRank pattern, PageRank.scala:47): the edge set
  * pays its src-shuffle ONCE (repartition + lineage cut keeps the
  * partitioning metadata), so each round's label join plans no
  * edge-side exchange; a round is then two dst-keyed hash aggregates
  * that share partitioning — count per (dst, label), then the min-tie
  * argmax folded into a single min(struct(-c, label)) (round 9; the
  * earlier cmax-join form paid an extra shuffle + join per round).
  * Labels are checkpointed per round — iterative-lineage hygiene
  * (the Components discipline). Nothing ever collects to the driver.
  */
object LabelProp {

  /** Run `iters` synchronous rounds over DIRECTED (src, dst) edges —
    * pass a symmetrized edge set for the undirected semantics. Label
    * init is the node's own id. Returns (node, label) for EVERY node
    * mentioned in `edges`: a node with no in-edges (possible on
    * arbitrary directed input) has no in-neighbor vote and KEEPS its
    * current label each round — the per-round update left-joins back
    * to the node universe instead of keying the output on dst alone,
    * so directed inputs cannot silently drop source-only nodes.
    *
    * `inCoverTotal = true` is the caller's ASSERTION that every node
    * has at least one in-edge (true by construction for symmetrized
    * input — every node appears as a dst): the per-round update then
    * keys on dst directly and skips the join-back entirely, which is
    * byte-identical on such graphs (the coalesce branch never fires)
    * and saves one join per round. On input violating the assertion
    * the dst-keyed form would DROP source-only nodes — hence opt-in,
    * never inferred.
    */
  def run(edges: DataFrame, iters: Int, inCoverTotal: Boolean = false): DataFrame = {
    // NOTE (r15): explicit conf-width repartitions here (the PageRank
    // spread) were tried and measured INDISTINGUISHABLE from the bare
    // form (q155 5.8-6.5 s both ways across the same load windows; the
    // reverted control read 6.5 in the same minutes) — unlike PageRank,
    // no round stage here collapses to one task, so there was nothing
    // for the spread to recover. Keeping the simpler AQE-managed form.
    val e = edges.repartition(col("src")).transform(Checkpoints.cut)
    // The identity label map over the node universe. Consumed ONLY by
    // the !inCoverTotal join-back and the iters == 0 return — round 1's
    // vote join is skipped on BOTH paths (label(src) = src by
    // construction, so round-1 votes are just e's (dst, src) columns),
    // which under inCoverTotal makes the whole universe frame dead for
    // iters >= 1: `def`, not `val`, so its distinct never runs then.
    // Under the flag the universe is the distinct dst set (the caller's
    // assertion: every node has an in-edge, i.e. appears as a dst); the
    // general path needs src ∪ dst.
    def labels0 = {
      val nodes =
        if (inCoverTotal) e.select(col("dst").as("node")).distinct()
        else
          e.select(col("src").as("node"))
            .unionByName(e.select(col("dst").as("node")))
            .distinct()
      Checkpoints.cut(nodes).withColumn("label", col("node"))
    }
    if (iters == 0) return labels0
    var labels: DataFrame = if (inCoverTotal) null else labels0
    for (i <- 1 to iters) {
      // ONE exchange per round (r11): hash-partitioning the joined
      // votes on dst ALONE satisfies the clustering requirement of
      // both aggregates below (dst ⊆ {dst, label}) AND the join-back
      // key (node = dst), so the count agg, the min-tie argmax, and
      // the label update all run exchange-free on this partitioning —
      // the r10 plan paid three shuffles for the same round
      val votes =
        if (i == 1) e.select(col("dst"), col("src").as("label"))
        else
          e.join(labels, e("src") === labels("node"))
            .select(col("dst"), col("label"))
      val cnt = votes
        .repartition(col("dst"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
      // min-tie argmax in ONE aggregate: min(struct(-c, label)) orders
      // by count DESC then label ASC — struct comparison keeps the
      // label type generic (ids or strings), where a max_by would tie
      // nondeterministically and a cmax-join (the r8 form) pays a
      // second shuffle + join per round for the same answer
      val upd = cnt
        .groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("dst").as("node"), col("m.l").as("new_label"))
      // in-degree-0 nodes are absent from `upd`; coalesce keeps their
      // label (on symmetrized input every node has in-edges and this
      // is byte-identical to the dst-keyed form — q155's contract,
      // which inCoverTotal callers take directly, skipping the join)
      labels =
        if (inCoverTotal) upd.withColumnRenamed("new_label", "label")
        else
          labels
            .join(upd, Seq("node"), "left")
            .select(col("node"), coalesce(col("new_label"), col("label")).as("label"))
      // the FINAL round's cut is skipped (r15): the cut exists to stop
      // the next round's plan from nesting this one — after the last
      // round there is no next round, and the single consumer action
      // (census / collect) plans the one-round-deep tree fine. Callers
      // that run many actions over the result re-plan that last round
      // per action — still bounded, still exact.
      if (i < iters) labels = Checkpoints.cut(labels)
    }
    labels
  }

  /** Community census over a label frame: one row per surviving label
    * with its member count and id range. */
  def census(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label").as("community"))
      .agg(
        count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"),
        max(col("node")).as("max_node")
      )
}
