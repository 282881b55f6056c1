package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank power iteration as DataFrame algebra — the canonical
  * iterative-graph workload (public algorithm: Brin & Page). Each round
  * is one join (ranks onto edge sources) + one aggregate (contributions
  * by destination):
  *
  *   r'(v) = (1-d)/N + d · Σ_{u→v} r(u) / outdeg(u)
  *
  * Scale shape: the per-round shuffle is keyed by edge source then
  * destination — at 100 TB both edges and ranks pre-partition on the
  * same key (bucketing) so the join is exchange-free and only the
  * contribution aggregate moves data. The working set is cut every
  * round through [[Checkpoints]] (the q51/q60/q95 iterative-plan
  * discipline — without it the lineage doubles per round). Rank sums
  * accumulate in decimal(38,12) (the repo-wide order-independent
  * summation recipe), so results are exact across partitionings and
  * engines.
  *
  * Correct for GENERAL directed graphs (round 4):
  *  - the node set is src ∪ dst, so pure sinks hold rank;
  *  - each round rebuilds ranks on the full node set (a node with no
  *    in-edges keeps its teleport share instead of silently vanishing
  *    from later rounds);
  *  - rank held by DANGLING nodes (no out-edges) folds back uniformly:
  *    r'(v) = (1-d)/N + d·(Σ_{u→v} r(u)/outdeg(u) + D/N), D = Σ_{dangling} r(u)
  *    — the standard correction; without it total rank mass leaks every
  *    round. The fold is one scalar aggregate per round, broadcast into
  *    the round's own checkpoint job (no driver round trip).
  *    [[symmetrize]] remains the cheap path for undirected
  *    graphs, where D = 0 exactly and the fold adds nothing.
  */
object PageRank {

  /** Both directions of every edge, deduplicated. */
  def symmetrize(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("src"), col("dst"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    fwd.union(rev).distinct()
  }

  /** Run `iters` power-iteration rounds at damping `d` over DIRECTED
    * (src, dst) edges. Returns (node, r) over src ∪ dst. */
  def run(edges: DataFrame, iters: Int, damping: Double): DataFrame = {
    // pay the src-shuffle ONCE: the checkpointed edge set is physically
    // hash-partitioned on src (LogicalRDD keeps the partitioning
    // metadata), so each round's ranks join plans no edge-side
    // exchange — the local stand-in for bucketing edges by src on a
    // cluster. Degrees fold into the same pre-join (src, dst, deg)
    // shape so rounds do one join, not two. Spread, because every round
    // aligns to the checkpointed partitioning: unspread, q96's round jobs
    // ran as one 1.78 s task (r15).
    val e = Place.spread(edges, col("src")).transform(Checkpoints.cut)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // deg aggregates on e's own hash(src) partitioning and the
    // join keys match it, so ed inherits that partitioning without a
    // second exchange — the cut stores it for every round to align to
    val ed = e
      .join(deg, "src")
      .transform(Checkpoints.cut)
    val (nodes, nodeCount) = Checkpoints.cutObserved(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct(),
      count(lit(1)))
    val (srcs, srcCount) = Checkpoints.cutObserved(
      e.select(col("src").as("node")).distinct(), count(lit(1)))
    val n = nodeCount.getLong(0)
    // a graph where every node has an out-edge (e.g. symmetrized) has
    // dm = 0.0 every round — skip the per-round scalar aggregate
    val hasDangling = srcCount.getLong(0) != n
    var ranks = nodes.withColumn("r", lit(1.0 / n))
    var prevCkpt: DataFrame = null
    for (_ <- 1 to iters) {
      // dangling mass this round: decimal-exact (order-independent) sum
      // of rank on nodes with no out-edges, attached as a BROADCAST
      // 1-row frame so it evaluates INSIDE the round's one checkpoint
      // job (r11; the r10 head() was a second driver job per round —
      // a scalar that never leaves the cluster shouldn't schedule one).
      // The double value is identical: same decimal accumulation, same
      // cast, and dm/n is computed in double on both paths.
      val next0 =
        nodes
          .join(
            ed.join(ranks, ed("src") === ranks("node"))
              .select(col("dst"), (col("r") / col("deg")).as("c"))
              .groupBy(col("dst").as("node"))
              .agg(sum(col("c").cast("decimal(38,12)")).cast("double").as("csum")),
            Seq("node"),
            "left"
          )
      val next = (
        if (!hasDangling)
          next0.select(
            col("node"),
            (lit((1.0 - damping) / n) +
              lit(damping) * coalesce(col("csum"), lit(0.0))).as("r"))
        else {
          val dmf = ranks
            .join(srcs, Seq("node"), "left_anti")
            .agg(coalesce(sum(col("r").cast("decimal(38,12)")).cast("double"), lit(0.0)).as("dm"))
          next0
            .crossJoin(broadcast(dmf))
            .select(
              col("node"),
              (lit((1.0 - damping) / n) +
                lit(damping) * (coalesce(col("csum"), lit(0.0)) + col("dm") / lit(n.toDouble))).as("r"))
        }
      )
        // spread the round output too: the cut otherwise stores ranks at
        // the AQE-coalesced width and the next round ran as one 1.9 s task (r15)
        .transform(Place.spread(_, col("node")))
        .transform(Checkpoints.cut)
      // free the superseded round's checkpoint blocks (executor storage
      // otherwise grows linearly with iters for library callers)
      if (prevCkpt != null) Checkpoints.release(prevCkpt)
      prevCkpt = next
      ranks = next
    }
    // the returned frame is the only checkpoint callers need: the final
    // round's blocks back `ranks` itself, but e/ed/nodes/srcs are now
    // dead weight — free them so repeated run() calls by library
    // callers don't grow executor storage by four frames per call.
    // iters=0 exception: `ranks` is then nodes.withColumn(...), backed
    // by the nodes checkpoint itself — freeing it would leave the
    // returned frame unrecomputable (localCheckpoint truncates lineage)
    val dead = if (iters >= 1) Seq(e, ed, nodes, srcs) else Seq(e, ed, srcs)
    dead.foreach(Checkpoints.release)
    ranks
  }
}
