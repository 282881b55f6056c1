package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MULTI-SOURCE BREADTH-FIRST SEARCH by frontier expansion — shortest
  * hop distance from a seed SET to every node reachable within
  * `maxDepth` hops. The remaining basic graph primitive the engine
  * lacked: components answer "connected at all", LPA "densely attached
  * where", PageRank "how central"; BFS answers "HOW FAR" — reachability
  * radii, contamination blast-radius, link-distance features.
  *
  * Round r joins the current frontier into the edge set (one equi join
  * shuffled on src — the edge frame is repartitioned on src ONCE and
  * checkpointed, so per-round plans add no edge-side exchange), then
  * anti-joins the visited set to keep only first-time nodes: each node
  * is assigned the FIRST round that reaches it, which is the BFS
  * distance by induction. Per-round frames cut lineage through
  * [[Checkpoints]] (iterative-DataFrame discipline; reliable backend
  * under a configured checkpoint dir). The only driver-side values are
  * the per-round frontier row counts that decide early exit, observed
  * on the frontier's own checkpoint job ([[Checkpoints.cutObserved]]).
  *
  * At 100 TB scale this is |E|-proportional work per round with the
  * frontier broadcast-or-shuffled on the same key every round — the
  * Pregel shape expressed declaratively. [[layers]] and [[layersBySeed]]
  * run the same wave; they differ only in the visited key columns.
  */
object Bfs {

  /** (node, dist) for every node reachable from `seeds` within
    * `maxDepth` hops over DIRECTED (src, dst) edges — symmetrize for
    * undirected distance. Seeds are dist 0; unreachable (or
    * beyond-depth) nodes are ABSENT, the caller left-joins against its
    * node universe if it needs them.
    *
    * @param seeds one-column frame of seed node ids (column `node`)
    */
  def layers(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame =
    wave(edges, seeds.select(col("node")).distinct(), Seq("node"), maxDepth)

  /** PER-SEED BFS: (seed, node, dist) for every seed×node pair within
    * `maxDepth` hops — [[layers]] merges all seeds into one wave (one
    * distance per node); this variant keeps each seed's own distance
    * field, the form eccentricity samples and per-query distance
    * features need. Identical round structure with the visited set
    * keyed on (seed, node); state grows with Σ per-seed reach, so use
    * seed SAMPLES at scale, not the full node set (all-pairs BFS is
    * quadratic state by definition).
    *
    * @param seeds one-column frame of seed node ids (column `seed`)
    */
  def layersBySeed(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame =
    wave(
      edges,
      seeds.select(col("seed")).distinct().withColumn("node", col("seed")),
      Seq("seed", "node"),
      maxDepth)

  /** The wave both variants run: `start` holds the visited `keys` at
    * dist 0; round d joins the frontier's `node` into the edges, keeps
    * the reached keys not yet visited and stamps them dist d, until the
    * frontier is empty or `maxDepth` rounds have run. The key columns
    * before `node` (the seed) ride along unchanged.
    */
  private def wave(edges: DataFrame, start: DataFrame, keys: Seq[String], maxDepth: Int): DataFrame = {
    val e = edges
      .select(col("src"), col("dst"))
      .repartition(col("src"))
      .transform(Checkpoints.cut)
    var visited = start.withColumn("dist", lit(0)).transform(Checkpoints.cut)
    var frontier = visited.select(keys.map(col): _*)
    var d = 0
    var exhausted = false
    while (d < maxDepth && !exhausted) {
      d += 1
      val (next, size) = Checkpoints.cutObserved(
        e.join(frontier, e("src") === frontier("node"))
          .select(keys.init.map(col) :+ col("dst").as("node"): _*)
          .distinct()
          .join(visited, keys, "left_anti")
          .withColumn("dist", lit(d)),
        count(lit(1)))
      if (size.getLong(0) == 0) exhausted = true
      else {
        visited = visited.unionByName(next).transform(Checkpoints.cut)
        frontier = next.select(keys.map(col): _*)
      }
    }
    visited
  }
}
