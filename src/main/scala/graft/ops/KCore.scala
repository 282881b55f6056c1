package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K-CORE DECOMPOSITION by iterative peeling — the maximal subgraph in
  * which every node has degree ≥ k, computed by repeatedly deleting
  * under-degree nodes until the degree condition is a fixpoint (the
  * deletion cascade: removing a degree-2 node can push its neighbours
  * under k).
  *
  * Each round is one degree aggregate over the surviving edge
  * endpoints plus two semi joins (both endpoints must survive); the
  * rounds run through [[Checkpoints.fixpoint]], which cuts each one and
  * observes the surviving edge count on the cut's own job — the same
  * loop as [[Components]] and [[Scc]].
  * Round count is the peeling depth of the graph (the longest deletion
  * cascade), not its diameter; bounded-degree graphs converge in a
  * handful of rounds. At cluster scale the refinement is DELTA peeling
  * (re-aggregate only neighbourhoods of just-deleted nodes); the
  * full-reaggregate form here has identical output and one extra scan
  * per round — the fixpoint, not the schedule, is the contract.
  */
object KCore {

  /** Surviving edges of the k-core (canonicalized u < v, deduped).
    * Nodes of the core are the endpoints; by the fixpoint every one
    * has induced degree ≥ k.
    */
  def coreEdges(
      edges: DataFrame,
      k: Int,
      srcCol: String = "u",
      dstCol: String = "v",
      maxIter: Int = 50
  ): DataFrame = {
    // a silent partial peel would return edges whose endpoints can
    // still be under-degree (the cascade was cut mid-flight), so an
    // unsettled loop throws: maxIter bounds the peeling depth the caller
    // is prepared to pay for. The probe is the surviving edge count.
    val canonical = edges
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") < col("v"))
      .distinct()
    Checkpoints.fixpoint("KCore.coreEdges", maxIter, canonical, count(lit(1)))(Checkpoints.sameProbe) { e =>
      val deg = e
        .select(col("u").as("id"))
        .unionByName(e.select(col("v").as("id")))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select(col("id"))
      e.join(keep.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }
  }
}
