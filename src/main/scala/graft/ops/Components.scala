package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the exact closure
  * that [[TextDedup.dedupAssignments]] approximates in one hop. Used to
  * turn near-duplicate PAIRS into duplicate CLUSTERS (one representative
  * per component keeps; everything else drops).
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labelled with itself; each round every node takes the minimum label
  * across itself and its neighbors; fixpoint in O(component diameter)
  * rounds. Near-dup graphs are clique-ish (diameter 1-3), so 2-4 rounds
  * close the overwhelming majority of real corpora.
  *
  * Scale shape: each round is one equi join (labels × edges, shuffled on
  * the edge key) + one groupBy-min — no collect of nodes or edges, state
  * is one (id, label) row per node. The only driver-side value per round
  * is the Σcomp that decides convergence, observed on the round's own
  * checkpoint job. The round loop, its bound and its throw are
  * [[Checkpoints.fixpoint]], as for [[largeStarSmallStar]]. Every round
  * is cut; no round's checkpoint is released (each is a few bytes per
  * node).
  */
object Components {

  /** The sum-based convergence probe (and the decimal(38,0) cast it
    * relies on) is only exact for INTEGRAL node ids: on string ids the
    * cast yields nulls, and numeric-looking strings propagate
    * lexicographic minima whose changes can cancel in a sum. Fail fast
    * at entry instead of converging wrongly.
    */
  private[ops] def requireIntegralIds(edges: DataFrame, cols: String*): Unit = {
    import org.apache.spark.sql.types._
    cols.foreach { c =>
      val ok = edges.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok,
        s"node id column '$c' must be an integral type (the monotone-sum " +
          s"convergence probe is exact only for integer ids); got " +
          s"${edges.schema(c).dataType}")
    }
  }

  /** @param edges two-column DataFrame of undirected edges with
    *        INTEGRAL-typed node ids (asserted — see requireIntegralIds)
    * @return (id, component) — component is the min node id reachable;
    *         isolated nodes absent from `edges` are absent here too
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 50
  ): DataFrame = {
    requireIntegralIds(edges, srcCol, dstCol)
    // NOTE (r15): a Checkpoints.cut here instead of the lazy persist was
    // tried and measured BOTH ways: it fixed q140 (whose edge input
    // carries the whole nearDupsExact token pipeline, and an uncut plan
    // re-enters analysis in EVERY round's join — ~14 s of driver gaps)
    // but regressed the cheap-plan callers q51/q84/q146 by ~0.8 s each
    // (an extra eager materialization job + checkpoint I/O they don't
    // need). The fix lives at the call sites with fat plans — q140 cuts
    // its pairs frame before calling in — and the op keeps the lazy
    // persist that cheap callers fold into their first-round job.
    val sym = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .transform(Place.persisted)

    // a checkpoint, not persist: every round's frame is derived from
    // the previous round's, so the LOGICAL plan doubles per iteration —
    // a cached-but-uncheckpointed loop spends exponentially growing time
    // in analysis/codegen even though the data is tiny (the standard
    // iterative-DataFrame pitfall; GraphFrames checkpoints for the same
    // reason). A checkpoint materializes AND truncates lineage.
    //
    // convergence probe: labels are MIN-MONOTONE (next(comp) =
    // min(own, neighbors') ≤ own), so any change strictly decreases
    // Σcomp — "sum unchanged" is an EXACT fixpoint test, not a hash.
    // It is observed on each round's checkpoint job, so it costs no
    // job of its own. decimal(38,0) keeps the sum exact for any id
    // domain (n·max_id < 10³⁸ for anything representable in int64).
    //
    // a silent partial result would return SPLIT components (multiple
    // "representatives" per true cluster), so an unsettled loop throws;
    // min-label closes one hop per round, so maxIter bounds the
    // component diameter the caller is prepared to pay for
    // (largeStarSmallStar converges in O(log n) rounds instead)
    val start = sym.select(col("src").as("id")).distinct().withColumn("comp", col("id"))
    val compSum = sum(col("comp").cast("decimal(38,0)"))
    try Checkpoints
      .fixpoint("connectedComponents", maxIter, start, compSum)(Checkpoints.sameProbe) { labels =>
        // each node's new label: min over (its label, its neighbors' labels)
        val viaNeighbors = labels
          .join(sym, labels("id") === sym("src"))
          .select(col("dst").as("id"), col("comp"))
        labels
          .select(col("id"), col("comp"))
          .unionByName(viaNeighbors)
          .groupBy(col("id"))
          .agg(min(col("comp")).as("comp"))
      }
      .select(col("id"), col("comp").as("component"))
    finally sym.unpersist(blocking = false)
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the shape for PLANET-SCALE graphs: converges in
    * O(log n) rounds regardless of component diameter (min-label
    * propagation needs O(diameter) rounds — a 10⁶-hop chain is 10⁶
    * rounds there, ~20 here).
    *
    * Per round, each node points its strictly-larger neighbors (large
    * star) / its smaller-or-equal neighbors (small star) at the minimum
    * of its closed neighborhood; both are one groupBy-min + one join —
    * the same two-shuffle cost as a min-label round, so the log-round
    * bound is the whole win. Convergence is detected with a count +
    * order-independent hash-sum fingerprint of the edge set, observed
    * on each small-star cut ([[Checkpoints.fixpoint]]); a fingerprint
    * match is then CONFIRMED with an exact two-sided anti-join equality
    * check (run only on a match), so a 64-bit collision can cost an
    * extra round but never a wrong answer.
    */
  def largeStarSmallStar(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 40
  ): DataFrame = {
    // closed-neighborhood minimum per node, attached to every row of the
    // symmetric edge view via a window — ONE shuffle (the window's
    // hash-partition on u) where a groupBy-min + join-back costs two and
    // reads its input twice
    def withMinNbr(sym: DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
      sym.withColumn("m", least(min(col("v")).over(w), col("u")))
    }
    def sym(e: DataFrame) =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    // canonical undirected edge set: u < v, distinct, no self-loops
    def canon(e: DataFrame) =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct()

    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    // every node mentioned in the input — canon() drops self-loops, so
    // self-loop-only nodes must be restored as singletons at the end
    // (connectedComponents labels them; a drop-in replacement must too)
    val nodes = raw
      .select(col("u").as("id"))
      .unionByName(raw.select(col("v").as("id")))
      .distinct()
      .transform(Checkpoints.cut)
    // the edge set's (count, hash-sum) fingerprint, observed on each cut;
    // a match is confirmed exactly before the loop stops — a hash
    // collision must cost a round, never a silently split component
    val fingerprint = Seq(count(lit(1)), coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)))
    val stars = Checkpoints.fixpoint("largeStarSmallStar", maxIter, canon(raw), fingerprint: _*) {
      case ((e, fp), (ss, fpNext)) => fp == fpNext && ss.except(e).isEmpty && e.except(ss).isEmpty
    } { e =>
      // large star: neighbors v > u attach to min of u's closed nbhd.
      // (checkpointed: the next step's sym() reads it twice, and the
      // canon distinct must not replay per consumer — a lazy persist
      // here measured FLAT: the two sym() scans race to materialize
      // the cache inside one job and recompute the window instead)
      val ls = canon(
        withMinNbr(sym(e)).filter(col("v") > col("u")).select(col("v").as("u"), col("m").as("v"))
      ).transform(Checkpoints.cut)
      // small star: neighbors v <= u (and u itself) attach to the min.
      // One explode emits both edge kinds in a single pass over the
      // windowed frame — no intermediate join materialization at all
      // (the old two-branch union read a checkpointed join twice). The
      // (u, m) edge repeats once per group row; canon's distinct folds
      // the copies.
      canon(
        withMinNbr(sym(ls))
          .select(
            explode(
              when(
                col("v") < col("u"),
                array(
                  struct(col("v").as("u"), col("m").as("v")),
                  struct(col("u"), col("m").as("v"))
                )
              ).otherwise(array(struct(col("u"), col("m").as("v"))))
            ).as("e")
          )
          .select(col("e.u").as("u"), col("e.v").as("v"))
      )
    }
    // fixpoint edges are stars (node, root); roots label themselves,
    // and nodes with no surviving edges (self-loop-only) are singletons
    val labeled = sym(stars)
      .groupBy(col("u")).agg(min(col("v")).as("component"))
      .select(col("u").as("id"), least(col("u"), col("component")).as("component"))
    nodes
      .join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** INCREMENTAL component maintenance — fold a batch of NEW edges into
    * an existing labelling without re-running CC over the whole graph:
    * the streaming-dedup companion (a near-dup index absorbing today's
    * crawl should not recompute yesterday's corpus).
    *
    * Construction: components touched by a new edge are collapsed to
    * STAR edges (member → its old label; sound because the old label is
    * itself a member node and the star preserves exactly the old
    * connectivity), CC runs on (new edges ∪ affected stars) ONLY, and
    * untouched components keep their labels verbatim. Work scales with
    * the affected subgraph, not the corpus: the touched-component
    * filter is two keyed semi joins, and at 100 TB "affected" is the
    * day's arrivals plus their collision neighborhoods.
    *
    * Law (spec + q140 oracle): the merged labelling EQUALS the full
    * recompute over old ∪ new edges — min-label canonical form on both
    * sides, so equality is row-for-row. (Labels here are min ids, and a
    * merge of two old components relabels the loser's members — the
    * maintenance is about WORK, not label stability.)
    *
    * @param oldLabels (id, component) from a prior run (min-label form)
    * @param newEdges  two-column new edge frame (id_a, id_b)
    */
  def incrementalUpdate(oldLabels: DataFrame, newEdges: DataFrame): DataFrame = {
    val touchedIds = newEdges
      .select(col("id_a").as("id"))
      .unionByName(newEdges.select(col("id_b").as("id")))
      .distinct()
    val touchedComps = oldLabels
      .join(touchedIds, Seq("id"))
      .select(col("component"))
      .distinct()
    val affected = oldLabels
      .join(touchedComps, Seq("component"))
      .transform(Place.materialized) // eager: star edges + merge-back share this cache
    val starEdges = affected
      .filter(col("id") =!= col("component")) // label's self-star is a no-op
      .select(col("id").as("id_a"), col("component").as("id_b"))
    val sub = connectedComponents(newEdges.unionByName(starEdges))
    val untouched = oldLabels
      .join(touchedComps, Seq("component"), "left_anti")
      .select(col("id"), col("component"))
    untouched.unionByName(sub.select(col("id"), col("component")))
  }
}
