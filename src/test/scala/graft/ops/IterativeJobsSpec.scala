package graft.ops

import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark jobs per call of each iterative operator on a fixed fixture,
  * pinned at the floor of one observed cut per round: every round's
  * convergence or size scalar comes from its checkpoint's own job
  * ([[Checkpoints.cutObserved]]), never from an action of its own. The
  * checkpoint count pins the round count alongside, so a change that
  * saves jobs by running fewer rounds (or costs jobs by running more)
  * shows as such.
  */
class IterativeJobsSpec extends SparkSpec {
  import spark.implicits._

  /** (jobs, checkpoints) started while `body` runs. Each cut is one
    * `localCheckpoint` SQL execution, posted on the same listener bus
    * before the jobs it starts. */
  private def jobsAndCuts(body: => Unit): (Int, Int) = {
    val cuts = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.description.startsWith("localCheckpoint at") =>
          cuts.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val jobs = jobsDuring(body)
      (jobs, cuts.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def chain(n: Long) = (0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")

  test("connectedComponents: an 8-node chain settles in 7 rounds, confirmed by an 8th") {
    val (jobs, cuts) = jobsAndCuts { Components.connectedComponents(chain(7)) }
    assert(cuts === 1 + 8) // the initial labels, then one cut per round
    assert(jobs === 27)
  }

  test("largeStarSmallStar: a 33-node chain contracts in 6 rounds") {
    val (jobs, cuts) = jobsAndCuts { Components.largeStarSmallStar(chain(32)) }
    assert(cuts === 2 + 2 * 6) // nodes and edges, then large + small star per round
    assert(jobs === 46)
  }

  test("Scc.components: a 6-cycle with a 3-node tail settles in 5 rounds forward and 8 backward") {
    val edges = ((0L until 6L).map(i => (i, (i + 1) % 6)) ++ Seq((5L, 10L), (10L, 11L), (11L, 12L)))
      .toDF("src", "dst")
    val (jobs, cuts) = jobsAndCuts { Scc.components(edges, rounds = 20) }
    // edges and nodes, then per direction the projected edges, the
    // initial labels and one cut per round, the last confirming the
    // fixpoint: node 1 is 5 hops from 0, node 12 is 8 hops after it
    assert(cuts === 2 + 2 * 2 + (5 + 1) + (8 + 1))
    assert(jobs === 54)
  }

  test("Bfs.layers: a 6-node path from its head reaches 5 layers, then an empty frontier") {
    val edges = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val (jobs, cuts) = jobsAndCuts { Bfs.layers(edges, Seq(0L).toDF("node"), maxDepth = 10) }
    // edges and seeds, then per round the frontier and (while it is
    // non-empty) the visited union: 5 + 5 + 1 for the empty round
    assert(cuts === 2 + 5 + 5 + 1)
    assert(jobs === 32)
  }

  test("Bfs.layersBySeed: two seeds on a 6-node path reach 5 and 3 layers, then an empty frontier") {
    val edges = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val (jobs, cuts) = jobsAndCuts { Bfs.layersBySeed(edges, Seq(0L, 2L).toDF("seed"), maxDepth = 10) }
    // edges and seeds, then per round the frontier and (while it is
    // non-empty) the visited union: seed 0's wave is the longest
    assert(cuts === 2 + 5 + 5 + 1)
    assert(jobs === 35)
  }

  test("Boruvka.forest: a triangle and a pair merge in one round, the 2nd finding no cross edge") {
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 20L), (1L, 3L, 30L), (10L, 11L, 1L)).toDF("src", "dst", "w")
    val (jobs, cuts) = jobsAndCuts { Boruvka.forest(edges, rounds = 6) }
    // edges and initial labels; round 1 cuts the hook pointers with each
    // 2-cycle broken, one pointer-jump step that sees none move, and the
    // labels; round 2 counts no cross edge and cuts nothing; then the
    // forest. (A 5-chain needs a second jump step, and repeated calls on
    // it ran 36, 37 or 38 jobs in one JVM, so it could pin nothing.)
    assert(cuts === 2 + 3 + 1)
    assert(jobs === 30)
  }

  test("KCore.coreEdges: a 3-path hanging off a triangle peels in 3 rounds, confirmed by a 4th") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val (jobs, cuts) = jobsAndCuts { KCore.coreEdges(edges, 2) }
    assert(cuts === 1 + 4)
    assert(jobs === 14)
  }

  test("PageRank.run: 3 rounds over a directed graph with a sink") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val (jobs, cuts) = jobsAndCuts { PageRank.run(edges, 3, 0.85) }
    assert(cuts === 4 + 3) // edges, edges with degrees, nodes, sources; one per round
    assert(jobs === 33)
  }
}
