package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** FW-BW SCC on hand-checkable graphs: a planted cycle, a pure DAG,
  * two cycles bridged one-way (must NOT merge), and a self-loop.
  */
class SccSpec extends SparkSpec {
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)], rounds: Int = 8): Map[Long, (Long, Long)] =
    Scc
      .components(edges.toDF("src", "dst"), rounds)
      .select(col("scc_id"), col("size"))
      .as[(Long, Long)]
      .collect()
      .map { case (id, size) => id -> ((id, size)) }
      .toMap

  test("a directed cycle is one SCC; an appended chain stays singletons") {
    // cycle 1→2→3→1, chain 3→10→11
    val c = comps(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L)))
    assert(c(1L)._2 === 3, s"cycle SCC wrong: $c")
    assert(c(10L)._2 === 1 && c(11L)._2 === 1, s"chain merged: $c")
  }

  test("pure DAG: every node its own SCC") {
    val c = comps(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    assert(c.size === 4 && c.values.forall(_._2 == 1L), s"got $c")
  }

  test("two cycles bridged ONE way do not merge") {
    // cycle A: 1→2→1; cycle B: 5→6→5; bridge 2→5 (no way back)
    val c = comps(Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 5L), (2L, 5L)))
    assert(c(1L)._2 === 2 && c(5L)._2 === 2, s"got $c")
    assert(c.size === 2, s"one-way bridge merged the cycles: $c")
  }

  test("bridging back merges them into one SCC") {
    val c = comps(Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 5L), (2L, 5L), (6L, 1L)))
    assert(c(1L)._2 === 4, s"got $c")
  }

  test("self-loop is a size-1 SCC and harmless") {
    val c = comps(Seq((7L, 7L), (7L, 8L)))
    assert(c(7L)._2 === 1 && c(8L)._2 === 1, s"got $c")
  }

  test("a diameter beyond `rounds` throws instead of returning split classes") {
    // a 30-node directed cycle is one SCC, but its labels need ~30 pull
    // rounds to settle; after 4 the (f, b) classes would split it
    val cycle = (0L until 30L).map(i => (i, (i + 1) % 30))
    val e = intercept[IllegalStateException](comps(cycle, rounds = 4))
    assert(e.getMessage.contains("did not converge in 4 rounds"), e.getMessage)
    assert(comps(cycle, rounds = 40) === Map(0L -> ((0L, 30L))))
  }
}
