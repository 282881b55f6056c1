package graft

import org.scalatest.funsuite.AnyFunSuite

/** `PlanCheck.normalize`: the same authored plan normalizes to one text
  * whatever order Spark numbered its count-distinct groups in, and a
  * plan that differs in a projection does not. */
class PlanCheckSpec extends AnyFunSuite {

  /** The count-distinct core of q208_zorder_effect's executed plan: the
    * Expand lists the regular group and one group per distinct column,
    * and the aggregate above filters each function on its gid. */
  private def dump(lexGid: Int, zGid: Int, ids: Int = 0, zCol: String = "file_z"): String = {
    val projs = Seq(
      0 -> s"[qid#${30 + ids}, null, null, 0]",
      lexGid -> s"[qid#${30 + ids}, file_lex#${15 + ids}L, null, $lexGid]",
      zGid -> s"[qid#${30 + ids}, null, $zCol#${16 + ids}L, $zGid]").sortBy(_._1).map(_._2)
    val g = s"gid#${47 + ids}"
    s"""*(2) HashAggregate(keys=[qid#${30 + ids}], functions=[partial_first(count(1)#${50 + ids}L, true) FILTER (WHERE ($g = 0)), partial_count(file_lex#${48 + ids}L) FILTER (WHERE ($g = $lexGid)), partial_count(file_z#${49 + ids}L) FILTER (WHERE ($g = $zGid))], output=[qid#${30 + ids}, first#56L, valueSet#57, count#58L, count#59L])
       |+- *(2) HashAggregate(keys=[qid#${30 + ids}, file_lex#${48 + ids}L, file_z#${49 + ids}L, $g], functions=[count(1)], output=[qid#${30 + ids}, file_lex#${48 + ids}L, file_z#${49 + ids}L, $g, count(1)#${50 + ids}L])
       |   +- Exchange hashpartitioning(qid#${30 + ids}, file_lex#${48 + ids}L, file_z#${49 + ids}L, $g, 200), ENSURE_REQUIREMENTS, [plan_id=${86 + ids}]
       |      +- *(1) Expand ${projs.mkString("[", ", ", "]")}, [qid#${30 + ids}, file_lex#${48 + ids}L, file_z#${49 + ids}L, $g]
       |         +- *(1) Project [file_lex#${15 + ids}L, file_z#${16 + ids}L, qid#${30 + ids}]""".stripMargin
  }

  test("two dumps that differ only by a gid permutation normalize equal") {
    val a = dump(lexGid = 1, zGid = 2)
    val b = dump(lexGid = 2, zGid = 1, ids = 7)
    assert(a != b)
    assert(PlanCheck.normalize(a) == PlanCheck.normalize(b))
  }

  test("every gid test in the plan is renumbered with its projection") {
    val n = PlanCheck.normalize(dump(lexGid = 2, zGid = 1))
    // sorted with the gid stripped: file_lex's group, file_z's, then the regular one
    assert(n.contains("Expand [[qid#, file_lex#, null, 0], [qid#, null, file_z#, 1], [qid#, null, null, 2]]"))
    assert(n.contains("partial_count(file_lex#) FILTER (WHERE (gid# = 0))"))
    assert(n.contains("partial_count(file_z#) FILTER (WHERE (gid# = 1))"))
    assert(n.contains("FILTER (WHERE (gid# = 2))"))
  }

  test("two dumps that differ in a projection do not normalize equal") {
    assert(PlanCheck.normalize(dump(1, 2)) != PlanCheck.normalize(dump(1, 2, zCol = "file_y")))
    assert(PlanCheck.normalize(dump(1, 2)) != PlanCheck.normalize(dump(1, 2).replace("[qid#30, null, null, 0]", "[qid#30, 1, null, 0]")))
  }

  test("an Expand with no gid column is left in its order") {
    val rollup = "Expand [[a#1, b#2, 0], [a#1, null, 1], [null, null, 3]], [a#4, b#5, spark_grouping_id#6L]"
    assert(PlanCheck.normalize(rollup) == "Expand [[a#, b#, 0], [a#, null, 1], [null, null, 3]], [a#, b#, spark_grouping_id#]")
  }
}
