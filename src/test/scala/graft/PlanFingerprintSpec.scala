package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.planText`, the normalization behind `plan_fp`: plans that
  * differ only in what the JVM planned before normalize to one text.
  */
class PlanFingerprintSpec extends AnyFunSuite {

  /** A physical plan with two `COUNT(DISTINCT …)` groups and a regular
    * aggregate, as Spark prints it: the distinct groups' `Expand`
    * projections carry the `gid` tags `a` and `bc`, and the partial
    * aggregate filters on them.
    */
  private def plan(a: Int, bc: Int, ids: Int): String = {
    val projs = Seq(
      0 -> s"[k#${ids}L, null, null, null, 0, a#${ids + 1}L]",
      bc -> s"[k#${ids}L, b#${ids + 2}L, c#${ids + 3}L, null, $bc, null]",
      a -> s"[k#${ids}L, null, null, a#${ids + 1}L, $a, null]")
      .sortBy(_._1).map(_._2).mkString("[", ", ", "]")
    s"""AdaptiveSparkPlan isFinalPlan=false
       |+- HashAggregate(keys=[k#${ids}L], functions=[count(t.a#${ids + 7}L), count(t.b#${ids + 5}L, t.c#${ids + 6}L)], output=[k#${ids}L, n#${ids + 8}L])
       |   +- Exchange hashpartitioning(k#${ids}L, 200), ENSURE_REQUIREMENTS, [plan_id=${ids + 40}]
       |      +- HashAggregate(keys=[k#${ids}L], functions=[partial_count(t.a#${ids + 7}L) FILTER (WHERE (gid#${ids + 4} = $a)), partial_count(t.b#${ids + 5}L, t.c#${ids + 6}L) FILTER (WHERE (gid#${ids + 4} = $bc)), partial_first(sum(t.a)#${ids + 9}L, true) FILTER (WHERE (gid#${ids + 4} = 0))], output=[k#${ids}L, count#${ids + 10}L])
       |         +- Expand $projs, [k#${ids}L, t.b#${ids + 5}L, t.c#${ids + 6}L, t.a#${ids + 7}L, gid#${ids + 4}, t.a#${ids + 11}L]
       |            +- Range (0, 10, step=1, splits=1)""".stripMargin
  }

  test("distinct-aggregate groups planned in either order, with other " +
      "expression ids, give one plan text; a changed filter does not") {
    val first = Bench.planText(plan(a = 2, bc = 1, ids = 1))
    assert(Bench.planText(plan(a = 1, bc = 2, ids = 30)) == first)
    assert(first.contains("Expand [[k#xL, b#xL, c#xL, null, 0, null]"), first)
    // the a-group's count filtering on the bc-group's tag is another plan
    val swapped = plan(a = 2, bc = 1, ids = 1)
      .replace("partial_count(t.a#8L) FILTER (WHERE (gid#5 = 2))",
        "partial_count(t.a#8L) FILTER (WHERE (gid#5 = 1))")
    assert(swapped != plan(a = 2, bc = 1, ids = 1))
    assert(Bench.planText(swapped) != first)
  }
}
