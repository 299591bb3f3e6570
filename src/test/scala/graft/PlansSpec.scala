package graft

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md's normalization: the per-run values of `explain` text are
  * masked, so two runs of the same code write the same file. */
class PlansSpec extends AnyFunSuite {

  private def sample(base: Int, rdd: Int, line: Int, addr: String, lam: Int): String =
    s"""# PLANS
       |
       |## a — first
       |
       |(1) Scan ExistingRDD
       |Arguments: [id#${base}L, label#${base + 1}L], MapPartitionsRDD[$rdd] at localCheckpoint at Dedup.scala:$line, ExistingRDD
       |Arguments: hashpartitioning(id#${base}L, 4), ENSURE_REQUIREMENTS, [plan_id=${base + 7}]
       |(2) Project
       |Output: [transform(arr#${base + 9}, lambdafunction((lambda x_$lam#${base + 20}L + id#${base}L), lambda x_$lam#${base + 20}L, false)) AS t#${base + 30}]
       |Arguments: graft.operators.Multimodal$$$$$$Lambda$$5137/0x$addr@1ca9fd34, obj#${base + 40}: scala.Tuple3
       |
       |## b — second
       |
       |Output: [ge_60#${base + 3}L, id#${base + 2}L]
       |""".stripMargin

  test("normalize masks run values, renumbers ids per section, and is idempotent") {
    val a = Plans.normalize(sample(15425, 1457, 422, "00007fa23d3e13b8", 9))
    assert(a ==
      """# PLANS
        |
        |## a — first
        |
        |(1) Scan ExistingRDD
        |Arguments: [id#0L, label#1L], MapPartitionsRDD[_] at localCheckpoint at Dedup.scala:_, ExistingRDD
        |Arguments: hashpartitioning(id#0L, 4), ENSURE_REQUIREMENTS, [plan_id=0]
        |(2) Project
        |Output: [transform(arr#2, lambdafunction((lambda x_0#3L + id#0L), lambda x_0#3L, false)) AS t#4]
        |Arguments: graft.operators.Multimodal$$$Lambda, obj#5: scala.Tuple3
        |
        |## b — second
        |
        |Output: [ge_60#0L, id#1L]
        |""".stripMargin)
    // another run: every per-run value differs, the text does not
    assert(Plans.normalize(sample(31, 9, 430, "00007f0000000000", 248)) == a)
    assert(Plans.normalize(a) == a)
  }
}
