package graft.probe

import org.scalatest.funsuite.AnyFunSuite

/** `PlanSnap.normalize` makes two dumps of one plan byte-equal, and keeps
  * what tells two different plans apart. */
class PlanSnapSpec extends AnyFunSuite {

  /** A formatted plan's run-varying ids, given per run. */
  private def plan(doc: Int, text: Int, sarr: Int, cg: (Int, Int), planId: Int,
                   stage: Int): String =
    s"""== Physical Plan ==
       |AdaptiveSparkPlan (6)
       |+- == Final Plan ==
       |   * Project (5)
       |   +- ShuffleQueryStage (4), Statistics(sizeInBytes=1.0 KiB, rowCount=5)
       |
       |(1) Scan parquet
       |Output [2]: [doc_id#${doc}L, text#$text]
       |
       |(2) Project [codegen id : ${cg._1}]
       |Output [2]: [doc_id#${doc}L, sarr#$sarr]
       |Input [2]: [doc_id#${doc}L, text#$text]
       |
       |(3) Exchange
       |Arguments: hashpartitioning(doc_id#${doc}L, 4), ENSURE_REQUIREMENTS, [plan_id=$planId]
       |
       |(4) ShuffleQueryStage
       |Output [2]: [doc_id#${doc}L, sarr#$sarr]
       |Arguments: $stage
       |
       |(5) Project [codegen id : ${cg._2}]
       |Arguments: 7
       |   *(${cg._2}) Project [doc_id#${doc}L]
       |""".stripMargin

  test("run-varying ids normalize away; references stay linked; other " +
      "numbers stay") {
    val a = PlanSnap.normalize(plan(0, 1, 62, (1, 4), 1079, 0))
    val b = PlanSnap.normalize(plan(212, 213, 2769, (3, 2), 88, 3))
    assert(a == b)
    assert(a.contains("Output [2]: [doc_id#0L, text#1]"), a)
    assert(a.contains("Output [2]: [doc_id#0L, sarr#2]"), a)
    assert(a.contains("(2) Project [codegen id : 1]"), a)
    assert(a.contains("(5) Project [codegen id : 2]"), a)
    assert(a.contains("*(2) Project [doc_id#0L]"), a)
    assert(a.contains("[plan_id=_]"), a)
    // the QueryStage's stage number goes; another node's argument stays
    assert(a.contains("Output [2]: [doc_id#0L, sarr#2]\nArguments: _\n"), a)
    assert(a.contains("Arguments: 7"), a)
    // statistics and operator ids follow the plan's shape: kept
    assert(a.contains("ShuffleQueryStage (4), Statistics(sizeInBytes=1.0 KiB"), a)

    // two columns that were one id stay one id, two ids stay two
    val merged = PlanSnap.normalize(plan(0, 0, 62, (1, 4), 1, 0))
    assert(merged != a)
    assert(merged.contains("Output [2]: [doc_id#0L, text#0]"), merged)
    // so does a change of codegen stage membership
    assert(PlanSnap.normalize(plan(0, 1, 62, (1, 1), 1, 0)) != a)
  }
}
