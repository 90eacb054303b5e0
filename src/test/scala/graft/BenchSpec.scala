package graft

import graft.core.Entry

/** The bench harness's failure accounting: a query that throws is reported
  * as failed and never timed, so it cannot count as a fast query.
  */
class BenchSpec extends SparkSuite {

  test("runPass reports a throwing entry as failed and leaves it untimed") {
    val entries = Seq(
      Entry("q_ok", (s, _) => s.range(3).toDF(), "SELECT 1"),
      Entry("q_boom", (_, _) => throw new IllegalStateException("boom"), "SELECT 1"),
      Entry("q_lazy_boom", (s, _) => s.range(3).selectExpr("assert_true(id < 0)"), "SELECT 1"))
    val pass = Bench.runPass(spark, sf, entries)
    assert(pass.failed === Seq("q_boom", "q_lazy_boom"))
    assert(pass.timings.map(_.name) === Seq("q_ok"))
  }
}
