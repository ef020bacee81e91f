package graft

import org.scalatest.funsuite.AnyFunSuite

/** The profiler's attribution contract: every stage a query runs lands
  * in that query's row and no other, and the one-task flag follows the
  * threshold.
  */
class ProfileSpec extends AnyFunSuite with SparkTestBase {

  test("each query's stages land in its own row; the flag follows the threshold") {
    val rows = Profile.profile(spark, Sf0001, Seq("graph_modularity", "join_broadcast"))
    assert(rows.map(_.name) == Seq("graph_modularity", "join_broadcast"))
    for (r <- rows) {
      assert(r.error.isEmpty, s"${r.name} failed: ${r.error}")
      assert(r.jobs >= 1 && r.stages.nonEmpty && r.tasks >= r.stages.size,
        s"${r.name}: jobs=${r.jobs} stages=${r.stages.size} tasks=${r.tasks}")
    }
    val Seq(a, b) = rows.map(_.stages.map(_.id).toSet)
    assert(a.intersect(b).isEmpty, s"stages credited to both queries: ${a.intersect(b)}")
    assert(rows.exists(_.flagged(0L).nonEmpty), "no 1-task stage ran at all")
    assert(rows.forall(_.flagged(Long.MaxValue).isEmpty))
  }

  test("consume reads every row through the frame's own plan, which ends final") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("join_broadcast")(spark, Sf0001)
    val n  = Profile.consume(df)
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => assert(a.isFinalPlan, s"plan not final after consume:\n$a")
      case p                        => fail(s"not an adaptive plan:\n$p")
    }
    assert(n == df.count() && n > 0)
  }

  test("an unknown query name is refused before anything runs") {
    intercept[IllegalArgumentException](Profile.profile(spark, Sf0001, Seq("no_such_query")))
  }
}
