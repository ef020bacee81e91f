package graft

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GraftStrategy, WindowToTopKRule}

/** Tier-1 plans what the mains run: the shared test session is the one
  * [[Sessions.builder]] makes, not a hand-copied config, and no
  * `SPARK_GRAFT_CONF` in the test JVM's environment can steer it.
  */
class SessionsSpec extends AnyFunSuite with SparkTestBase {

  test("the tier-1 session is the engine's config") {
    val s = spark
    // the builder pins the locale; every session of this JVM runs under it
    assert(Locale.getDefault == Locale.ROOT)
    val b = Sessions.builder("local[4,2]", "4")
    // the builder's conf map: Scala-protected, a public method in bytecode
    val set = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(set.get("spark.sql.shuffle.partitions").contains("4"))
    assert(set.contains("spark.sql.join.preferSortMergeJoin"), set)
    for ((k, v) <- set) assert(s.conf.getOption(k).contains(v), s"$k: builder sets $v")
    assert(s.sessionState.planner.strategies.count(_ == GraftStrategy) == 1)
    assert(s.sessionState.optimizer.extendedOperatorOptimizationRules
      .count(_ == WindowToTopKRule) == 1)
    assert(s.experimental.extraOptimizations.isEmpty)
  }
}
