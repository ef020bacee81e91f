package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.Window
import graft.SparkTestBase
import graft.ops.Relational

/** The custom whole-operator top-k: result parity with the window-function
  * formulation, the promised plan shape (shuffle but NO sort), and edge
  * cases the oracle gate can't reach.
  */
class GroupedTopKSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("bit-identical to the window row_number formulation") {
    val fast = Relational.windowTopkFast(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    // the rewrite is on in every session: exclude it so windowTopkOrders
    // exercises Spark's real window operator
    withSQLConf("spark.sql.optimizer.excludedRules" -> WindowToTopKRule.ruleName) {
      val df = Relational.windowTopkOrders(spark, Sf0001)
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collectFirst { case w: Window => w }.nonEmpty,
        s"baseline lost Spark's Window node:\n$optimized")
      assert(optimized.collectFirst { case g: GroupedTopK => g }.isEmpty, optimized.toString)
      val win = df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
      assert(fast == win)
    }
  }

  test("physical plan shuffles on the key but never sorts") {
    val plan = Relational.windowTopkFast(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopK "), plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Sort "), s"custom top-k should not sort:\n$plan")
  }

  test("optimizer rule rewrites bare row_number+filter into GroupedTopK") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val w = W.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val df = graft.Tables.orders(spark, Sf0001)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    assert(df.queryExecution.optimizedPlan.toString.contains("GroupedTopK"),
      df.queryExecution.optimizedPlan.toString)
    val got = df.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      col("rn").cast("long"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val want = Relational.windowTopkOrders(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(got == want, "rewritten plan diverged from the window answer")
  }

  test("optimizer rule takes the bound out of a conjunction and keeps the rest above") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val w = W.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    // o_totalprice is not a partition key, so its conjunct cannot move below the window
    def query(extra: org.apache.spark.sql.Column) = graft.Tables.orders(spark, Sf0001)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && extra)
      .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long"))
    def hasTopK(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst { case g: GroupedTopK => g }.nonEmpty
    val df = query(col("o_totalprice") > 100000.0)
    assert(hasTopK(df), df.queryExecution.optimizedPlan.toString)
    val got = df.as[(Long, Long, Long)].collect().sorted.toSeq
    withSQLConf("spark.sql.optimizer.excludedRules" -> WindowToTopKRule.ruleName) {
      val base = query(col("o_totalprice") > 100000.0)
      assert(base.queryExecution.optimizedPlan.collectFirst { case w: Window => w }.nonEmpty)
      val want = base.as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got.nonEmpty && got == want, "rewritten conjunction diverged from the window answer")
    }
    // a nondeterministic conjunct would see different rows: keep Spark's plan
    assert(!hasTopK(query(rand(7) < 0.5)))
  }

  test("optimizer rule leaves non-matching window shapes alone") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    // rank() has different tie semantics than row_number — must NOT rewrite
    val w = W.partitionBy("o_custkey").orderBy(desc("o_totalprice"))
    val df = graft.Tables.orders(spark, Sf0001)
      .withColumn("rn", rank().over(w))
      .filter(col("rn") <= 3)
    assert(!df.queryExecution.optimizedPlan.toString.contains("GroupedTopK"))
    // (note: a cast between row_number and the filter IS rewritten — the
    // optimizer unwraps the cast before this rule runs, which is correct)
  }

  test("float keys: 0.0 and -0.0 group together, matching window semantics") {
    import org.apache.spark.sql.functions._
    val rows = Seq((0.0, 1.0, 1L), (-0.0, 2.0, 2L), (0.0, 3.0, 3L), (1.5, 4.0, 4L))
    val df   = rows.toDF("k", "v", "tie").repartition(4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(desc("v"), asc("tie"))
    val want = df.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= 2)
      .select("v", "rn").as[(Double, Long)].collect().sorted.toSeq
    for (threshold <- Seq(GroupedTopK.SpillThresholdDefault, "1")) {
      withSQLConf(GroupedTopK.SpillThresholdKey -> threshold) {
        val got = GroupedTopK.topK(df, Seq("k"), Seq("v" -> false, "tie" -> true), 2)
          .select("v", "rn").as[(Double, Long)].collect().sorted.toSeq
        assert(got == want,
          s"threshold=$threshold: zero-sign keys split a group (got $got, want $want)")
      }
    }
  }

  test("rewrite rule leaves rn < Int.MinValue (always-false) to Spark") {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("v")
    val df = Seq((1L, 1.0)).toDF("k", "v")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") < Int.MinValue)
    assert(!df.queryExecution.optimizedPlan.toString.contains("GroupedTopK"))
    assert(df.count() == 0)
  }

  test("map-typed grouping keys are rejected") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, 1.0)).toDF("k", "v").withColumn("m", map(lit("a"), col("k")))
    val e = intercept[Throwable] {
      GroupedTopK.topK(df, Seq("m"), Seq("v" -> true), 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("map-typed key")), e.toString)
  }

  test("k larger than every group returns whole groups, ranked") {
    val df = Seq((1L, 10.0), (1L, 30.0), (2L, 20.0)).toDF("k", "v")
    val out = GroupedTopK.topK(df, Seq("k"), Seq("v" -> false), k = 5)
      .as[(Long, Double, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(out == Seq((1L, 30.0, 1L), (1L, 10.0, 2L), (2L, 20.0, 1L)))
  }

  test("property: matches a reference top-k on seeded random data") {
    val rnd = new scala.util.Random(13)
    for (round <- 1 to 3) {
      val rows = Seq.fill(500)((rnd.nextInt(20).toLong, rnd.nextInt(1000).toDouble, rnd.nextLong()))
      val df   = rows.toDF("k", "v", "tie").repartition(7)
      val k    = 1 + rnd.nextInt(4)
      val got = GroupedTopK.topK(df, Seq("k"), Seq("v" -> false, "tie" -> true), k)
        .as[(Long, Double, Long, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
      val want = rows
        .groupBy(_._1)
        .toSeq
        .flatMap { case (key, grp) =>
          grp.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex.map { case (r, i) =>
            (r._1, r._2, r._3, (i + 1).toLong)
          }
        }
        .sortBy(r => (r._1, r._4))
      assert(got == want, s"round $round, k=$k")
    }
  }

  test("empty input yields empty output") {
    val df = Seq.empty[(Long, Double)].toDF("k", "v")
    assert(GroupedTopK.topK(df, Seq("k"), Seq("v" -> true), k = 3).count() == 0)
  }

  test("empty keys = global top-k: TakeOrderedAndProject plan, ranked result") {
    val df = Seq(
      (1L, 40.0), (2L, 10.0), (3L, 30.0), (4L, 20.0), (5L, 50.0))
      .toDF("id", "v")
    val top = GroupedTopK.topK(df, Seq.empty, Seq("v" -> false, "id" -> true), k = 3)
    assert(top.as[(Long, Double, Long)].collect().toSeq ==
      Seq((5L, 50.0, 1L), (1L, 40.0, 2L), (3L, 30.0, 3L)))
    // the heavy lifting must be Spark's per-partition top-k merge, not a
    // global sort (the custom exec can't plan ClusteredDistribution(Nil))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("GroupedTopK "), plan)
  }

  test("global top-k matches the grouped operator run on a constant key") {
    val df = graft.Tables.orders(spark, Sf0001)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("one", org.apache.spark.sql.functions.lit(1L))
    val globalRows = GroupedTopK.topK(df, Seq.empty,
      Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 7)
      .select("o_orderkey", "rn").as[(Long, Long)].collect().sortBy(_._2).toSeq
    val groupedRows = GroupedTopK.topK(df, Seq("one"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 7)
      .select("o_orderkey", "rn").as[(Long, Long)].collect().sortBy(_._2).toSeq
    assert(globalRows == groupedRows && globalRows.size == 7)
  }

  // topKExec (AQE unwrapping) is provided by SparkTestBase

  test("high key cardinality falls back to external sort, same answer") {
    // every row its own key → heaps retain the entire input; a 1 KiB
    // budget forces the spill path almost immediately
    val rnd  = new scala.util.Random(29)
    val rows = Seq.tabulate(5000)(i => (i.toLong, rnd.nextInt(1000).toDouble, rnd.nextLong()))
    withSQLConf(GroupedTopK.SpillThresholdKey -> "1024") {
      val df  = rows.toDF("k", "v", "tie").repartition(4)
      val out = GroupedTopK.topK(df, Seq("k"), Seq("v" -> false, "tie" -> true), k = 2)
      // collect on `out` itself so the inspected queryExecution is the one
      // that ran (a derived .as[...] dataset would plan separately)
      val got = out.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._1, r._4)).toSeq
      assert(topKExec(out).metrics("spillFallbacks").value > 0,
        "tiny budget + distinct keys must trigger the sort fallback")
      val want = rows
        .groupBy(_._1).toSeq
        .flatMap { case (_, grp) =>
          grp.sortBy(r => (-r._2, r._3)).take(2).zipWithIndex.map { case (r, i) =>
            (r._1, r._2, r._3, (i + 1).toLong)
          }
        }
        .sortBy(r => (r._1, r._4))
      assert(got == want, "spill path diverged from the in-memory answer")
    }
  }

  test("mixed partitions: low-cardinality keys stay on the heap path") {
    // 20 keys × k=3 fits any budget — fallback must NOT trigger
    val rows = Seq.tabulate(2000)(i => ((i % 20).toLong, (i * 37 % 997).toDouble, i.toLong))
    val df   = rows.toDF("k", "v", "tie").repartition(4)
    val out  = GroupedTopK.topK(df, Seq("k"), Seq("v" -> false, "tie" -> true), k = 3)
    assert(out.collect().length == 60)
    assert(topKExec(out).metrics("spillFallbacks").value == 0)
  }
}
