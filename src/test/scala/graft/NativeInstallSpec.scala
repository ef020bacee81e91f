package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.plans.{GraftStrategy, GroupedTopK, WindowToTopKRule}

/** The native extensions go in once per session: Column helpers build
  * their expressions without the function registry, SQL text reaches the
  * same expressions through the one function table, and the top-N
  * rewrite is on before any catalog SQL has run.
  */
class NativeInstallSpec extends AnyFunSuite with SparkTestBase {

  /** Every graft_* registry entry, with its builder's identity — a
    * re-registration swaps the builder even when the name set is equal.
    */
  private def graftFunctions(s: SparkSession): Map[String, AnyRef] = {
    val reg = s.sessionState.functionRegistry
    reg.listFunction().filter(_.funcName.startsWith("graft_")).map { id =>
      id.funcName -> reg.lookupFunctionBuilder(id).get.asInstanceOf[AnyRef]
    }.toMap
  }

  private def nativeNames(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case e: Expression if e.prettyName.startsWith("graft_") => e.prettyName })
      .toSet

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("Column helpers build native expressions without touching the function registry") {
    // non-literal inputs, so the optimizer cannot fold the expressions away
    val base = spark.range(3).select(
      col("id"),
      array(col("id").cast("float"), lit(1.0f)).as("f"),
      array(col("id"), lit(2L)).as("l"),
      col("id").cast("string").as("s"),
      array(col("id").cast("string")).as("ks"))
    def helpers: Seq[Column] = Seq(
      VectorFunctions.dotF(col("f"), col("f")),
      VectorFunctions.dotL(col("l"), col("l")),
      VectorFunctions.sqDistL(col("l"), col("l")),
      TextFunctions.nfc(col("s")),
      ZOrderFunctions.zorder2(col("id"), col("id")),
      SortedKeySumFunction.sortedKeySum(col("ks"), array(col("id")), col("ks")))
    val before = graftFunctions(spark)
    val dfs    = Seq.fill(2)(base.select(helpers: _*))
    dfs.foreach(_.collect())
    ops.Similarity.mmrRerank(spark, Sf0001).collect()
    ops.Similarity.mmrRerank(spark, Sf0001).collect()
    val after = graftFunctions(spark)
    assert(after.keySet == before.keySet,
      s"registry entries changed: ${before.keySet} -> ${after.keySet}")
    for ((name, builder) <- after)
      assert(builder eq before(name), s"$name was re-registered by a Column helper")
    for (df <- dfs)
      assert(nativeNames(df) == Set("graft_dot_f", "graft_dot_l", "graft_sqdist_l",
        "graft_nfc", "graft_zorder2", "graft_sorted_key_sum"),
        df.queryExecution.optimizedPlan.toString)
  }

  test("every function in the table resolves from SQL; a wrong arity names the function") {
    val sample = Map(
      "graft_dot_f" -> "array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))",
      "graft_dot_l" -> "array(1L), array(2L)",
      "graft_sqdist_l" -> "array(1L), array(2L)",
      "graft_nfc" -> "'e'",
      "graft_zorder2" -> "1L, 2L",
      "graft_sorted_key_sum" -> "array('a'), array(1L), array('a')",
      "graft_mmr_select" ->
        "array(named_struct('vb', 1L, 'rel', 0.5D, 'eb', array(CAST(1.0 AS FLOAT)), 'nb', 1.0D))")
    assert(GraftExtensions.functions.map(_._1).toSet == sample.keySet)
    GraftExtensions.install(spark)
    for ((name, arity, _) <- GraftExtensions.functions) {
      val df = spark.sql(s"SELECT $name(${sample(name)}) AS r")
      assert(df.queryExecution.analyzed.expressions.exists(_.exists(_.prettyName == name)),
        df.queryExecution.analyzed.toString)
      df.collect()
      val e = intercept[Throwable] {
        spark.sql(s"SELECT $name(${Seq.fill(arity + 1)("1L").mkString(", ")})").collect()
      }
      assert(messages(e).exists(_.contains(name)), s"$name arity error: $e")
    }
  }

  /** `f` over a fresh session `b` creates on the shared context, then the
    * shared session is the active and default one again. A plain
    * `SparkSession.builder()` gives a session without [[GraftExtensions]],
    * as a `SparkEntry.queries` caller may build its own; `spark.newSession()`
    * would inherit the shared session's extensions.
    */
  private def withSession[T](b: SparkSession.Builder)(f: SparkSession => T): T =
    try f(b.create())
    finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }

  test("install is idempotent and never adds a second strategy to an extension-built session") {
    // the shared session is extension-built: install leaves it as it is
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    assert(spark.sessionState.planner.strategies.count(_ == GraftStrategy) == 1)
    assert(spark.experimental.extraOptimizations.isEmpty)
    withSession(SparkSession.builder()) { plain =>
      assert(!plain.sessionState.planner.strategies.contains(GraftStrategy))
      GraftExtensions.install(plain)
      GraftExtensions.install(plain)
      assert(plain.sessionState.planner.strategies.count(_ == GraftStrategy) == 1)
      assert(plain.experimental.extraOptimizations.count(_ == WindowToTopKRule) == 1)
    }
    withSession(SparkSession.builder().withExtensions(new GraftExtensions)) { ext =>
      GraftExtensions.install(ext)
      assert(ext.sessionState.planner.strategies.count(_ == GraftStrategy) == 1)
      assert(ext.experimental.extraOptimizations.isEmpty)
      assert(ext.sql("SELECT graft_dot_l(array(2L), array(3L))").head().getLong(0) == 6L)
    }
  }

  test("the top-N rewrite is on in a session where no catalog SQL has run") {
    withSession(SparkSession.builder()) { fresh =>
      assert(!fresh.sessionState.planner.strategies.contains(GraftStrategy))
      val df = SparkEntry.queries("sim_topk")(fresh, Sf0001)
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collectFirst { case g: GroupedTopK => g }.nonEmpty, optimized.toString)
    }
  }
}
