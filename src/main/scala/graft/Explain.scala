package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-inspection utility: prints the formatted physical plan of the
  * named catalog queries (all of them with no args). Used to audit that
  * filters reach the parquet scan (PushedFilters), dimension joins
  * broadcast, and codegen spans stay wide.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  *
  * SPARK_GRAFT_EXEC=1 instead reads each query in full through
  * [[Profile.profile]] and prints the plan that ran (`isFinalPlan=true`)
  * — the only place AQE's runtime stage reuse (ReusedQueryStage / shared
  * shuffle stages) is visible; the static formatted plan always shows
  * repeated subtrees un-reused. It exits 1 if a query failed.
  *
  * Ids that vary between JVM runs are renumbered per plan
  * ([[stableIds]]), and the working directory in file paths (the storage
  * twins' `InMemoryFileIndex [file:<cwd>/spark-warehouse/…]`) is printed
  * as `<cwd>`, so two dumps of one commit diff empty wherever they run.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq
    val exec  = sys.env.get("SPARK_GRAFT_EXEC").contains("1")
    // shared engine config and core count (r15 verdict item 3), so
    // dumped plans are the shapes the other mains run
    val spark = Sessions.local(Sessions.envCpus(), logLevel = "ERROR")
    // the storage twins live under the session's relative `spark-warehouse`
    val cwdUri = s"file:${System.getProperty("user.dir")}/"
    def show(n: String, plan: String): Unit =
      println(s"===== $n\n" + stableIds(plan).replace(cwdUri, "file:<cwd>/"))
    val failed =
      if (exec) Profile.profile(spark, sfDir, names,
        (n, df) => show(n, df.queryExecution.executedPlan.toString)).filter(_.error.isDefined)
      else {
        Profile.select(names).foreach(n => show(n, SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))))
        Nil
      }
    for (r <- failed) System.err.println(s"[explain] ${r.name} FAILED: ${r.error.get}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Renumber, within one plan and in order of first appearance, the ids
    * that change between JVM runs of the same code, so two dumps of the
    * same plans diff empty: expression ids (`doc_id#12L`), higher-order
    * function variables (`lambda x_46`, a JVM-wide counter, so they also
    * shift when an earlier query builds one more or fewer), exchange
    * `plan_id=`s, RDD ids (`RDD[45]`), lambda class names and identity
    * hashes of captured objects (`$$Lambda$661/0x7f…@27a99b1e`), and the
    * random suffix of [[graft.ops.Storage]]'s temp dirs.
    */
  private def stableIds(plan: String): String =
    Volatile.foldLeft(plan) { (text, re) =>
      val ids = scala.collection.mutable.HashMap[String, Int]()
      re.replaceAllIn(text, m => ids.getOrElseUpdate(m.matched, ids.size).toString)
    }

  private val Volatile = Seq(
    "(?<=#)\\d+", "(?<=lambda [a-z]{1,8}_)\\d+", "(?<=plan_id=)\\d+", "(?<=RDD\\[)\\d+(?=\\])",
    "(?<=\\$Lambda\\$)\\d+/0x\\p{XDigit}+", "(?<=@)\\p{XDigit}{1,8}\\b",
    "(?<=/graft-[a-z]{1,8}-)\\d+").map(_.r)
}
