package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Full-catalog sf1 sweep (round-12 verdict item 2): run every catalog
  * query once at ~sf1 (a 10× replica of sf0.1 built by [[ScaleData]],
  * referential integrity preserved) and report, per query,
  *
  *   - wall seconds at sf1 (single pass, after a catalog-wide warm-up
  *     query — this is a scaling probe, not the 3-run bench), and
  *   - the JOIN-NODE PROFILE of the planner's static choice (AQE's
  *     initial plan, not the as-run plan it re-optimizes on measured
  *     sizes) at sf0.1 vs sf1: counts of BroadcastHashJoin / SortMergeJoin
  *     / ShuffledHashJoin / BroadcastNestedLoop / Cartesian. A profile
  *     difference is a static plan flip at 10× — usually a
  *     broadcast→shuffle flip when a build side's estimate outgrows the
  *     threshold.
  *
  * Prints one line per query plus a summary: total, slowest-10, and the
  * flip list. Results are pasted into SCALING.md.
  *
  * Round 13 pins the profile (verdict item 3): the committed expectation
  * file [[ProfileFile]] records every query's (sf0.1, sf1) join profile;
  * a full sweep FAILS (exit 2) on any drift from it — a NEW flip, a
  * nested loop outside [[Smoke.NestedLoopAllowed]], or a query missing
  * from the expectation. Adjudicated changes are re-recorded by running
  * with `SPARK_GRAFT_WRITE_PROFILE=1`. Partial sweeps (query args) skip
  * both the check and the write — the file stays whole-catalog.
  *
  * `SPARK_GRAFT_RUNS=n` (default 1) re-runs each query's sf1 pass n
  * times and reports the MEDIAN — the verdict-item-4 mode for making
  * slow-query regressions attributable against checkpoint-I/O variance.
  *
  * Round 14 splits the sweep into phases: ALL sf0.1 passes first
  * (profiles + warm-up), then [[graft.Ckpt.release]] drops the sf0.1
  * memoized caches, then the timed sf1 passes — so sf1 numbers never
  * share executor storage with a dead scale factor's entries (the
  * measured text_bm25 24→98 s degradation mode, r13 verdict item 1).
  *
  * Both phases run through [[Profile.profile]]: each result is read in
  * full ([[Profile.consume]]), so a timing never covers a plan that
  * Catalyst pruned for a bare `count()`, and a query's sf1 seconds are
  * its construct + plan + exec seconds.
  *
  * Usage: `tools/scalesweep.sh [query ...]` — no args sweeps the whole
  * catalog; query args (say, the `dedup_*` family) time just those.
  */
object ScaleSweep {
  val Src = "/root/testdata/sf0.1"
  val Out = "target/sf1"
  val ProfileFile = "tools/sf1_profile.tsv"

  private val JoinNodes = Seq(
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct")

  /** Join-node profile of the static plan, every adaptive node read at
    * its initial plan: [[ProfileFile]] was recorded from frames whose own
    * plan never ran, so it pins the planner's choice, not AQE's.
    */
  private def joinProfile(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
    val static = df.queryExecution.executedPlan
      .transformDownWithSubqueries { case a: AdaptiveSparkPlanExec => a.initialPlan }
    val names = Smoke.finalPlanNodes(static).map(_.getClass.getSimpleName)
    JoinNodes.map(j => j -> names.count(_.startsWith(j))).filter(_._2 > 0).toMap
  }

  private def fmtProfile(p: Map[String, Int]): String =
    if (p.isEmpty) "-"
    else p.toSeq.sortBy(_._1).map { case (k, v) =>
      val short = k.replace("BroadcastHashJoin", "BHJ").replace("SortMergeJoin", "SMJ")
        .replace("ShuffledHashJoin", "SHJ").replace("BroadcastNestedLoopJoin", "BNL")
        .replace("CartesianProduct", "CART")
      s"$short=$v"
    }.mkString(",")

  def main(args: Array[String]): Unit = {
    // shared engine config (r15 verdict item 3): sweep profiles are
    // recorded under the same session defaults the bench times
    val spark = Sessions.local(Sessions.envCpus(), logLevel = "ERROR")

    ScaleData.buildAll(spark, Src, Out)
    println(s"[sweep] sf1 rows: docs=${Tables.documents(spark, Out).count()} " +
      s"lineitem=${Tables.lineitem(spark, Out).count()} events=${Tables.events(spark, Out).count()}")

    case class Row(name: String, sec1: Double, p01: Map[String, Int], p1: Map[String, Int],
                   err: Option[String]) {
      def flipped: Boolean = err.isEmpty && p01 != p1
    }
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(1).max(1)
    // PHASE A: sf0.1 reference pass over the whole catalog — baseline
    // join profiles plus the JVM/codegen warm-up for the sf1 phase (JIT
    // state is process-global, so the warm-up survives the phase split).
    val prof01 = scala.collection.mutable.Map[String, Map[String, Int]]()
    val rows01 = Profile.profile(spark, Src, args.toSeq, (n, df) => prof01(n) = joinProfile(df))
    for (r <- rows01; msg <- r.error) println(s"[sweep] ${r.name} FAILED at sf0.1: $msg")
    // Drop the sf0.1 memoized caches before timing sf1: with TWO scale
    // factors' entries standing, later sf1 queries measured accumulating
    // storage pressure instead of the query (text_bm25 24→98 s — r13
    // verdict item 1). Entries rebuild from their thunks on next use.
    println(s"[sweep] released ${Ckpt.release(Src)} sf0.1 cache entries before the sf1 phase")
    // PHASE B: timed sf1 pass.
    val rows = rows01.map { r01 =>
      val name = r01.name
      // each repeat's join profile; after a repeat, give the
      // ContextCleaner a GC to reclaim its broadcasts/shuffles: in a long
      // session with standing memoized caches, full GCs are rare and
      // cleanup lags, so back-to-back repeats of a broadcast-heavy query
      // otherwise measure accumulating heap pressure, not the query — the
      // medians must isolate the query's own cost
      val profs = Seq.newBuilder[Map[String, Int]]
      val samples = if (r01.error.isDefined) Nil else
        Profile.profile(spark, Out, Seq.fill(runs)(name), (_, df) => {
          profs += joinProfile(df)
          if (runs > 1) { System.gc(); Thread.sleep(200) }
        })
      (r01 +: samples).flatMap(_.error).headOption match {
        case Some(err) =>
          if (samples.nonEmpty) println(s"[sweep] $name FAILED: $err")
          Row(name, -1, Map.empty, Map.empty, Some(err))
        case None =>
          // median of the wall times; profile from the median run's plan
          val times = samples.map(_.wallS)
          val (sec, prof1) = times.zip(profs.result()).sortBy(_._1).apply((runs - 1) / 2)
          val r = Row(name, sec, prof01(name), prof1, None)
          val spread = if (runs > 1) f"  [min ${times.min}%.2f max ${times.max}%.2f n=$runs]" else ""
          println(f"[sweep] $name%-24s ${r.sec1}%7.2f s  sf0.1[${fmtProfile(r.p01)}]  sf1[${fmtProfile(prof1)}]" +
            (if (r.flipped) "  FLIP" else "") + spread)
          r
      }
    }

    val ok = rows.filter(_.err.isEmpty)
    println(f"\n[sweep] total sf1: ${ok.map(_.sec1).sum}%.1f s over ${ok.size} queries " +
      s"(${rows.size - ok.size} failed)")
    println("[sweep] slowest 10:")
    for (r <- ok.sortBy(-_.sec1).take(10))
      println(f"[sweep]   ${r.name}%-24s ${r.sec1}%7.2f s")
    val flips = ok.filter(_.flipped)
    println(s"[sweep] plan flips at 10x: ${flips.size}")
    for (r <- flips)
      println(s"[sweep]   ${r.name}: sf0.1[${fmtProfile(r.p01)}] -> sf1[${fmtProfile(r.p1)}]")

    // ---- committed plan-profile pin (full sweeps only) ----------------
    var drift = 0
    val fullSweep = args.isEmpty
    if (fullSweep && sys.env.get("SPARK_GRAFT_WRITE_PROFILE").contains("1")) {
      val lines = ok.sortBy(_.name).map(r =>
        s"${r.name}\t${fmtProfile(r.p01)}\t${fmtProfile(r.p1)}")
      java.nio.file.Files.write(java.nio.file.Paths.get(ProfileFile),
        (("# query\tsf0.1_profile\tsf1_profile  (regenerate: SPARK_GRAFT_WRITE_PROFILE=1 tools/scalesweep.sh)"
          +: lines).mkString("", "\n", "\n")).getBytes("UTF-8"))
      println(s"[sweep] wrote ${lines.size} profiles to $ProfileFile")
    } else if (fullSweep && new java.io.File(ProfileFile).exists()) {
      val expected = scala.io.Source.fromFile(ProfileFile).getLines()
        .filterNot(l => l.startsWith("#") || l.isEmpty)
        .map { l => val f = l.split("\t"); f(0) -> (f(1), f(2)) }.toMap
      for (r <- ok) {
        val got = (fmtProfile(r.p01), fmtProfile(r.p1))
        expected.get(r.name) match {
          case None =>
            println(s"[sweep] DRIFT ${r.name}: not in $ProfileFile (new query? " +
              "re-record with SPARK_GRAFT_WRITE_PROFILE=1)")
            drift += 1
          case Some(exp) if exp != got =>
            println(s"[sweep] DRIFT ${r.name}: expected sf0.1[${exp._1}] sf1[${exp._2}], " +
              s"got sf0.1[${got._1}] sf1[${got._2}]")
            drift += 1
          case _ =>
        }
        // a nested loop at sf1 outside the sanctioned set fails even if
        // the expectation file were stale enough to contain one
        if (!Smoke.NestedLoopAllowed(r.name) &&
            (r.p1.contains("BroadcastNestedLoopJoin") || r.p1.contains("CartesianProduct"))) {
          println(s"[sweep] NESTED-LOOP at sf1: ${r.name} [${fmtProfile(r.p1)}]")
          drift += 1
        }
      }
      println(s"[sweep] profile check vs $ProfileFile: $drift drift(s)")
    }
    spark.stop()
    if (rows.exists(_.err.isDefined)) sys.exit(1)
    if (drift > 0) sys.exit(2)
  }
}
