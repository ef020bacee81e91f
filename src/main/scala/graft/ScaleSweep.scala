package graft

/** Full-catalog sf1 sweep (round-12 verdict item 2): run every catalog
  * query once at ~sf1 (a 10× replica of sf0.1 built by [[ScaleData]],
  * referential integrity preserved) and report, per query,
  *
  *   - wall seconds at sf1 (single pass, after a catalog-wide sf0.1 pass
  *     that warms the JVM — a scaling probe, not the 3-run bench), and
  *   - the as-run [[Smoke.shape]] at sf0.1 and at sf1: exchanges, join
  *     kinds and graft operators of the plan that ran. A shape difference
  *     is a plan flip at 10× — usually a broadcast→shuffle flip when a
  *     build side's measured size outgrows the threshold.
  *
  * Prints one line per query plus a summary: total, slowest-10, and the
  * flip list. Results are pasted into SCALING.md.
  *
  * Every sf1 frame also goes through [[Smoke.audit]] (output types,
  * unbounded global windows, nested loops outside
  * [[Smoke.NestedLoopAllowed]]); a violation prints a `SMOKE` line and
  * the sweep exits 2, a failed query exits 1.
  *
  * Round 14 splits the sweep into phases: ALL sf0.1 passes first
  * (shapes + warm-up), then [[graft.Ckpt.release]] drops the sf0.1
  * memoized caches, then the timed sf1 passes — so sf1 numbers never
  * share executor storage with a dead scale factor's entries (the
  * measured text_bm25 24→98 s degradation mode, r13 verdict item 1).
  *
  * Both phases run through [[Profile.profile]]: each result is read in
  * full ([[Profile.consume]]), so a timing never covers a plan that
  * Catalyst pruned for a bare `count()`, a shape is the plan that ran,
  * and a query's sf1 seconds are its construct + plan + exec seconds.
  *
  * Usage: `tools/scalesweep.sh [query ...]` — no args sweeps the whole
  * catalog; query args (say, the `dedup_*` family) time just those.
  */
object ScaleSweep {
  val Src = "/root/testdata/sf0.1"
  val Out = "target/sf1"

  def main(args: Array[String]): Unit = {
    // shared engine config (r15 verdict item 3): sweep shapes are
    // recorded under the same session defaults the bench times
    val spark = Sessions.local(Sessions.envCpus(), logLevel = "ERROR")

    ScaleData.buildAll(spark, Src, Out)
    println(s"[sweep] sf1 rows: docs=${Tables.documents(spark, Out).count()} " +
      s"lineitem=${Tables.lineitem(spark, Out).count()} events=${Tables.events(spark, Out).count()}")

    def shapeOf(df: org.apache.spark.sql.DataFrame) = Smoke.shape(df.queryExecution.executedPlan)
    // PHASE A: sf0.1 reference pass over the whole catalog — baseline
    // shapes plus the JVM/codegen warm-up for the sf1 phase (JIT state is
    // process-global, so the warm-up survives the phase split).
    val shape01 = scala.collection.mutable.Map[String, Smoke.Shape]()
    val rows01  = Profile.profile(spark, Src, args.toSeq, (n, df) => shape01(n) = shapeOf(df))
    for (r <- rows01; msg <- r.error) println(s"[sweep] ${r.name} FAILED at sf0.1: $msg")
    // Drop the sf0.1 memoized caches before timing sf1: with TWO scale
    // factors' entries standing, later sf1 queries measured accumulating
    // storage pressure instead of the query (text_bm25 24→98 s — r13
    // verdict item 1). Entries rebuild from their thunks on next use.
    println(s"[sweep] released ${Ckpt.release(Src)} sf0.1 cache entries before the sf1 phase")
    // PHASE B: timed and audited sf1 pass, one query at a time so each
    // line prints as its query ends.
    val shape1 = scala.collection.mutable.Map[String, Smoke.Shape]()
    var audits = 0
    val rows = rows01.filter(_.error.isEmpty).map { r01 =>
      val r = Profile.profile(spark, Out, Seq(r01.name), (n, df) => {
        shape1(n) = shapeOf(df)
        for (v <- Smoke.audit(n, df)) { println(v); audits += 1 }
      }).head
      r.error match {
        case Some(err) => println(s"[sweep] ${r.name} FAILED: $err")
        case None =>
          println(f"[sweep] ${r.name}%-24s ${r.wallS}%7.2f s  sf0.1[${shape01(r.name).tsv}]  " +
            s"sf1[${shape1(r.name).tsv}]" + (if (shape01(r.name) != shape1(r.name)) "  FLIP" else ""))
      }
      r
    }

    val ok = rows.filter(_.error.isEmpty)
    val failed = rows01.size - ok.size
    println(f"\n[sweep] total sf1: ${ok.map(_.wallS).sum}%.1f s over ${ok.size} queries ($failed failed)")
    println("[sweep] slowest 10:")
    for (r <- ok.sortBy(-_.wallS).take(10))
      println(f"[sweep]   ${r.name}%-24s ${r.wallS}%7.2f s")
    val flips = ok.map(_.name).filter(n => shape01(n) != shape1(n))
    println(s"[sweep] plan flips at 10x: ${flips.size}")
    for (n <- flips)
      println(s"[sweep]   $n: sf0.1[${shape01(n).tsv}] -> sf1[${shape1(n).tsv}]")
    println(s"[sweep] sf1 audit: $audits violation(s)")
    spark.stop()
    if (failed > 0) sys.exit(1)
    if (audits > 0) sys.exit(2)
  }
}
