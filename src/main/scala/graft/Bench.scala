package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness (driver contract): runs the whole catalog on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Noise discipline (round 3): every query is executed `Runs` times and
  * the reported per-query number is the MEDIAN; the `spread` map carries
  * `max - min` across the repeats so a reader (and
  * `tools/bench_compare.py`) can tell a real regression from machine
  * load. Round-2's single-shot numbers swung 6-7x on untouched queries,
  * which made every per-query delta unactionable.
  *
  * A small warm-up (count + one broadcast-join query) runs before the
  * timed loop so first-query numbers measure the plan, not JVM/codegen
  * bootstrap. Queries run in sorted name order for run-to-run
  * comparability. Each sample reads the result in full
  * ([[Profile.consume]]), so no timing covers a plan Catalyst pruned for
  * a bare `count()`.
  */
object Bench {
  val Runs = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // session config (AQE, shuffled-hash preference, UTC, locale pin,
    // SPARK_GRAFT_LOCAL_DIR / SPARK_GRAFT_CONF) lives in graft.Sessions —
    // one builder for Bench/Verify/Explain/probes so verified plans and
    // committed plan dumps match what the bench times (r15 verdict item 3)
    val spark = Sessions.local(cpus)

    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.queries.get("join_broadcast").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }

    // a failed query reports -1 (visible sentinel) and is excluded from
    // the total — a broken catalog must not read as a fast one
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (local iteration aid);
    // unset or empty = full catalog, which is what the driver runs (a
    // set-but-empty var must not print a 0-second "full" total).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.trim).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
    val catalog = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(_._1)
    // one sample: seconds to construct and read a result in full, None
    // (logged) if the query failed
    def timed(name: String, fn: (SparkSession, String) => DataFrame,
        what: String): Option[Double] = {
      val t0 = System.nanoTime()
      try { Profile.consume(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name $what: ${e.getMessage}"); None }
    }
    // repeats run as whole-catalog passes (round-robin), not back-to-back:
    // a transient machine-load spike then inflates ONE run of several
    // queries — which the median rejects — instead of all Runs samples of
    // one query, which it cannot
    val samples: Seq[Seq[(String, Option[Double])]] = (1 to Runs).map { _ =>
      catalog.map { case (name, fn) => name -> timed(name, fn, "failed") }
    }
    // Adaptive tail re-sampling: the TOP-20 queries by 3-run median —
    // the rows a perf reader actually compares round-to-round — plus any
    // query whose spread exceeds SpreadTarget get ExtraRuns more samples
    // (5 total) before the median is taken. A transient load spike then
    // has to corrupt 3 of 5 samples instead of 2 of 3 to move a headline
    // number. Bounded cost: ~20 extra query runs. NonFatal only — an
    // OOM/VM error must kill the bench loudly, not vanish as a dropped
    // sample (r8 advice).
    val SpreadTarget = 2.0
    val ExtraRuns    = 2
    val TopResample  = 20
    def baseTimes(name: String): Seq[Double] =
      samples.flatMap(_.collectFirst { case (`name`, Some(t)) => t })
    val topByMedian: Set[String] = catalog
      .map { case (n, _) => n -> baseTimes(n) }
      .filter(_._2.size >= Runs)
      .sortBy { case (_, ts) => -ts.sorted.apply(ts.size / 2) }
      .take(TopResample).map(_._1).toSet
    val extra: Map[String, Seq[Double]] = catalog.flatMap { case (name, fn) =>
      val times = baseTimes(name)
      if (times.size < Runs ||
          (!topByMedian.contains(name) && times.max - times.min <= SpreadTarget)) None
      else Some(name -> (1 to ExtraRuns).flatMap(_ => timed(name, fn, "resample failed")))
    }.toMap
    // per query: (median, spread, min). The median is the headline; min
    // is the low-noise estimator on an idle box (a loaded run can only
    // inflate a sample, never deflate it), reported in BENCH_FULL.json so
    // regressions can be split from machine load. For 5-sample queries
    // the spread is the TRIMMED range (drop one min + one max): more
    // samples can only widen a raw max-min, which would punish exactly
    // the queries we resample to stabilize — the trimmed range is the
    // noise band around the median the reader should compare against.
    val results: Seq[(String, Double, Double, Double)] = catalog.map { case (name, _) =>
      val times = baseTimes(name) ++ extra.getOrElse(name, Nil)
      if (times.size < Runs) (name, -1.0, -1.0, -1.0)
      else {
        val sorted  = times.sorted
        val trimmed = if (sorted.size >= 5) sorted.tail.init else sorted
        (name, sorted(sorted.size / 2), trimmed.last - trimmed.head, sorted.head)
      }
    }
    // The driver stores only the LAST ~2000 chars of stdout and parses the
    // JSON line out of that window (rounds 1-3 shipped a ~4 KB line with
    // full-precision doubles + a spread map -> "parsed": null every round).
    // So the stdout line must stay compact: adaptive-precision seconds,
    // numeric sf, no spread map. Full precision + spreads go to
    // BENCH_FULL.json in the cwd for tools/bench_compare.py.
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else if (v >= 10) f"$v%.1f"
      else if (v >= 0.1) f"$v%.2f"
      else f"$v%.3f"
    type R = (String, Double, Double, Double)
    def jmapOf(rs: Seq[R], f: R => Double, p: Double => String): String =
      rs.map { case r @ (k, _, _, _) => "\"" + k + "\":" + p(f(r)) }.mkString("{", ",", "}")
    def jmap(f: R => Double, p: Double => String): String =
      jmapOf(results, f, p)
    val total = results.collect { case (_, v, _, _) if v >= 0 => v }.sum
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    def line(p: Double => String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jmap(_._2, p)},"runs":$Runs,"sf":$sfNum}"""
    val resampledJson = extra.keys.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // One-time session builds (every Ckpt memo, the storage twins among
    // them) are paid by the FIRST consumer and so excluded from
    // per-query medians; report them as a
    // first-class metric so cross-round totals can't silently shift cost
    // into unmeasured builds (r13 verdict item 3). Keys repeat if an
    // entry was released/evicted and rebuilt — the log is per BUILD.
    val builds = Ckpt.buildLog.map { case (k, t) => (k.replace(sfDir, "<sf>"), t) }
    val buildsFull = builds
      .map { case (k, t) => s"""["$k",$t]""" }.mkString("[", ",", "]")
    val buildsLine = {
      val top = builds.sortBy(-_._2).take(10)
        .map { case (k, t) => "\"" + k + "\":" + fmt(t) }.mkString("{", ",", "}")
      s"""{"metric":"cache_builds","value":${fmt(builds.map(_._2).sum)},"unit":"sec","count":${builds.size},"top":$top}"""
    }
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(_._2, _.toString)},"runs":$Runs,"spread":${jmap(_._3, _.toString)},"min":${jmap(_._4, _.toString)},"resampled":$resampledJson,"cache_builds":$buildsFull,"sf":"$sfDir"}"""
    // a SPARK_GRAFT_ONLY-restricted run must not clobber the committed
    // full-catalog artifact with a one-query subset
    if (only.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (full + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] BENCH_FULL.json write failed: $e") }
    // Degrade precision rather than overflow the driver's tail window; as a
    // last resort keep only the SLOWEST queries (the ones a perf reader
    // needs) and say how many sub-threshold ones were dropped — the total
    // still covers the whole catalog, and BENCH_FULL.json (committed) has
    // every query at full precision.
    val p1 = (v: Double) => if (v < 0) "-1" else f"$v%.1f"
    def truncLine(keep: Int): String = {
      val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(keep) ++
        results.filter(_._2 < 0) // failures stay visible at any truncation
      val sorted = slowest.sortBy(_._1)
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jmapOf(sorted, _._2, p1)},"omitted":${results.size - sorted.size},"note":"slowest $keep of ${results.size}; full set in BENCH_FULL.json","runs":$Runs,"sf":$sfNum}"""
    }
    val candidates = Seq(line(fmt), line(v => if (v < 0) "-1" else f"$v%.2f"), line(p1)) ++
      Seq(80, 60, 40, 25).map(truncLine)
    val out = candidates.find(_.length <= 1800).getOrElse(truncLine(15))
    // cache_builds prints BEFORE the total line: the driver parses the
    // LAST ~2000 stdout chars, so the headline total must stay last
    println(buildsLine.take(1000))
    println(out)
    spark.stop()
  }
}
