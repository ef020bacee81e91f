package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Descriptive-statistics operators: exact moments (mean/variance/stddev),
  * correlation, and feature scaling — the profiling pass every dataset
  * gets before training, expressed so the answers are bit-stable at any
  * partitioning.
  *
  * Spark's own `var_samp`/`corr` aggregate in streaming double arithmetic,
  * so their results depend on partition order — unusable under the
  * cross-engine hash gate and irreproducible run-to-run at cluster scale.
  * Instead every sum here goes through decimal(38,6) (exact, commutative),
  * and the closed-form moment/correlation formulas then run as plain IEEE
  * double expressions on those exact inputs — the same bits on local[32],
  * a 1000-executor cluster, and DuckDB. One aggregation shuffle per query,
  * keyed on the (low-cardinality) group column; AQE coalesces the tiny
  * post-shuffle partitions.
  */
object Stats {
  type Q = (SparkSession, String) => DataFrame

  /** Exact grid sum → double through an explicit BIGINT image — see
    * [[graft.ops.Relational]]'s dsum scaladoc (the shared 2^53 decimal→
    * double parity rule; both engines round the same integer then do
    * the same final divide, bit-identical at every scale).
    */
  private def dsum(c: Column): Column =
    Relational.guardLongImage(
      (sum(c.cast("decimal(38,6)")) * lit(1000000)).cast("decimal(38,0)"),
      "dsum(1e-6 grid)")
      .cast("double") / lit(1e6)
  private val DSUM =
    "(CAST(CAST(sum(CAST(%s AS DECIMAL(38,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0)"

  /** Range-partitioned cumulative sum over a (group, value) histogram —
    * the UNBOUNDED-DOMAIN-safe alternative to a per-group
    * `Window.partitionBy(group).orderBy(value)` (which funnels a whole
    * group's distinct-value grid into one task's sort). The
    * [[graft.ops.Curation.globalIds]] two-pass discipline:
    *
    *  1. range-partition the histogram on (group, value) — every task
    *     holds an ORDERED, bounded slice, no task ever sees a whole
    *     group;
    *  2. local running sums per (slice, group) cell;
    *  3. per-slice subtotals (≤ partitions × groups rows — bounded by
    *     cluster width, not data) prefix-summed into slice offsets and
    *     group totals, broadcast back;
    *  4. global `cum` = local running sum + slice offset.
    *
    * The subtotal branch shares the range exchange with the main branch
    * (ReusedExchange — pinned in PlanAuditSpec for every caller). For
    * that to hold, `hist` must carry EXACTLY (groups, ord, cName): an
    * extra payload column gets pruned out of the subtotal branch, the
    * two scans diverge, and neither the static ReuseExchange rule nor
    * AQE's runtime stage cache can dedupe them (callers with two
    * counters pack them into one decimal column — see [[mannWhitneyOf]]).
    * Output is partitioning-independent: prefix sums recompose
    * identically wherever the range boundaries fall. Adds `cum` (running
    * sum of `cName` in `ord` order within each group) and — only when
    * `needTot` — `tot` (group total): callers that ignore `tot` must
    * opt out so the third subtree vanishes instead of surviving as a
    * pruned-empty 1-row cardinality join. All helper columns are
    * dropped.
    */
  private[graft] def rangeCum(
      hist: DataFrame,
      groups: Seq[String],
      ord: String,
      cName: String,
      needTot: Boolean = true): DataFrame = {
    // LOUD guard for the identical-subtree discipline the scaladoc
    // describes: a payload column gets pruned out of the subtotal
    // branch, the two range exchanges stop being canonically identical,
    // ReuseExchange/AQE can no longer dedupe them — and two independent
    // materializations can coalesce DIFFERENTLY, putting the pid spaces
    // out of register (the corpus_zorder round-12 failure mode, caught
    // live at sf0.1/local[32]). Callers pack payload INTO the ord
    // struct (a unique ordering prefix makes extra fields inert).
    require(hist.columns.toSet == (groups :+ ord :+ cName).toSet,
      s"rangeCum needs EXACTLY (${(groups :+ ord :+ cName).mkString(", ")}) — " +
        s"payload columns diverge the two range-exchange subtrees and break " +
        s"pid alignment under AQE coalescing; got ${hist.columns.mkString(", ")}")
    val gc = groups.map(col)
    // r15 (guide §2.4): the local running sum comes from the
    // PartitionPrefixSum operator instead of a
    // Window.partitionBy(spark_partition_id(), groups) — after the range
    // exchange every (partition, group) cell is partition-local by
    // construction, but Spark could not see it and EnsureRequirements
    // inserted a second FULL-DATA hash exchange under the window whose
    // only effect was to put rows where they already were. The operator
    // keeps rows in place (UnspecifiedDistribution + a local sort, the
    // same sort the window needed) and computes the identical RANGE-frame
    // running sum; both consumer branches (prefix sums and the subtotal
    // aggregation) read the SAME operator over the SAME range exchange,
    // so the pid spaces stay in register exactly as before (the
    // ReusedExchange discipline pinned in PlanAuditSpec).
    // one INSTANCE per consumer branch: a single node reused in both
    // sides of the internal offsets join would carry the same produced
    // (pid, lcum) exprIds into both join children, which the analyzer's
    // relation dedup cannot re-instance for a custom node. The two
    // instances canonicalize identically, so the range exchange beneath
    // them is still built once (ReusedExchange / AQE stage cache).
    def mkPre(last: Option[String]) = graft.plans.PartitionPrefixSum.withLocalCum(
      hist.repartitionByRange((groups :+ ord).map(col): _*),
      groups, ord, cName, lastName = last)
    val pre = mkPre(None)
    // r16 (guide §2.4, verdict item 1 — cut the per-query job count): the
    // per-slice subtotals are a FILTER over the operator's cell-last
    // marker (there the running sum IS the cell total — same wrapping
    // long / precision-38 decimal / null-skipping accumulation the old
    // groupBy(pid, groups).agg(sum) produced), so the subtotal branch
    // costs no aggregation exchange of its own; and the group totals ride
    // the SAME offsets window stage as a full-frame window sum instead of
    // a third aggregation subtree with a second broadcast. Two stages and
    // one broadcast job fewer per rangeCum, values bit-identical.
    val perSlice = mkPre(Some("cl"))
      .filter(col("cl"))
      .select(("pid" +: groups).map(col) :+ col("lcum").as("pc"): _*)
    val offW = Window
      .partitionBy(gc: _*)
      .orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets0 = perSlice // partitions x groups rows: tiny at any scale
      .withColumn("off", coalesce(sum(col("pc")).over(offW), lit(0L)))
    val offsets =
      if (!needTot) offsets0.select(("pid" +: groups).map(col) :+ col("off"): _*)
      else offsets0
        .withColumn("tot", sum(col("pc")).over(Window.partitionBy(gc: _*)))
        .select(("pid" +: groups).map(col) :+ col("off") :+ col("tot"): _*)
    pre
      .join(broadcast(offsets), "pid" +: groups)
      .withColumn("cum", col("lcum") + col("off"))
      .drop("pid", "off", "lcum")
  }

  /** Exact per-group moments of `events.value`: count, mean, sample
    * variance/stddev via the sum-of-squares identity on decimal-exact
    * sums, plus the (trivially exact) extremes.
    */
  def moments(s: SparkSession, dir: String): DataFrame = {
    val v = col("value")
    Tables
      .events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        dsum(v).as("sx"),
        dsum(v * v).as("sxx"),
        min(v).as("min_value"),
        max(v).as("max_value"))
      .select(
        col("event_type"),
        col("n"),
        (col("sx") / col("n")).as("mean_value"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - lit(1.0)))
          .as("var_value"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - lit(1.0)))
          .as("std_value"),
        col("min_value"),
        col("max_value"))
  }

  /** Pearson correlation between an event's value and its hour-of-day,
    * per event type — "does this metric have a diurnal cycle". All five
    * sums are decimal-exact; the closed form divides deterministic
    * doubles (sqrt is IEEE-correctly-rounded in both engines).
    */
  def corrValueHour(s: SparkSession, dir: String): DataFrame = {
    val x = col("value")
    val y = hour(col("ts")).cast("double")
    Tables
      .events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        dsum(x).as("sx"),
        dsum(y).as("sy"),
        dsum(x * y).as("sxy"),
        dsum(x * x).as("sxx"),
        dsum(y * y).as("syy"))
      .select(
        col("event_type"),
        col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_value_hour"))
  }

  /** Spearman rank correlation between `value` and hour-of-day per event
    * type — the tie-aware monotone-association twin of [[corrValueHour]]
    * (Pearson detects only LINEAR association; Spearman is Pearson over
    * average ranks, robust to any monotone transform of either margin).
    *
    * Scale shape: no per-row rank window and no row-level join. The input
    * collapses to three grids — the joint (value, hour) histogram and the
    * two marginals — ranks come from [[rangeCum]]'s range-partitioned
    * prefix sums over the marginals (average rank for a tie block of
    * size c ending at cumulative count cum is `cum − c + (c+1)/2`), and
    * the five Pearson sums are weighted by the joint counts: one equi-join
    * of two collapsed grids plus a broadcast of the 24·|types|-row hour
    * ranks. Per-term products quantize onto the decimal(38,6) grid before
    * their order-free sums (the catalog determinism rule); degenerate
    * margins (a single distinct value) yield NULL via nullif in both
    * engines.
    */
  def spearman(s: SparkSession, dir: String): DataFrame =
    spearmanOf(Tables.events(s, dir)
      .select(col("event_type"), col("value"), hour(col("ts")).as("hh")))

  private[graft] def spearmanOf(ev: DataFrame): DataFrame = {
    val joint = ev.groupBy("event_type", "value", "hh").agg(count(lit(1)).as("c"))
    // BOTH marginals ride ONE rangeCum, tagged by axis (r15, guide §2.4
    // — the rfm/mad discipline): the hour marginal lifts onto the value
    // axis as exact small-integer doubles, per-(axis, type) prefix sums
    // are independent of the union, and the rank arithmetic is the
    // unchanged exact-long expression — bit-identical ranks, one range
    // exchange + sampling pass + window stage instead of two.
    val xm = ev.groupBy("event_type", "value").agg(count(lit(1)).as("cm"))
      .select(lit("x").as("ax"), col("event_type"), col("value").as("u"), col("cm"))
    val ym = ev.groupBy("event_type", "hh").agg(count(lit(1)).as("cm"))
      .select(lit("y").as("ax"), col("event_type"), col("hh").cast("double").as("u"), col("cm"))
    val rc = rangeCum(xm.unionByName(ym), Seq("ax", "event_type"), "u", "cm",
      needTot = false)
    val rank = col("cum") - col("cm") + (col("cm") + lit(1)) / lit(2.0)
    val rx = rc.filter(col("ax") === "x")
      .select(col("event_type"), col("u").as("value"), rank.as("rx"))
    val ry = rc.filter(col("ax") === "y")
      .select(col("event_type"), col("u").cast("int").as("hh"), rank.as("ry"))
    val j = joint
      .join(rx, Seq("event_type", "value"))
      .join(broadcast(ry), Seq("event_type", "hh"))
    // Rank products live on the QUARTER-integer grid (ranks are
    // half-integers), so 2 decimal digits are exact — and decimal(38,2)
    // matters beyond economy: these sums reach ~n³/4, and at sf0.1 a
    // (38,6)-scaled integer already exceeds double's exact range, where
    // DuckDB's decimal→double (scaled-int cast, then divide) can land one
    // ULP off the JVM's correctly-rounded BigDecimal conversion. At sf1
    // even the ×100 image passes 2^53 (n³/4·100 ≈ 2e17), so the final
    // conversion routes through an explicit BIGINT image + one divide on
    // both engines (the dsum discipline): bit-identical at every scale,
    // envelope n³/4 < 9.2e16 per group (~n ≤ 7e5 — 3.5× the sf1 group),
    // enforced loudly by the shared image guard.
    def qsum(x: Column) =
      Relational.guardLongImage(
        (sum(x.cast("decimal(38,2)")) * lit(100)).cast("decimal(38,0)"),
        "spearman qsum(1e-2 grid)")
        .cast("double") / lit(100.0)
    j.groupBy("event_type")
      .agg(
        sum(col("c")).as("n"),
        qsum(col("c") * col("rx")).as("sx"),
        qsum(col("c") * col("ry")).as("sy"),
        qsum(col("c") * col("rx") * col("ry")).as("sxy"),
        qsum(col("c") * col("rx") * col("rx")).as("sxx"),
        qsum(col("c") * col("ry") * col("ry")).as("syy"))
      .select(col("event_type"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          nullif(
            sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy")),
            lit(0.0))).as("spearman_rho"))
  }

  /** Ordinary-least-squares fit of `value` on hour-of-day per event type
    * — slope/intercept/R² from the same five decimal-exact sums as
    * [[corrValueHour]], so the whole regression is one partial-aggregated
    * shuffle and a closed-form projection. R² is the squared correlation
    * (identically associated in the oracle), slope and intercept the
    * normal-equation solutions — every division runs on deterministic
    * doubles, so the fit is bit-stable at any partitioning.
    */
  def olsValueHour(s: SparkSession, dir: String): DataFrame = {
    val x = hour(col("ts")).cast("double")
    val y = col("value")
    val sl = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    Tables
      .events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        dsum(x).as("sx"),
        dsum(y).as("sy"),
        dsum(x * y).as("sxy"),
        dsum(x * x).as("sxx"),
        dsum(y * y).as("syy"))
      .select(
        col("event_type"),
        col("n"),
        sl.as("slope"),
        ((col("sy") - sl * col("sx")) / col("n")).as("intercept"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  /** Min-max feature scaling of `value` within its event type — the
    * normalization step before the embedding/clustering stages.
    *
    * NOT a window: `Window.partitionBy(event_type)` over a 5-value key
    * funnels every row of a type into a single task's sort — at 100 TB
    * that is five tasks each holding a fifth of the table. Instead the
    * extremes come from a partial-aggregating `groupBy` (map-side combine,
    * fully parallel, 5-row result) and are broadcast-joined back, so the
    * rescale is a pure map stage over the original partitioning.
    */
  def minmaxScale(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val extremes = ev
      .groupBy("event_type")
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.select("event_id", "event_type", "value")
      .join(broadcast(extremes), "event_type")
      .select(
        col("event_id"),
        col("event_type"),
        col("value"),
        ((col("value") - col("lo")) / (col("hi") - col("lo"))).as("scaled"))
  }

  /** Exact nearest-rank percentiles (p50/p95 of l_extendedprice) plus the
    * exact order-count per return flag — the oracle-able exact twin of the
    * sketch-based `Relational.approxStats` profile (which stays out of the
    * catalog because HLL/KLL internals legitimately differ across engines;
    * `ApproxStatsSpec` bounds its error against these exact answers).
    *
    * Scale shape: percentiles do NOT sort the table. A `groupBy(value)`
    * count first collapses the input to its distinct (flag, price) pairs —
    * a parallel partial-aggregating shuffle — and the cumulative count
    * over that collapsed grid runs through [[rangeCum]]'s
    * range-partitioned prefix sum, so no task ever sorts a whole group's
    * grid even on an unbounded-domain column. Rank thresholds use pure
    * integer arithmetic (`ceil(p·n)` as `(p·n + 99) div 100`) — no float
    * rank, no interpolation, bit-identical across engines.
    */
  def percentilesExact(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val vc = li
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("c"))
    val cum = rangeCum(vc, Seq("l_returnflag"), "l_extendedprice", "c")
    // both percentiles in ONE pass over the cumulative histogram: exactly
    // one row per group satisfies each rank window, so a conditional min
    // is the value itself (halves the plan vs a filter-join per pick)
    def hit(p: Int) = expr(s"cum - c < ($p * tot + 99) div 100 AND cum >= ($p * tot + 99) div 100")
    val pcts = cum
      .groupBy("l_returnflag")
      .agg(
        min(when(hit(50), col("l_extendedprice"))).as("p50_price"),
        min(when(hit(95), col("l_extendedprice"))).as("p95_price"))
    li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_orderkey")).as("n_orders"))
      .join(broadcast(pcts), "l_returnflag")
  }

  /** Trim rate (percent per tail) for [[trimmedMean]]. */
  val TrimPct = 5

  /** Exact α-trimmed mean of `value` per event type — the robust location
    * estimate between the mean (outlier-fragile) and the median (throws
    * away 100·(1−ε)% of the data): drop the ⌊αn⌋ smallest and largest
    * OBSERVATIONS, average the rest.
    *
    * Scale shape: no sort and no per-row rank. The input collapses to its
    * (type, value) histogram; [[rangeCum]] supplies cumulative counts;
    * and each grid row's SURVIVING multiplicity is closed-form —
    * a row holding ranks (cum−c, cum] keeps
    * `max(0, min(cum, n−k) − max(cum−c, k))` observations for trim depth
    * k = ⌊αn⌋ — so the trimmed sum is one more partial-aggregated pass
    * over the grid. Integer rank arithmetic throughout; the only float
    * op is the final division.
    */
  def trimmedMean(s: SparkSession, dir: String): DataFrame = {
    val vc = Tables.events(s, dir)
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
    val cum = rangeCum(vc, Seq("event_type"), "value", "c")
      .withColumn("k", expr(s"($TrimPct * tot) div 100"))
      .withColumn("inc",
        greatest(lit(0L),
          least(col("cum"), col("tot") - col("k")) -
            greatest(col("cum") - col("c"), col("k"))))
    cum.groupBy("event_type")
      .agg(
        max(col("tot")).as("n"),
        max(col("k")).as("k_trim"),
        sum(col("inc")).as("n_kept"),
        dsum(col("inc") * col("value")).as("ts"))
      .select(
        col("event_type"), col("n"), col("k_trim"), col("n_kept"),
        (col("ts") / (col("n") - lit(2) * col("k_trim"))).as("trimmed_mean"))
  }

  /** Exact mode of the integer value bucket (⌊value⌋) per event type,
    * deterministic tie-break to the smallest bucket. The count grid is
    * one partial-aggregated shuffle; the per-group argmax runs through
    * the bounded-heap `GroupedTopK` exec with k = 1 — no per-group
    * window sort, #partitions·|groups| candidate rows shuffle. floor of
    * a double is IEEE-exact in both engines (no rounding-direction
    * hazard).
    */
  def modeValue(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(s, dir)
      .groupBy(col("event_type"), floor(col("value")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
    graft.plans.GroupedTopK
      .topK(grid, Seq("event_type"), Seq("n" -> false, "bucket" -> true), 1)
      .select(col("event_type"), col("bucket").as("mode_bucket"), col("n").as("n_mode"))
  }

  /** Winsorization percentiles (lower tail percent; upper = 100 − it). */
  val WinsorPct = 5

  /** Winsorized values: `value` clipped to its event type's exact
    * [p5, p95] nearest-rank band — the row-level companion of
    * [[trimmedMean]] (trimming DROPS tail observations; winsorizing
    * CLAMPS them, preserving row count for downstream feature pipelines
    * that must keep every example).
    *
    * Scale shape: the band comes from the same cumulative-histogram
    * machinery as [[percentilesExact]] (collapse to the distinct-value
    * grid, [[rangeCum]] prefix sums, conditional-min rank hit — never a
    * table sort), and the |types|-row band table broadcasts back onto
    * the original partitioning, so the clamp itself is a pure map stage.
    */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val vc = ev.groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
    val cum = rangeCum(vc, Seq("event_type"), "value", "c")
    def hit(p: Int) =
      expr(s"cum - c < ($p * tot + 99) div 100 AND cum >= ($p * tot + 99) div 100")
    val band = cum.groupBy("event_type").agg(
      min(when(hit(WinsorPct), col("value"))).as("lo"),
      min(when(hit(100 - WinsorPct), col("value"))).as("hi"))
    ev.select("event_id", "event_type", "value")
      .join(broadcast(band), "event_type")
      .select(
        col("event_id"), col("event_type"), col("value"),
        least(greatest(col("value"), col("lo")), col("hi")).as("winsorized"),
        (col("value") < col("lo") || col("value") > col("hi")).as("clipped"))
  }

  /** Quantization grid for [[robustScale]]'s percentiles: value·16 is a
    * power-of-two scaling, exact in binary floating point, so the grid
    * assignment and the de-quantized grid values are bit-deterministic in
    * both engines — no rounding anywhere.
    */
  val RobustGrid = 16

  /** Robust (median/IQR) scaling of `value` per event type — the
    * outlier-resistant alternative to [[minmaxScale]]. Continuous
    * measures have ~n distinct values, so exact nearest-rank quantiles
    * over raw values would re-sort the table; instead values are
    * quantized onto a 1/[[RobustGrid]]-unit grid first (exact power-of-2
    * arithmetic), the grid histogram (bounded by the value RANGE, not the
    * row count) is windowed for cumulative counts, and the three
    * quartiles broadcast back. Median/IQR are then grid values —
    * deterministic at any partitioning.
    */
  def robustScale(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val vc = ev
      .groupBy(col("event_type"), floor(col("value") * RobustGrid).as("g"))
      .agg(count(lit(1)).as("c"))
    val cum = vc
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("event_type").orderBy("g")))
      .withColumn("tot", sum(col("c")).over(Window.partitionBy("event_type")))
    // all three quartiles in one conditional-aggregate pass (see
    // percentilesExact)
    def hit(p: Int) = expr(s"cum - c < ($p * tot + 99) div 100 AND cum >= ($p * tot + 99) div 100")
    def gv(c: Column) = c.cast("double") / RobustGrid
    val q = cum
      .groupBy("event_type")
      .agg(
        gv(min(when(hit(25), col("g")))).as("q1"),
        gv(min(when(hit(50), col("g")))).as("med"),
        gv(min(when(hit(75), col("g")))).as("q3"))
    ev.select("event_id", "event_type", "value")
      .join(broadcast(q), "event_type")
      .select(
        col("event_id"),
        col("event_type"),
        col("value"),
        ((col("value") - col("med")) / (col("q3") - col("q1"))).as("robust"))
  }

  /** Median absolute deviation per event type — the robust spread
    * estimate behind outlier fences that survive heavy tails (where
    * [[anomaly3Sigma]]'s σ is itself dragged by the outliers). Two
    * passes of the same grid-quantized exact-median machinery as
    * [[robustScale]]: median of `value`, then (after a broadcast join
    * of the 5-row median table back onto the stream) median of
    * `|value − med|`. Both cumulative counts run through [[rangeCum]]'s
    * range-partitioned prefix sum, so the shape stays safe even where
    * the grid's bounded-domain argument thins out.
    */
  def madExact(s: SparkSession, dir: String): DataFrame = {
    def hit(p: Int) =
      expr(s"cum - c < ($p * tot + 99) div 100 AND cum >= ($p * tot + 99) div 100")
    val ev = Tables.events(s, dir).select("event_type", "value")
    val medVc = ev
      .groupBy(col("event_type"), floor(col("value") * RobustGrid).as("g"))
      .agg(count(lit(1)).as("c"))
    val med = rangeCum(medVc, Seq("event_type"), "g", "c")
      .groupBy("event_type")
      .agg((min(when(hit(50), col("g"))).cast("double") / RobustGrid).as("med"))
    // The deviation pass RIDES the broadcast median through as a grouping
    // passenger (med is functionally dependent on event_type, so grouping
    // by both is grouping by event_type): the median subtree is evaluated
    // once — as the broadcast build — instead of twice (once for the dev
    // stream, once again for a final med⋈mad join), and the final join
    // disappears outright. PERF guide §2.4 (dedupe repeated subtrees /
    // share one pass); r15: 33 jobs → the dev pass's own, output
    // bit-identical (same med per group, same grid arithmetic).
    val devVc = ev
      .join(broadcast(med), "event_type")
      .groupBy(col("event_type"), col("med"),
        floor(abs(col("value") - col("med")) * RobustGrid).as("g"))
      .agg(count(lit(1)).as("c"))
    rangeCum(devVc, Seq("event_type", "med"), "g", "c")
      .groupBy("event_type", "med")
      .agg((min(when(hit(50), col("g"))).cast("double") / RobustGrid).as("mad"))
  }

  /** 3-sigma anomaly audit per event type: exact decimal-sum moments
    * broadcast back onto the stream, z-scores as pure projection, outlier
    * counts as a conditional aggregate — the scalable two-pass shape
    * (aggregate → broadcast → map) with no window anywhere.
    */
  def anomaly3Sigma(s: SparkSession, dir: String): DataFrame = {
    val v = col("value")
    val m = Tables
      .events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(v).as("sx"), dsum(v * v).as("sxx"))
      .select(
        col("event_type"),
        (col("sx") / col("n")).as("mean_value"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - lit(1.0)))
          .as("std_value"))
    Tables
      .events(s, dir)
      .select("event_type", "value")
      .join(broadcast(m), "event_type")
      .select(col("event_type"),
        abs((col("value") - col("mean_value")) / col("std_value")).as("az"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("az") > 3.0, 1).otherwise(0)).cast("long").as("n_outliers"),
        max(col("az")).as("max_abs_z"))
  }

  /** Number of equi-depth buckets for [[histEquidepth]]. */
  val EqBuckets = 10

  /** Exact equi-depth (decile) histogram boundaries per group — the
    * profiling primitive behind length-balanced sharding, quantile
    * binning, and skew diagnosis. A cumulative histogram over DISTINCT
    * values (never a full-table sort), then each value row fans out to
    * the deciles its rank range `[cum-c, cum)` intersects — pure integer
    * arithmetic (`(rank*B) div tot`), exact in both engines. A value
    * straddling a boundary legitimately appears in both buckets; bucket
    * row-counts are fixed by construction, so the informative output is
    * the (lo, hi) value range per decile.
    *
    * Scale — the cumulative count runs through [[rangeCum]]'s
    * range-partitioned prefix sum (the UNBOUNDED-DOMAIN-safe shape:
    * no task ever sorts a whole group's grid; the per-slice subtotal
    * branch reuses the range exchange — both pinned in PlanAuditSpec).
    */
  def histEquidepth(s: SparkSession, dir: String): DataFrame = {
    val vc = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("c"))
    rangeCum(vc, Seq("l_returnflag"), "l_extendedprice", "c")
      .withColumn("bucket",
        explode(sequence(
          expr(s"((cum - c) * $EqBuckets) div tot"),
          expr(s"((cum - 1) * $EqBuckets) div tot"))))
      .groupBy("l_returnflag", "bucket")
      .agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
  }

  /** Benford first-digit audit over lineitem prices — the forensic
    * data-quality test: naturally-grown multiplicative quantities put
    * log10(1+1/d) of their mass on leading digit d, while fabricated or
    * truncated data (a synthesizer with a uniform price floor, a feed
    * that clipped a field) visibly doesn't. Emits the observed vs
    * expected share per digit with the chi-square contribution, so the
    * audit localizes WHICH digit carries the deviation, not just that
    * one exists.
    *
    * Digit extraction avoids both libm (no log10 on data) and
    * double-formatting divergence (no double→string): prices are
    * cent-valued, so `floor(x·100 + 0.5)` recovers the exact integer
    * cents on both engines and the leading digit is the first character
    * of that INTEGER's decimal form. The only transcendental —
    * log10(1+1/d) — runs over the 9-value digit grid and quantizes onto
    * decimal(38,9) before any arithmetic touches it.
    *
    * Scale shape: one partial-aggregated shuffle onto the ≤9-row digit
    * grid; the 1-row total rides back as a broadcast. Nothing else.
    */
  def benford(s: SparkSession, dir: String): DataFrame =
    benfordOf(Tables.lineitem(s, dir).select(col("l_extendedprice")))

  private[ops] def benfordOf(prices: DataFrame): DataFrame = {
    val cents = floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
    val dig = prices
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n_obs"))
    val tot = dig.agg(sum("n_obs").cast("double").as("n_total"))
    val pBen = log(lit(1.0) + lit(1.0) / col("digit").cast("double"))
      .divide(log(lit(10.0)))
      .cast("decimal(38,9)").cast("double")
    dig.crossJoin(broadcast(tot))
      .select(
        col("digit"),
        col("n_obs"),
        (col("n_obs").cast("double") / col("n_total")).as("p_obs"),
        pBen.as("p_benford"),
        (((col("n_obs").cast("double") - col("n_total") * pBen) *
          (col("n_obs").cast("double") - col("n_total") * pBen)) /
          (col("n_total") * pBen)).as("chi2_term"))
  }

  /** The two samples compared by [[ksTest]]. */
  val KsGroupA = "click"
  val KsGroupB = "purchase"

  /** Two-sample Kolmogorov–Smirnov distance between two event types'
    * value distributions — the drift test a pipeline runs between data
    * versions or sources before retraining. D = max |F_a(v) - F_b(v)|
    * over the merged support, reported with the (first) value attaining
    * it.
    *
    * Values quantize onto the [[RobustGrid]] power-of-2 grid first (an
    * exact binary-FP operation, same rule as robust_scale), which (a)
    * bounds the support so the ONE global cumulative window runs over a
    * few thousand grid cells instead of every distinct double in a
    * 100 TB table, and (b) keeps both engines on identical inputs. The
    * CDFs are exact-integer ratios; D is a deterministic IEEE fold over
    * the bounded grid.
    */
  def ksTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin(KsGroupA, KsGroupB))
    val vc = ev
      .groupBy(floor(col("value") * RobustGrid).as("g"))
      .agg(
        count(when(col("event_type") === KsGroupA, 1)).as("ca"),
        count(when(col("event_type") === KsGroupB, 1)).as("cb"))
    val cum = vc
      .withColumn("cuma", sum(col("ca")).over(Window.orderBy("g")))
      .withColumn("cumb", sum(col("cb")).over(Window.orderBy("g")))
      .withColumn("tota", sum(col("ca")).over(Window.partitionBy()))
      .withColumn("totb", sum(col("cb")).over(Window.partitionBy()))
      .withColumn("d",
        abs(col("cuma").cast("double") / col("tota").cast("double") -
          col("cumb").cast("double") / col("totb").cast("double")))
    cum
      .select(struct(col("d"), (-col("g")).as("ng")).as("key"), col("g"))
      .agg(max(col("key")).as("m"))
      .select(
        col("m.d").as("ks_d"),
        (-col("m.ng").cast("double") / RobustGrid).as("at_value"))
  }

  /** Welch's unequal-variance two-sample t-test between [[KsGroupA]] and
    * [[KsGroupB]]'s value distributions — the parametric companion to
    * [[ksTest]]'s distribution-free drift check (KS asks "same shape?",
    * Welch asks "same mean?", and a drift gate wants both). t statistic
    * and Welch–Satterthwaite degrees of freedom in closed form from the
    * same six decimal-exact sums as [[moments]]: one partial-aggregated
    * shuffle over a 2-row group key, then a 2-row conditional-aggregate
    * collapse — every division a deterministic IEEE op, bit-identical
    * at any partitioning.
    */
  def welchT(s: SparkSession, dir: String): DataFrame = {
    val v = col("value")
    val per = Tables
      .events(s, dir)
      .filter(col("event_type").isin(KsGroupA, KsGroupB))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(v).as("sx"), dsum(v * v).as("sxx"))
    def pick(g: String, c: String) = max(when(col("event_type") === g, col(c)))
    val one = per.agg(
      pick(KsGroupA, "n").as("na"),
      pick(KsGroupA, "sx").as("sxa"),
      pick(KsGroupA, "sxx").as("sxxa"),
      pick(KsGroupB, "n").as("nb"),
      pick(KsGroupB, "sx").as("sxb"),
      pick(KsGroupB, "sxx").as("sxxb"))
    val sa = ((col("sxxa") - col("sxa") * col("sxa") / col("na")) / (col("na") - lit(1.0))) /
      col("na")
    val sb = ((col("sxxb") - col("sxb") * col("sxb") / col("nb")) / (col("nb") - lit(1.0))) /
      col("nb")
    one.select(
      col("na").as("n_a"),
      col("nb").as("n_b"),
      (col("sxa") / col("na")).as("mean_a"),
      (col("sxb") / col("nb")).as("mean_b"),
      ((col("sxa") / col("na") - col("sxb") / col("nb")) / sqrt(sa + sb)).as("t_stat"),
      ((sa + sb) * (sa + sb) /
        (sa * sa / (col("na") - lit(1.0)) + sb * sb / (col("nb") - lit(1.0))))
        .as("df_welch"))
  }

  /** Pairwise Cohen's d and Hedges' g between EVERY event-type pair —
    * the effect-size grid next to [[welchT]]'s two-group significance
    * test: t says "the means differ beyond noise", d says BY HOW MUCH
    * in pooled-standard-deviation units, comparable across metrics and
    * sample sizes; g applies the small-sample de-bias factor
    * (1 − 3/(4n−9), Hedges 1981). The table a pipeline scans to decide
    * which segment differences are real enough to stratify on.
    *
    * Scale shape: one partial-aggregated pass builds the per-type
    * moment table; the pair grid is a type-count-bounded non-equi
    * self-join (broadcast — never the fact table). Determinism: moments
    * arrive through decimal sums cast to double; everything after is a
    * fixed-order IEEE chain mirrored verbatim in the oracle.
    */
  def cohensD(s: SparkSession, dir: String): DataFrame = {
    val v = col("value")
    val per = Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(v).as("sx"), dsum(v * v).as("sxx"))
    val a = per.select(col("event_type").as("type_a"), col("n").as("na"),
      col("sx").as("sxa"), col("sxx").as("sxxa"))
    val b = per.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("sx").as("sxb"), col("sxx").as("sxxb"))
    val naD    = col("na").cast("double")
    val nbD    = col("nb").cast("double")
    val ma     = col("sxa") / naD
    val mb     = col("sxb") / nbD
    val ssa    = col("sxxa") - col("sxa") * col("sxa") / naD
    val ssb    = col("sxxb") - col("sxb") * col("sxb") / nbD
    val pooled = (ssa + ssb) / (naD + nbD - lit(2.0))
    val d      = (ma - mb) / sqrt(pooled)
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(
        col("type_a"), col("type_b"), col("na").as("n_a"), col("nb").as("n_b"),
        ma.as("mean_a"), mb.as("mean_b"),
        d.as("cohens_d"),
        (d * (lit(1.0) - lit(3.0) / (lit(4.0) * (naD + nbD) - lit(9.0))))
          .as("hedges_g"))
  }

  /** Chi-squared independence test between event type and hour-of-day —
    * "is this metric's traffic mix diurnal?", the categorical drift
    * check beside [[ksTest]] (continuous shape) and [[welchT]] (means).
    * The full r×c contingency grid is the cross join of the two
    * marginal tables (both bounded by category counts — broadcast),
    * left-joined with observed cells so zero-observation cells
    * contribute their full expected mass, as the statistic requires.
    * Per-cell (o−e)²/e terms quantize onto decimal(38,9) before the
    * final sum (the exact-commutative-sum rule), so χ² is bit-stable at
    * any partitioning.
    */
  def chi2(s: SparkSession, dir: String): DataFrame =
    chi2Cells(s, dir).agg(
      sum(col("cell")).cast("double").as("chi2"),
      ((max(col("nr")) - 1) * (max(col("nc")) - 1)).as("dof"),
      max(col("n")).as("n"))

  /** The quantized χ² term grid shared by [[chi2]] and [[cramersV]]: one
    * row per contingency cell with the decimal(38,9) χ² contribution
    * plus the (broadcast) table geometry.
    */
  private def chi2Cells(s: SparkSession, dir: String): DataFrame =
    chi2CellsOf(Tables.events(s, dir)
      .select(col("event_type"), hour(col("ts")).cast("long").as("h")))

  private[ops] def chi2CellsOf(ev: DataFrame): DataFrame = {
    val cells = ev.groupBy("event_type", "h").agg(count(lit(1)).as("o"))
    val rows  = cells.groupBy("event_type").agg(sum(col("o")).as("rt"))
    val cols  = cells.groupBy("h").agg(sum(col("o")).as("ct"))
    // set sizes, not count_distinct: two distinct aggregates plan an
    // Expand whose grouping order follows a per-JVM hash, so the plan
    // text drifted between runs; the grid is ≤ types × 24 rows
    val tot = cells.agg(
      sum(col("o")).as("n"),
      size(collect_set(col("event_type"))).cast("long").as("nr"),
      size(collect_set(col("h"))).cast("long").as("nc"))
    val e    = col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double")
    val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
    rows
      .crossJoin(broadcast(cols))
      // cells is the contingency grid itself — ≤ types × 24 hour-of-day
      // rows at ANY volume; hinted so the zero-fill join stays broadcast
      // at every SF (sf1 sweep: the unhinted plan flipped to SMJ)
      .join(broadcast(cells), Seq("event_type", "h"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
      .select(term.cast("decimal(38,9)").as("cell"), col("n"), col("nr"), col("nc"))
  }

  /** Cramér's V — the [0, 1] effect-size normalization of [[chi2]]
    * (V = √(φ²/min(r−1, c−1)), φ² = χ²/n), plus the Bergsma
    * bias-corrected variant that de-inflates V on small samples /
    * large tables (φ²₋ = max(0, φ² − (r−1)(c−1)/(n−1)) over shrunk
    * row/column counts). A χ² alone says "dependent"; V says HOW
    * dependent on a scale comparable across grids — the number a
    * curation pipeline thresholds when deciding whether a metadata
    * field is informative enough to stratify on.
    *
    * Scale shape: identical to [[chi2]] — the term grid is
    * nr·nc-bounded, geometry rides as a 1-row broadcast, one partial
    * aggregate. Determinism: χ² arrives through the decimal(38,9) cell
    * sum; everything after is a fixed-order chain of IEEE
    * divide/multiply/sqrt on that one double and exact integers, which
    * both engines round identically — no further quantization needed.
    */
  def cramersV(s: SparkSession, dir: String): DataFrame =
    cramersVOf(chi2Cells(s, dir))

  private[ops] def cramersVOf(cells: DataFrame): DataFrame = {
    val agg = cells.agg(
      sum(col("cell")).cast("double").as("chi2"),
      max(col("n")).as("n"),
      max(col("nr")).as("r"),
      max(col("nc")).as("c"))
    val nD   = col("n").cast("double")
    val rD   = col("r").cast("double")
    val cD   = col("c").cast("double")
    val phi2 = col("chi2") / nD
    val phi2c = greatest(
      lit(0.0), phi2 - (rD - 1.0) * (cD - 1.0) / (nD - 1.0))
    val rCorr = rD - (rD - 1.0) * (rD - 1.0) / (nD - 1.0)
    val cCorr = cD - (cD - 1.0) * (cD - 1.0) / (nD - 1.0)
    agg.select(
      col("chi2"), col("n"), col("r"), col("c"),
      sqrt(phi2 / least(rD - 1.0, cD - 1.0)).as("v"),
      sqrt(phi2c / (least(rCorr, cCorr) - 1.0)).as("v_bc"))
  }

  /** Poisson bootstrap geometry for [[bootstrap]]: replica count, and the
    * Poisson(1) CDF scaled onto the 60-bit hash space — weight k is drawn
    * by comparing the per-(row, replica) hash against these integer
    * thresholds, so both engines draw bit-identical weights with pure
    * integer compares (no floating RNG anywhere). Weights cap at
    * [[BootMaxW]] (P ≈ 3.7e-4 per draw — a negligible, and exactly
    * mirrored, truncation).
    */
  val BootReps = 32
  val BootMaxW = 5
  val BootThresholds: Seq[Long] = {
    val pow2_60 = 1L << 60
    val pmf = (0 to BootMaxW - 1).scanLeft(math.exp(-1.0)) { case (p, k) => p / (k + 1) }
    pmf.tail.scanLeft(pmf.head)(_ + _).take(BootMaxW).map(c => (c * pow2_60).toLong)
  }

  /** Poisson bootstrap confidence distribution for the per-type mean —
    * THE bootstrap that works at 100 TB: instead of materializing R
    * resampled copies of the data (impossible) each row contributes a
    * deterministic Poisson(1)-distributed weight to every replica, and
    * all R weighted means come out of ONE aggregation pass. The explode
    * is map-side (R× rows into the partial aggregate, never shuffled);
    * the shuffle carries types × R partial sums only.
    *
    * Determinism: weights are integer threshold-compares on the
    * md5-derived hash; sums go through the decimal grid; each mean is
    * one IEEE division of exactly-computed values.
    */
  def bootstrap(s: SparkSession, dir: String): DataFrame = {
    val u = graft.functions.TextHash.hash60(
      concat(col("event_id").cast("string"), lit(":"), col("rep").cast("string")))
    val w = BootThresholds.zipWithIndex
      .foldRight(lit(BootMaxW).cast("long")) { case ((t, k), els) =>
        when(col("u") < t, k.toLong).otherwise(els)
      }
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        explode(sequence(lit(0), lit(BootReps - 1))).as("rep"))
      .withColumn("u", u)
      .withColumn("w", w)
      .groupBy("event_type", "rep")
      .agg(
        sum(col("w")).as("n_eff"),
        sum((col("value") * col("w")).cast("decimal(38,6)")).as("ws"))
      .select(
        col("event_type"),
        col("rep").cast("long").as("rep"),
        col("n_eff"),
        (col("ws").cast("double") / col("n_eff").cast("double")).as("mean_val"))
  }

  /** Value-bucket width for [[psi]] (mirrors curate_k_anonymity's grid). */
  val PsiBinWidth = 25.0

  /** Population Stability Index between the daytime (hour 6–17) and
    * nighttime value distributions per event type — the standard
    * ML-monitoring drift score beside [[ksTest]] (detection) and
    * [[graft.ops.Events.cusum]] (localization): PSI = Σ_bins (p−q)·ln(p/q)
    * with Laplace (+1) smoothing so empty bins are defined. PSI < 0.1 is
    * conventionally "stable", > 0.25 "shifted".
    *
    * Scale/parity shape: one aggregation to the (type, bin) grid with
    * conditional day/night counts (grid bounded by value range, not
    * rows), a bin-count/total side aggregate joined back, then per-bin
    * terms. p and q are single IEEE divisions of exact integers; ln of
    * their exact-integer-ratio argument quantizes onto the decimal(38,9)
    * grid BEFORE entering the product (the libm-containment rule), and
    * the final per-bin terms quantize again before the order-free sum.
    */
  def psi(s: SparkSession, dir: String): DataFrame =
    psiOf(Tables.events(s, dir))

  private[graft] def psiOf(events: DataFrame): DataFrame = {
    val isDay = hour(col("ts")) >= 6 && hour(col("ts")) < 18
    val cells = events
      .select(col("event_type"), isDay.as("day"),
        floor(col("value") / PsiBinWidth).cast("long").as("vb"))
      .groupBy("event_type", "vb")
      .agg(
        count(when(col("day"), 1)).as("cd"),
        count(when(!col("day"), 1)).as("cn"))
    val tot = cells.groupBy("event_type")
      .agg(sum(col("cd")).as("nd"), sum(col("cn")).as("nn"), count(lit(1)).as("b"))
    val p = (col("cd") + 1).cast("double") / (col("nd") + col("b")).cast("double")
    val q = (col("cn") + 1).cast("double") / (col("nn") + col("b")).cast("double")
    val lnpq = log(((col("cd") + 1) * (col("nn") + col("b"))).cast("double") /
      ((col("cn") + 1) * (col("nd") + col("b"))).cast("double"))
      .cast("decimal(38,9)").cast("double")
    cells
      // tot is one row per event type (app-bounded at ANY corpus size):
      // explicit hint so the plan stays broadcast at every SF — the
      // static planner's crude aggregate-size estimate flipped this to
      // SMJ at sf1 (round-12 sweep), re-shuffling the bin grid for
      // nothing
      .join(broadcast(tot), "event_type")
      .select(col("event_type"), col("b"),
        ((p - q) * lnpq).cast("decimal(38,9)").as("term"))
      .groupBy("event_type")
      .agg(
        max(col("b")).as("n_bins"),
        sum(col("term")).cast("double").as("psi"))
  }

  /** Gini coefficient of per-customer spend — the one-number inequality
    * measure behind "what share of revenue do the top customers carry"
    * (the continuous companion to [[Relational.abc]]'s discrete A/B/C
    * cut; for a training corpus the same statistic over per-source token
    * counts says how concentrated the mixture is).
    *
    * Scale shape: NO global sort. Per-customer decimal-exact spend
    * collapses to its distinct-value histogram, and the rank machinery
    * runs over [[rangeCum]]'s range-partitioned prefix sum. A tied value
    * block occupies consecutive ranks, so its exact rank-sum is
    * `c·(cum−c) + c(c+1)/2` — the Σ rank·x term is computed per BLOCK
    * (tie-order-invariant by construction), everything in exact
    * decimal/integer arithmetic, with the two final divisions the only
    * IEEE ops.
    */
  def gini(s: SparkSession, dir: String): DataFrame =
    giniOf(Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(38,6)")).as("x")))

  /** [[gini]] over any one-decimal-column-per-unit frame `x`. */
  private[graft] def giniOf(spend: DataFrame): DataFrame = {
    val vc  = spend.groupBy(col("x")).agg(count(lit(1)).as("c"))
    val cum = rangeCum(vc, Seq(), "x", "c", needTot = false)
    // 2·Σ rank·x over a tied block = x·(2c(cum−c) + c(c+1)), exact
    val t2 = col("x") * (col("c") * (col("cum") - col("c")) * 2 + col("c") * (col("c") + 1))
    val a = cum.agg(
      sum(col("c")).as("n"),
      sum(col("x") * col("c")).as("sx"),
      sum(t2).as("srx2"))
    // G = (srx2 − (n+1)·sx) / (n·sx): numerator and denominator stay in
    // EXACT decimal arithmetic, floor to whole units (floor — unlike a
    // decimal rescale cast — has identical semantics in both engines:
    // Spark rounds HALF_UP where DuckDB truncates), and only then
    // convert — the scaled rank-sum srx2 itself has too many digits to
    // survive a direct decimal→double conversion identically
    val num = floor(col("srx2") - col("sx") * (col("n") + 1))
    val den = floor(col("sx") * col("n"))
    a.select(
      col("n").as("n_customers"),
      col("sx").cast("double").as("total_spend"),
      (num.cast("double") / den.cast("double")).as("gini"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) test between [[KsGroupA]] and
    * [[KsGroupB]]'s value distributions — the rank-based companion to
    * [[welchT]] (robust to non-normality: it asks "does one group
    * stochastically dominate?" instead of "are the means equal?"). U,
    * its tie-broken normal approximation z, and the tie-correction term
    * all come from the distinct-value histogram: U = Σ_v cA(v)·cumB(<v)
    * + ½·Σ_v cA(v)·cB(v) — rank arithmetic per tied block, never a
    * per-row rank.
    *
    * Scale shape: the histogram collapse is one partial-aggregated
    * shuffle; the cumulative B-count runs through [[rangeCum]] (no
    * single-task sort of the value grid); the rest is one global
    * aggregate of exact integer products (decimal(38,0) against
    * overflow). z is computed from those exact sums in closed-form
    * IEEE doubles, identical in both engines.
    *
    * The two per-value counters are PACKED into one decimal(38,0)
    * payload (`ca·10¹⁸ + cb`) before [[rangeCum]]: with two separate
    * payload columns, column pruning strips `ca` out of the subtotal
    * branch, the two range-exchange subtrees stop being canonically
    * equal, and the corpus→grid pipeline runs twice (no ReusedExchange,
    * statically or via AQE's stage cache). Packing keeps the histogram
    * at exactly (v, c), so the exchange is shared. Exact while both
    * group counts stay below 10¹⁸ rows (any real corpus): cumulative
    * packed sums stay ≤ 10³⁶ < 10³⁸.
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitneyOf(Tables.events(s, dir), KsGroupA, KsGroupB)

  /** Distinct-value histogram of `v` with per-value counts of the A and
    * B populations, plus the cumulative B-count (`cum`, values ≤ v) —
    * the shared rank machinery of [[mannWhitneyOf]] and
    * [[TextAnalysis.clfAuc]]. The two counters travel through
    * [[rangeCum]] packed into one decimal(38,0) column (`ca·10¹⁸ + cb`)
    * so the histogram is exactly (v, c) and the range exchange is
    * shared (see [[rangeCum]]'s single-payload requirement). Returns
    * (v, ca, cb, cum) with all three counters unpacked back to longs.
    */
  private[graft] def pairRankCum(rows: DataFrame, v: Column, isA: Column, isB: Column): DataFrame = {
    val shift = lit(1000000000000000000L) // 10^18: cb < shift always
    val vc = rows
      .groupBy(v.as("v"))
      .agg((count(when(isA, 1)).cast("decimal(38,0)") * shift +
        count(when(isB, 1))).as("c"))
    rangeCum(vc, Seq(), "v", "c", needTot = false)
      .withColumn("ca", expr("c div 1000000000000000000"))
      .withColumn("cb", pmod(col("c"), shift).cast("long"))
      .withColumn("cum", pmod(col("cum"), shift).cast("long"))
  }

  /** [[mannWhitney]] between any two groups of an (event_type, value)
    * frame.
    */
  private[graft] def mannWhitneyOf(events: DataFrame, ga: String, gb: String): DataFrame = {
    val ev = events.filter(col("event_type").isin(ga, gb))
    val cum = pairRankCum(ev, col("value"),
      col("event_type") === ga, col("event_type") === gb)
    val t = col("ca") + col("cb")
    val a = cum.agg(
      sum(col("ca")).as("na"),
      sum(col("cb")).as("nb"),
      sum((col("ca") * (col("cum") - col("cb"))).cast("decimal(38,0)")).as("u1"),
      sum((col("ca") * col("cb")).cast("decimal(38,0)")).as("utie"),
      sum((t * t * t - t).cast("decimal(38,0)")).as("t3"))
    def d(c: String) = col(c).cast("double")
    val bigN = d("na") + d("nb")
    val u    = d("u1") + lit(0.5) * d("utie")
    val mu   = d("na") * d("nb") / 2.0
    val sig2 = (d("na") * d("nb") / 12.0) *
      ((bigN + 1.0) - d("t3") / (bigN * (bigN - 1.0)))
    a.select(
      col("na").as("n_a"),
      col("nb").as("n_b"),
      u.as("u_stat"),
      ((u - mu) / sqrt(sig2)).as("z_stat"))
  }

  /** Kruskal-Wallis H test across ALL event types at once — the k-group
    * generalization of [[mannWhitneyOf]]: are the k value distributions
    * exchangeable, judged on midranks so no normality assumption? H =
    * 12/(N(N+1)) · Σ R_i²/n_i − 3(N+1) with the tie-corrected variant
    * H/C, C = 1 − Σ(t³−t)/(N³−N). The omnibus screen a pipeline runs
    * BEFORE pairwise tests (k·(k−1)/2 Mann-Whitneys uncorrected is a
    * multiple-comparison trap).
    *
    * Scale shape: the same distinct-value-histogram + [[rangeCum]]
    * range-partitioned prefix sum as the Mann-Whitney — the corpus
    * never sorts globally; per-type rank sums are one equi-join of the
    * (type, value) counts against the grid. Determinism: midranks are
    * .5-exact rationals carried as DOUBLED integers (2·(cum−c)+c+1) in
    * exact decimal sums; the k per-type R²/n terms quantize to
    * decimal(38,6) before their order-free sum; H is then a fixed IEEE
    * chain over exact aggregates.
    */
  def kruskal(s: SparkSession, dir: String): DataFrame =
    kruskalOf(Tables.events(s, dir))

  private[ops] def kruskalOf(events: DataFrame): DataFrame = {
    val ev   = events.select(col("event_type"), col("value").as("v"))
    val vc   = ev.groupBy("v").agg(count(lit(1)).as("c"))
    val grid = rangeCum(vc, Seq(), "v", "c", needTot = false)
    val tv   = ev.groupBy("event_type", "v").agg(count(lit(1)).as("ci"))
    val r = tv
      .join(grid.select("v", "c", "cum"), "v")
      .groupBy("event_type")
      .agg(
        sum(col("ci")).as("ni"),
        sum((col("ci") * (lit(2) * (col("cum") - col("c")) + col("c") + lit(1)))
          .cast("decimal(38,0)")).as("r2"))
    // totals need only the value-count histogram, NOT the cumulative
    // grid: aggregating vc instead of grid stops the whole rangeCum
    // pipeline (range exchange + window + subtotal broadcasts) from
    // being evaluated a second time just to sum its unchanged c column
    // (r15, guide §2.4 — same values by construction).
    val tot = vc.agg(
      sum(col("c")).as("n"),
      sum((col("c") * col("c") * col("c") - col("c")).cast("decimal(38,0)")).as("t3"))
    // CENTERED form: with D_i = R_i − n_i(N+1)/2 the cross term vanishes
    // exactly (ΣR_i = N(N+1)/2), so H = 12/(N(N+1)) · Σ D_i²/n_i with NO
    // subtraction of near-equal magnitudes. The raw Σ R_i²/n_i form puts
    // an ~N²-sized decimal through the decimal→double cast, where the
    // two engines' conversions diverge by an ulp once the scaled integer
    // image passes 2^53 (observed at sf0.01 with (38,6) and sf0.1 with
    // (38,2)); the centered deviations stay deviation-sized instead.
    // D2 = 2·D_i = r2 − n_i(N+1), exact integer decimal arithmetic.
    // INTEGER quantization (floor(x·10⁶) as decimal(38,0)), not a
    // fractional decimal: a non-integer decimal→double cast is a
    // reciprocal MULTIPLY in one engine and a true divide in the other —
    // 1-ulp double-rounding skew (bit-level divergence observed at both
    // sf0.01 and sf0.1). An integer image converts exactly below 2^53
    // and the single explicit /1e6 divide is correctly rounded in both.
    val terms = r
      .crossJoin(broadcast(tot))
      .select(
        col("n"), col("t3"),
        floor(
          ((col("r2") - (col("ni") * (col("n") + lit(1))).cast("decimal(38,0)"))
            .cast("double") / 2.0) *
            ((col("r2") - (col("ni") * (col("n") + lit(1))).cast("decimal(38,0)"))
              .cast("double") / 2.0) /
            col("ni").cast("double") * lit(1000000.0))
          .cast("decimal(38,0)").as("term"))
    val agg = terms
      .groupBy("n", "t3")
      .agg(
        (sum(col("term")).cast("double") / lit(1000000.0)).as("s"),
        count(lit(1)).as("k"))
    val nD  = col("n").cast("double")
    val t3D = col("t3").cast("double")
    val h   = lit(12.0) / (nD * (nD + lit(1.0))) * col("s")
    agg.select(
      col("n"), col("k"), (col("k") - 1).as("dof"),
      h.as("h"),
      (h / (lit(1.0) - t3D / (nD * nD * nD - nD))).as("h_tie_corrected"))
  }

  /** Interpolated (type-7 / `quantile_cont`) quartiles of `value` per
    * event type — the continuous-quantile companion to
    * [[percentilesExact]]'s nearest-rank picks: position h = (n−1)·p/100,
    * answer = v⌊h⌋₊₁ + frac·(v⌊h⌋₊₂ − v⌊h⌋₊₁). The rank split is pure
    * integer arithmetic ((p·(n−1)) div/mod 100), so both engines pick
    * identical bracketing values and the single interpolation multiply
    * is the only IEEE op.
    *
    * Scale shape: same as [[percentilesExact]] — distinct-value
    * histogram, [[rangeCum]] prefix sum, one conditional-aggregate pass
    * picking both bracket values for all three quartiles at once.
    */
  def quantileCont(s: SparkSession, dir: String): DataFrame = {
    val vc = Tables.events(s, dir)
      .groupBy(col("event_type"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
    val cum = rangeCum(vc, Seq("event_type"), "v", "c")
    def hitAt(rank: String) =
      expr(s"cum - c < $rank AND cum >= $rank")
    def lo(p: Int) = hitAt(s"(($p * (tot - 1)) div 100) + 1")
    def hi(p: Int) = hitAt(s"(($p * (tot - 1)) div 100) + 2")
    val picks = cum
      .groupBy("event_type")
      .agg(
        max(col("tot")).as("n"),
        min(when(lo(25), col("v"))).as("lo25"),
        min(when(hi(25), col("v"))).as("hi25"),
        min(when(lo(50), col("v"))).as("lo50"),
        min(when(hi(50), col("v"))).as("hi50"),
        min(when(lo(75), col("v"))).as("lo75"),
        min(when(hi(75), col("v"))).as("hi75"))
    def q(p: Int) = {
      val fracNum = expr(s"($p * (n - 1)) % 100")
      when(fracNum === 0, col(s"lo$p"))
        .otherwise(col(s"lo$p") +
          fracNum.cast("double") / 100.0 * (col(s"hi$p") - col(s"lo$p")))
    }
    picks.select(
      col("event_type"), col("n"),
      q(25).as("p25"), q(50).as("p50"), q(75).as("p75"))
  }

  /** Lag-1 autocorrelation of the hourly mean-value series per event
    * type — "does this hour predict the next?", the serial-dependence
    * fingerprint next to [[corrValueHour]]'s diurnal correlation (white
    * noise ≈ 0, smooth drift ≈ 1, alternating load < 0). Pairs are
    * (x_h, x_{h+1}) for consecutive present hours; gaps simply drop
    * pairs.
    *
    * Scale shape: the hourly collapse is one partial-aggregated shuffle
    * onto a BOUNDED grid (types × hours); the lag pairing is a hash
    * equi-join of that grid against itself on (type, hour+1) — no
    * window over the series. Hourly means are identical IEEE quotients
    * of decimal-exact sums in both engines; the five Pearson sums
    * quantize each product onto the decimal(38,9) grid before summing
    * (the order-free-sum rule), so r is bit-stable at any partitioning.
    */
  def autocorr(s: SparkSession, dir: String): DataFrame =
    autocorrOf(Tables.events(s, dir))

  /** [[autocorr]] over any (ts, event_type, value) frame. */
  private[graft] def autocorrOf(events: DataFrame): DataFrame = {
    // the hourly mean quantizes onto a 2^-16 grid via floor(x·65536):
    // power-of-2 multiply and floor are EXACT in binary floating point
    // (the RobustGrid discipline), so every downstream sum is integer
    // arithmetic — r's near-cancelling numerator never sees a
    // cross-engine rounding difference (decimal-grid quantization of
    // the products was not enough: its near-2^53 conversions and
    // half-up-vs-truncate rescales both leaked ulps into r)
    val grid = 65536L
    val hm = events
      .groupBy(col("event_type"), Events.hourFloor.as("hr"))
      .agg(dsum(col("value")).as("sx"), count(lit(1)).as("cnt"))
      .select(col("event_type"), col("hr"),
        floor(col("sx") / col("cnt") * grid).cast("long").as("x"))
    val pairs = hm
      .select(col("event_type"), (col("hr") + 1).as("hr"), col("x").as("x0"))
      .join(hm.select(col("event_type"), col("hr"), col("x").as("x1")),
        Seq("event_type", "hr"))
    def di(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
    val a = pairs
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_pairs"),
        di(col("x0")).as("s0"), di(col("x1")).as("s1"),
        di(col("x0") * col("x0")).as("s00"),
        di(col("x1") * col("x1")).as("s11"),
        di(col("x0") * col("x1")).as("s01"))
    val n = col("n_pairs").cast("double")
    a.select(
      col("event_type"), col("n_pairs"),
      ((n * col("s01") - col("s0") * col("s1")) /
        (sqrt(n * col("s00") - col("s0") * col("s0")) *
          sqrt(n * col("s11") - col("s1") * col("s1")))).as("r_lag1"))
  }

  /** Theil–Sen robust trend of the daily mean-value series per event
    * type: the MEDIAN of all pairwise day-to-day slopes — the
    * outlier-proof companion to [[olsValueHour]]'s least-squares line
    * (a single corrupted day moves OLS arbitrarily, but not the median
    * of O(D²) slopes; breakdown point ≈ 29%).
    *
    * Scale shape: the corpus collapses to the BOUNDED daily grid
    * (types × days — calendar-bounded, not data-bounded) in one
    * partial-aggregated shuffle; the pair expansion is a hash
    * equi-join of that grid against itself on event_type (D² pairs per
    * type, D = days — ~10⁵ pairs/type for a year, independent of corpus
    * size); the median runs over [[rangeCum]]'s range-partitioned
    * prefix sum with the same exact rank picks as [[quantileCont]]
    * (lo/hi middle elements, one IEEE average). Determinism: daily
    * means are identical IEEE quotients of decimal-exact sums; slopes
    * are identical IEEE ops on them (never summed, only ranked — the
    * near-cancellation trap [[autocorrOf]] documents doesn't apply);
    * a slope of −0.0 is impossible (x−x = +0.0, positive denominator),
    * so double group keys agree across engines.
    */
  def theilSen(s: SparkSession, dir: String): DataFrame =
    theilSenOf(Tables.events(s, dir))

  /** [[theilSen]] over any (ts, event_type, value) frame. */
  private[graft] def theilSenOf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("di"))
      .agg((dsum(col("value")) / count(lit(1))).as("m"))
    val sl = daily.select(col("event_type"), col("di").as("da"), col("m").as("ma"))
      .join(daily.select(col("event_type"), col("di").as("db"), col("m").as("mb")),
        Seq("event_type"))
      .filter(col("da") < col("db"))
      .select(col("event_type"),
        ((col("mb") - col("ma")) / (col("db") - col("da"))).as("s"))
    val hist = sl.groupBy(col("event_type"), col("s")).agg(count(lit(1)).as("c"))
    val cum  = rangeCum(hist, Seq("event_type"), "s", "c")
    def hitAt(rank: String) = expr(s"cum - c < $rank AND cum >= $rank")
    cum.groupBy("event_type")
      .agg(
        max(col("tot")).as("n_pairs"),
        ((min(when(hitAt("((tot + 1) div 2)"), col("s"))) +
          min(when(hitAt("((tot div 2) + 1)"), col("s")))) / 2).as("slope"))
  }

  /** Kendall's tau-b rank correlation between hour-of-day and the
    * magnitude class of `value` — the tie-robust monotone-association
    * test beside [[corrValueHour]] (linear) and [[stats_spearman]]-style
    * rank measures: "do larger events systematically land later in the
    * day?". Values quantize to their BIT-LENGTH class
    * (`length(bin(floor(v)+1))` — a pure integer op both engines compute
    * identically), so the statistic is exact over the quantized pair.
    *
    * Scale shape: the corpus collapses to the BOUNDED 24×~64 contingency
    * grid (hour × bit-length — domain-bounded, never data-bounded) in one
    * partial-aggregated shuffle; concordant/discordant mass comes from
    * the grid's self-join (≤ (24·64)² cell pairs — a broadcast-join of
    * two tiny aggregates, independent of corpus size), tie corrections
    * from the two margin vectors. All counts ride decimal(38,0) (a
    * product of two 100-TB-scale counts overflows BIGINT); tau-b's
    * final quotient is one IEEE division+sqrt of exactly-computed
    * integers. Doubled tie identities (`s0 = n(n−1)`, `s1 = Σ m(m−1)`)
    * keep every intermediate an exact integer — no /2 anywhere.
    */
  def kendall(s: SparkSession, dir: String): DataFrame =
    kendallOf(Tables.events(s, dir))

  /** [[kendall]] over any (ts, value) frame. */
  private[graft] def kendallOf(events: DataFrame): DataFrame = {
    val cls = length(bin(floor(col("value")).cast("long") + 1)).cast("long")
    val cells = events
      .select(hour(col("ts")).cast("long").as("h"), cls.as("g"))
      .groupBy("h", "g")
      .agg(count(lit(1)).as("c"))
    def d0(c: Column) = c.cast("decimal(38,0)")
    val a = cells.select(col("h").as("ha"), col("g").as("ga"), col("c").as("ca"))
    val b = cells.select(col("h").as("hb"), col("g").as("gb"), col("c").as("cb"))
    val cd = a
      .join(broadcast(b), col("hb") > col("ha"))
      .agg(
        // cast a FACTOR (not the product) to decimal: ca*cb in BIGINT
        // first would wrap past 2^63 on planet-scale cell counts — Spark
        // wraps silently where DuckDB errors, so cast-first is the only
        // form that keeps the engines in lockstep at any scale (the same
        // cast-first pattern as the s_h/s_g tie sums)
        sum(when(col("gb") > col("ga"), d0(col("ca")) * col("cb")).otherwise(d0(lit(0))))
          .as("nc"),
        sum(when(col("gb") < col("ga"), d0(col("ca")) * col("cb")).otherwise(d0(lit(0))))
          .as("nd"))
    def tieSum(df: DataFrame, k: String) = df
      .groupBy(col(k))
      .agg(sum(col("c")).as("m"))
      .agg(sum(d0(col("m")) * d0(col("m") - 1)).as(s"s_$k"), sum(col("m")).as(s"n_$k"))
    val th = tieSum(cells, "h")
    val tg = tieSum(cells, "g").drop("n_g")
    val one = cd.crossJoin(broadcast(th)).crossJoin(broadcast(tg))
    val n  = col("n_h")
    val s0 = d0(n) * d0(n - 1)
    one.select(
      col("n_h").as("n"),
      col("nc").cast("double").as("n_conc"),
      col("nd").cast("double").as("n_disc"),
      // all-ties corpus (every event in one hour, or one value class)
      // zeroes the sqrt — NULL in both engines via nullif
      ((col("nc") - col("nd")).cast("double") * 2.0 /
        nullif(
          sqrt((s0 - col("s_h")).cast("double") * (s0 - col("s_g")).cast("double")),
          lit(0.0)))
        .as("tau_b"))
  }

  /** Levene's variance-homogeneity test (mean-centered form) of `value`
    * across event types — the "can I pool these groups / is variance
    * itself drifting" gate that complements [[welchT]] (means) and
    * [[ksTest]] (shape): a one-way ANOVA F on the absolute deviations
    * z = |v − mean(group)|.
    *
    * Scale shape: pass 1 reduces to per-type decimal-exact (n, Σv) —
    * the 5-row mean table broadcasts back (the [[anomaly3Sigma]]
    * discipline, no second shuffle of the fact); pass 2 is one more
    * partial-aggregated shuffle to per-type (n, Σz, Σz²). Group means
    * are identical IEEE quotients of exact sums, so every z is the same
    * double in both engines; the k per-group F ingredients quantize onto
    * an explicit 1e-6 floor image before the final order-free sum (the
    * libm-containment rule applied to cross-group reduction — see the
    * qi6 comment for why a decimal cast is not engine-portable here),
    * and F is closed-form IEEE arithmetic on those exact pieces.
    */
  def levene(s: SparkSession, dir: String): DataFrame =
    leveneOf(Tables.events(s, dir))

  /** [[levene]] over any (event_type, value) frame. */
  private[graft] def leveneOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("value"))
    val means = ev
      .groupBy("event_type")
      .agg(count(lit(1)).as("nm"), dsum(col("value")).as("sxm"))
      .select(col("event_type"), (col("sxm") / col("nm")).as("mu"))
    val z = ev
      .join(broadcast(means), "event_type")
      .select(col("event_type"), abs(col("value") - col("mu")).as("z"))
    val per = z
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("z")).as("sz"), dsum(col("z") * col("z")).as("szz"))
    // per-group F ingredients quantize onto an explicit 1e-6 FLOOR image
    // (round-half-up on the double, `floor(x·1e6 + 0.5)`) rather than a
    // double→decimal cast: Spark's cast rounds the double's EXACT binary
    // expansion while DuckDB rounds the double-arithmetic image, and at
    // sf1 one group's (szz − sz²/n) landed on opposite sides — a clean
    // 1e-6 quantum of ssw drift. The floor image is pure IEEE arithmetic
    // on identical doubles, so both engines agree at every scale; the
    // long sums then convert exactly (dsum discipline).
    def qi6(c: Column) = floor(c * lit(1e6) + lit(0.5))
    val sz2n = col("sz") * col("sz") / col("n")
    val one = per.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("n_total"),
      (sum(qi6(col("sz"))).cast("double") / lit(1e6)).as("szt"),
      (sum(qi6(sz2n)).cast("double") / lit(1e6)).as("sp"),
      (sum(qi6(col("szz") - sz2n)).cast("double") / lit(1e6)).as("ssw"))
    val ssb = col("sp") - col("szt") * col("szt") / col("n_total")
    one.select(
      col("k"),
      col("n_total"),
      ssb.as("ssb"),
      col("ssw").as("ssw"),
      // degenerate-corpus guard (both engines): a single group (k=1) or
      // ssw=0 zeroes a denominator — DuckDB yields NULL for x/0 while
      // Spark doubles yield NaN/Inf, so nullif pins both engines to NULL
      ((ssb / nullif((col("k") - lit(1)).cast("double"), lit(0.0))) /
        nullif(col("ssw") / nullif((col("n_total") - col("k")).cast("double"), lit(0.0)),
          lit(0.0))).as("f_stat"))
  }

  /** Mutual information (nats) between event type and hour-of-day, with
    * both marginal entropies and the uncertainty coefficient
    * U(type|hour) = I/H(type) — the information-theoretic effect size
    * behind [[chi2]]'s yes/no independence verdict ("HOW diurnal is the
    * traffic mix", in bits a mixture designer can act on).
    *
    * Scale shape: identical to [[chi2]] — one partial-aggregated shuffle
    * to the bounded types×24 contingency grid, margins as two tiny
    * aggregates broadcast back, so corpus size never appears after the
    * first reduction. Zero cells contribute exactly 0 to I (lim p→0 of
    * p·ln p), so the observed-cells-only join is the statistic, not an
    * approximation. Every ln runs on an identical IEEE quotient of
    * exact integers and quantizes onto decimal(38,9) before the
    * order-free sum (the libm-containment rule).
    */
  def mutualInfo(s: SparkSession, dir: String): DataFrame =
    mutualInfoOf(Tables.events(s, dir))

  /** [[mutualInfo]] over any (ts, event_type) frame. */
  private[graft] def mutualInfoOf(events: DataFrame): DataFrame = {
    val cells = events
      .select(col("event_type").as("t"), hour(col("ts")).cast("long").as("h"))
      .groupBy("t", "h")
      .agg(count(lit(1)).as("c"))
    val rowsM = cells.groupBy("t").agg(sum(col("c")).as("ct"))
    val colsM = cells.groupBy("h").agg(sum(col("c")).as("ch"))
    val tot   = cells.agg(sum(col("c")).as("n"))
    def q9(c: Column) = c.cast("decimal(38,9)")
    def ent(m: DataFrame, cnt: String, out: String) = m
      .crossJoin(broadcast(tot))
      .select(q9((col(cnt).cast("double") / col("n").cast("double")) *
        -log(col(cnt).cast("double") / col("n").cast("double"))).as("e"))
      .agg(sum(col("e")).cast("double").as(out))
    val mi = cells
      .join(broadcast(rowsM), "t")
      .join(broadcast(colsM), "h")
      .crossJoin(broadcast(tot))
      .select(
        q9((col("c").cast("double") / col("n").cast("double")) *
          log((col("c").cast("double") * col("n").cast("double")) /
            (col("ct").cast("double") * col("ch").cast("double")))).as("cell"),
        col("n"))
      .agg(max(col("n")).as("n"), sum(col("cell")).cast("double").as("mi_nats"))
    mi
      .crossJoin(broadcast(ent(rowsM, "ct", "h_type_nats")))
      .crossJoin(broadcast(ent(colsM, "ch", "h_hour_nats")))
      .select(
        col("n"), col("mi_nats"), col("h_type_nats"), col("h_hour_nats"),
        // single-event-type corpus ⇒ h_type_nats = 0: NULL in both
        // engines (DuckDB x/0 is NULL; Spark would say NaN) via nullif
        (col("mi_nats") / nullif(col("h_type_nats"), lit(0.0))).as("u_type"))
  }

  val queries: Map[String, Q] = Map(
    "stats_kendall"      -> (kendall _),
    "stats_levene"       -> (levene _),
    "stats_mutual_info"  -> (mutualInfo _),
    "stats_gini"         -> (gini _),
    "stats_mannwhitney"  -> (mannWhitney _),
    "stats_theilsen"     -> (theilSen _),
    "stats_quantile_cont" -> (quantileCont _),
    "stats_autocorr"     -> (autocorr _),
    "stats_psi"          -> (psi _),
    "stats_bootstrap"    -> (bootstrap _),
    "stats_chi2"         -> (chi2 _),
    "stats_cramers_v"    -> (cramersV _),
    "stats_cohens_d"     -> (cohensD _),
    "stats_kruskal"      -> (kruskal _),
    "stats_welch"        -> (welchT _),
    "stats_mad"          -> (madExact _),
    "stats_ks"           -> (ksTest _),
    "hist_equidepth"     -> (histEquidepth _),
    "stats_moments"      -> (moments _),
    "stats_corr"         -> (corrValueHour _),
    "stats_spearman"     -> (spearman _),
    "stats_trimmed"      -> (trimmedMean _),
    "stats_winsorize"    -> (winsorize _),
    "stats_mode"         -> (modeValue _),
    "stats_minmax_scale" -> (minmaxScale _),
    "stats_percentiles"  -> (percentilesExact _),
    "stats_robust_scale" -> (robustScale _),
    "stats_anomaly"      -> (anomaly3Sigma _),
    "stats_ols"          -> (olsValueHour _),
    "stats_benford"      -> (benford _)
  )

  private def ds(c: String) = DSUM.format(c)

  val oracle: Map[String, String] = Map(
    // same exact-cents digit extraction (no double formatting, no log10
    // on data); the ln ratio quantizes before any arithmetic uses it
    "stats_benford" ->
      """WITH dig AS (
           SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                    AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             count(*) AS n_obs
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS n_total FROM dig),
         pb AS (SELECT digit, n_obs, n_total,
             CAST(CAST(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
                  AS DECIMAL(38,9)) AS DOUBLE) AS p_benford
           FROM dig, tot)
         SELECT digit, n_obs,
           CAST(n_obs AS DOUBLE) / n_total AS p_obs,
           p_benford,
           ((CAST(n_obs AS DOUBLE) - n_total * p_benford) *
            (CAST(n_obs AS DOUBLE) - n_total * p_benford)) /
           (n_total * p_benford) AS chi2_term
         FROM pb""",
    "stats_kendall" ->
      """WITH cells AS (
           SELECT CAST(hour(ts) AS BIGINT) AS h,
             CAST(length(bin(CAST(floor(value) AS BIGINT) + 1)) AS BIGINT) AS g,
             count(*) AS c
           FROM events GROUP BY 1, 2),
         cd AS (SELECT
             sum(CASE WHEN b.g > a.g THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS nc,
             sum(CASE WHEN b.g < a.g THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS nd
           FROM cells a JOIN cells b ON b.h > a.h),
         th AS (SELECT sum(CAST(m AS DECIMAL(38,0)) * CAST(m - 1 AS DECIMAL(38,0))) AS s_h,
             CAST(sum(m) AS BIGINT) AS n_h
           FROM (SELECT h, sum(c) AS m FROM cells GROUP BY 1)),
         tg AS (SELECT sum(CAST(m AS DECIMAL(38,0)) * CAST(m - 1 AS DECIMAL(38,0))) AS s_g
           FROM (SELECT g, sum(c) AS m FROM cells GROUP BY 1))
         SELECT n_h AS n,
           CAST(nc AS DOUBLE) AS n_conc,
           CAST(nd AS DOUBLE) AS n_disc,
           CAST(nc - nd AS DOUBLE) * 2.0 /
             nullif(sqrt(CAST(CAST(n_h AS DECIMAL(38,0)) * CAST(n_h - 1 AS DECIMAL(38,0)) - s_h AS DOUBLE) *
                  CAST(CAST(n_h AS DECIMAL(38,0)) * CAST(n_h - 1 AS DECIMAL(38,0)) - s_g AS DOUBLE)), 0)
             AS tau_b
         FROM cd CROSS JOIN th CROSS JOIN tg""",
    "stats_levene" ->
      s"""WITH mu AS (
           SELECT event_type, ${ds("value")} / count(*) AS mu
           FROM events GROUP BY 1),
         z AS (SELECT e.event_type, abs(e.value - mu.mu) AS z
           FROM events e JOIN mu USING (event_type)),
         per AS (SELECT event_type, count(*) AS n,
             ${ds("z")} AS sz, ${ds("z * z")} AS szz
           FROM z GROUP BY 1),
         one AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(CAST(floor(sz * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS szt,
             CAST(sum(CAST(floor(sz * sz / n * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sp,
             CAST(sum(CAST(floor((szz - sz * sz / n) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS ssw
           FROM per)
         SELECT CAST(k AS BIGINT) AS k, n_total,
           sp - szt * szt / n_total AS ssb,
           ssw,
           ((sp - szt * szt / n_total) / nullif(CAST(k - 1 AS DOUBLE), 0)) /
             nullif(ssw / nullif(CAST(n_total - k AS DOUBLE), 0), 0) AS f_stat
         FROM one""",
    "stats_mutual_info" ->
      """WITH cells AS (
           SELECT event_type AS t, CAST(hour(ts) AS BIGINT) AS h, count(*) AS c
           FROM events GROUP BY 1, 2),
         rm AS (SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM cells GROUP BY 1),
         cm AS (SELECT h, CAST(sum(c) AS BIGINT) AS ch FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
         eh AS (SELECT CAST(sum(CAST(
             (CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) *
             -ln(CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(38,9)))
             AS DOUBLE) AS h_type_nats FROM rm CROSS JOIN tot),
         ec AS (SELECT CAST(sum(CAST(
             (CAST(ch AS DOUBLE) / CAST(n AS DOUBLE)) *
             -ln(CAST(ch AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(38,9)))
             AS DOUBLE) AS h_hour_nats FROM cm CROSS JOIN tot),
         mi AS (SELECT max(n) AS n, CAST(sum(CAST(
             (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE)) /
                (CAST(ct AS DOUBLE) * CAST(ch AS DOUBLE))) AS DECIMAL(38,9)))
             AS DOUBLE) AS mi_nats
           FROM cells JOIN rm USING (t) JOIN cm USING (h) CROSS JOIN tot)
         SELECT n, mi_nats, h_type_nats, h_hour_nats,
           mi_nats / nullif(h_type_nats, 0) AS u_type
         FROM mi CROSS JOIN eh CROSS JOIN ec""",
    "stats_gini" ->
      """WITH spend AS (
           SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(38,6))) AS x
           FROM orders GROUP BY 1),
         vc AS (SELECT x, count(*) AS c FROM spend GROUP BY 1),
         cc AS (SELECT x, c, sum(c) OVER (ORDER BY x) AS cum FROM vc),
         a AS (SELECT sum(c) AS n, sum(x * c) AS sx,
                 sum(x * (2 * c * (cum - c) + c * (c + 1))) AS srx2
               FROM cc)
         SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS DOUBLE) AS total_spend,
           CAST(floor(srx2 - sx * (n + 1)) AS DOUBLE) /
             CAST(floor(sx * n) AS DOUBLE) AS gini
         FROM a""",
    "stats_theilsen" ->
      s"""WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) - DATE '1970-01-01' AS di,
             ${ds("value")} / count(*) AS m
           FROM events GROUP BY 1, 2),
         sl AS (SELECT a.event_type, (b.m - a.m) / (b.di - a.di) AS s
           FROM daily a JOIN daily b
           ON a.event_type = b.event_type AND a.di < b.di),
         hist AS (SELECT event_type, s, count(*) AS c FROM sl GROUP BY 1, 2),
         cc AS (SELECT event_type, s, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY s) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS tot
           FROM hist)
         SELECT event_type, CAST(max(tot) AS BIGINT) AS n_pairs,
           (min(CASE WHEN cum - c < (tot + 1) // 2 AND cum >= (tot + 1) // 2 THEN s END)
            + min(CASE WHEN cum - c < tot // 2 + 1 AND cum >= tot // 2 + 1 THEN s END)) / 2
             AS slope
         FROM cc GROUP BY 1""",
    // same distinct-value rank grid; per-type rank sums as DOUBLED exact
    // integers, R^2/n terms quantized to decimal(38,6) before the
    // order-free sum, H the identical fixed IEEE chain
    "stats_kruskal" ->
      """WITH ev AS (SELECT event_type, value AS v FROM events),
         vc AS (SELECT v, count(*) AS c FROM ev GROUP BY 1),
         grid AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM vc),
         tv AS (SELECT event_type, v, count(*) AS ci FROM ev GROUP BY 1, 2),
         r AS (SELECT event_type, CAST(sum(ci) AS BIGINT) AS ni,
             sum(CAST(ci * (2 * (cum - c) + c + 1) AS DECIMAL(38,0))) AS r2
           FROM tv JOIN grid USING (v) GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             sum(CAST(c * c * c - c AS DECIMAL(38,0))) AS t3
           FROM grid),
         terms AS (SELECT n, t3,
             CAST(floor(
               (CAST(r2 - CAST(ni * (n + 1) AS DECIMAL(38,0)) AS DOUBLE) / 2.0) *
               (CAST(r2 - CAST(ni * (n + 1) AS DECIMAL(38,0)) AS DOUBLE) / 2.0) /
               CAST(ni AS DOUBLE) * 1000000.0) AS DECIMAL(38,0)) AS term
           FROM r CROSS JOIN tot),
         agg AS (SELECT n, t3, CAST(sum(term) AS DOUBLE) / 1000000.0 AS s,
             CAST(count(*) AS BIGINT) AS k
           FROM terms GROUP BY 1, 2)
         SELECT n, k, CAST(k - 1 AS BIGINT) AS dof,
           12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * s AS h,
           (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * s) /
             (1.0 - CAST(t3 AS DOUBLE) /
               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
                CAST(n AS DOUBLE))) AS h_tie_corrected
         FROM agg""",
    "stats_mannwhitney" ->
      s"""WITH vc AS (
           SELECT value AS v,
             count(*) FILTER (WHERE event_type = '$KsGroupA') AS ca,
             count(*) FILTER (WHERE event_type = '$KsGroupB') AS cb
           FROM events WHERE event_type IN ('$KsGroupA', '$KsGroupB')
           GROUP BY 1),
         cc AS (SELECT ca, cb, sum(cb) OVER (ORDER BY v) AS cumb FROM vc),
         a AS (SELECT sum(ca) AS na, sum(cb) AS nb,
                 sum(CAST(ca * (cumb - cb) AS DECIMAL(38,0))) AS u1,
                 sum(CAST(ca * cb AS DECIMAL(38,0))) AS utie,
                 sum(CAST((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)
                   AS DECIMAL(38,0))) AS t3
               FROM cc),
         d AS (SELECT CAST(na AS DOUBLE) AS dna, CAST(nb AS DOUBLE) AS dnb,
                 CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS dn,
                 CAST(u1 AS DOUBLE) + 0.5 * CAST(utie AS DOUBLE) AS u,
                 CAST(t3 AS DOUBLE) AS dt3, na, nb
               FROM a)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           u AS u_stat,
           (u - dna * dnb / 2.0) /
             sqrt((dna * dnb / 12.0) * ((dn + 1.0) - dt3 / (dn * (dn - 1.0))))
             AS z_stat
         FROM d""",
    "stats_quantile_cont" -> {
      def pick(p: Int) =
        s"""min(CASE WHEN cum - c < (($p * (tot - 1)) // 100) + 1
               AND cum >= (($p * (tot - 1)) // 100) + 1 THEN v END) AS lo$p,
           min(CASE WHEN cum - c < (($p * (tot - 1)) // 100) + 2
               AND cum >= (($p * (tot - 1)) // 100) + 2 THEN v END) AS hi$p"""
      def q(p: Int) =
        s"""CASE WHEN ($p * (n - 1)) % 100 = 0 THEN lo$p
           ELSE lo$p + CAST(($p * (n - 1)) % 100 AS DOUBLE) / 100.0 * (hi$p - lo$p)
           END AS p$p"""
      s"""WITH vc AS (
           SELECT event_type, value AS v, count(*) AS c
           FROM events GROUP BY 1, 2),
         cc AS (SELECT event_type, v, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS tot
           FROM vc),
         picks AS (SELECT event_type, max(tot) AS n,
             ${pick(25)}, ${pick(50)}, ${pick(75)}
           FROM cc GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n, ${q(25)}, ${q(50)}, ${q(75)}
         FROM picks"""
    },
    "stats_autocorr" -> {
      def d9(e: String) = s"CAST(sum(CAST($e AS DECIMAL(38,0))) AS DOUBLE)"
      s"""WITH hm AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             CAST(floor(${ds("value")} / count(*) * 65536) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         pairs AS (
           SELECT a.event_type, a.x AS x0, b.x AS x1
           FROM hm a JOIN hm b
             ON b.event_type = a.event_type AND b.hr = a.hr + 1),
         a AS (SELECT event_type, count(*) AS n_pairs,
             ${d9("x0")} AS s0, ${d9("x1")} AS s1,
             ${d9("x0 * x0")} AS s00, ${d9("x1 * x1")} AS s11,
             ${d9("x0 * x1")} AS s01
           FROM pairs GROUP BY 1)
         SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
           (CAST(n_pairs AS DOUBLE) * s01 - s0 * s1) /
             (sqrt(CAST(n_pairs AS DOUBLE) * s00 - s0 * s0) *
              sqrt(CAST(n_pairs AS DOUBLE) * s11 - s1 * s1)) AS r_lag1
         FROM a"""
    },
    "stats_psi" ->
      s"""WITH cells AS (
           SELECT event_type, CAST(floor(value / $PsiBinWidth) AS BIGINT) AS vb,
             count(*) FILTER (WHERE hour(ts) >= 6 AND hour(ts) < 18) AS cd,
             count(*) FILTER (WHERE hour(ts) < 6 OR hour(ts) >= 18) AS cn
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(sum(cd) AS BIGINT) AS nd,
                   CAST(sum(cn) AS BIGINT) AS nn, count(*) AS b
                 FROM cells GROUP BY 1),
         terms AS (SELECT cells.event_type, b,
             CAST((CAST(cd + 1 AS DOUBLE) / CAST(nd + b AS DOUBLE) -
                   CAST(cn + 1 AS DOUBLE) / CAST(nn + b AS DOUBLE)) *
               CAST(CAST(ln(CAST((cd + 1) * (nn + b) AS DOUBLE) /
                            CAST((cn + 1) * (nd + b) AS DOUBLE)) AS DECIMAL(38,9)) AS DOUBLE)
               AS DECIMAL(38,9)) AS term
           FROM cells JOIN tot USING (event_type))
         SELECT event_type, CAST(max(b) AS BIGINT) AS n_bins,
           CAST(sum(term) AS DOUBLE) AS psi
         FROM terms GROUP BY 1""",
    "stats_bootstrap" -> {
      val cases = BootThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }
        .mkString(" ")
      s"""WITH r AS (SELECT unnest(range(0, $BootReps)) AS rep),
         x AS (SELECT e.event_type, e.value, r.rep,
                 ${graft.functions.TextHash.duckHash60Of(
                   "CAST(e.event_id AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)")} AS u
               FROM events e CROSS JOIN r),
         w AS (SELECT event_type, rep, value,
                 CASE $cases ELSE $BootMaxW END AS w
               FROM x)
         SELECT event_type, CAST(rep AS BIGINT) AS rep,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(CAST(value * w AS DECIMAL(38,6))) AS DOUBLE) /
             CAST(sum(w) AS DOUBLE) AS mean_val
         FROM w GROUP BY 1, 2"""
    },
    "stats_chi2" ->
      """WITH ev AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS h FROM events),
         cells AS (SELECT event_type, h, count(*) AS o FROM ev GROUP BY 1, 2),
         rws AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
         cls AS (SELECT h, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   count(DISTINCT event_type) AS nr, count(DISTINCT h) AS nc
                 FROM cells),
         grid AS (SELECT rws.event_type, cls.h, rt, ct, coalesce(o, 0) AS o
                  FROM rws CROSS JOIN cls
                  LEFT JOIN cells ON cells.event_type = rws.event_type AND cells.h = cls.h),
         terms AS (SELECT CAST(
                     (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) *
                     (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) /
                     (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                     AS DECIMAL(38,9)) AS cell, n, nr, nc
                   FROM grid CROSS JOIN tot)
         SELECT CAST(sum(cell) AS DOUBLE) AS chi2,
           CAST((max(nr) - 1) * (max(nc) - 1) AS BIGINT) AS dof,
           max(n) AS n
         FROM terms""",
    // the per-type decimal moment table crossed over type pairs; d and g
    // are the identical fixed-order IEEE chain
    "stats_cohens_d" -> {
      val sx  = DSUM.format("value")
      val sxx = DSUM.format("value * value")
      s"""WITH per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             $sx AS sx, $sxx AS sxx
           FROM events GROUP BY 1)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           a.sx / CAST(a.n AS DOUBLE) AS mean_a,
           b.sx / CAST(b.n AS DOUBLE) AS mean_b,
           (a.sx / CAST(a.n AS DOUBLE) - b.sx / CAST(b.n AS DOUBLE)) /
             sqrt(((a.sxx - a.sx * a.sx / CAST(a.n AS DOUBLE)) +
                   (b.sxx - b.sx * b.sx / CAST(b.n AS DOUBLE))) /
                  (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) - 2.0)) AS cohens_d,
           ((a.sx / CAST(a.n AS DOUBLE) - b.sx / CAST(b.n AS DOUBLE)) /
             sqrt(((a.sxx - a.sx * a.sx / CAST(a.n AS DOUBLE)) +
                   (b.sxx - b.sx * b.sx / CAST(b.n AS DOUBLE))) /
                  (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) - 2.0))) *
             (1.0 - 3.0 / (4.0 * (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE)) - 9.0))
             AS hedges_g
         FROM per a JOIN per b ON a.event_type < b.event_type"""
    },
    // same quantized cell grid as stats_chi2; V and the Bergsma
    // bias-corrected V are fixed-order IEEE arithmetic on the one
    // decimal-summed chi2 double — identical rounding in both engines
    "stats_cramers_v" ->
      """WITH ev AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS h FROM events),
         cells AS (SELECT event_type, h, count(*) AS o FROM ev GROUP BY 1, 2),
         rws AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
         cls AS (SELECT h, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   count(DISTINCT event_type) AS nr, count(DISTINCT h) AS nc
                 FROM cells),
         grid AS (SELECT rws.event_type, cls.h, rt, ct, coalesce(o, 0) AS o
                  FROM rws CROSS JOIN cls
                  LEFT JOIN cells ON cells.event_type = rws.event_type AND cells.h = cls.h),
         terms AS (SELECT CAST(
                     (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) *
                     (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) /
                     (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                     AS DECIMAL(38,9)) AS cell, n, nr, nc
                   FROM grid CROSS JOIN tot),
         agg AS (SELECT CAST(sum(cell) AS DOUBLE) AS chi2,
                   max(n) AS n, CAST(max(nr) AS BIGINT) AS r, CAST(max(nc) AS BIGINT) AS c
                 FROM terms)
         SELECT chi2, n, r, c,
           sqrt((chi2 / CAST(n AS DOUBLE)) /
             least(CAST(r AS DOUBLE) - 1.0, CAST(c AS DOUBLE) - 1.0)) AS v,
           sqrt(greatest(0.0, chi2 / CAST(n AS DOUBLE) -
               (CAST(r AS DOUBLE) - 1.0) * (CAST(c AS DOUBLE) - 1.0) / (CAST(n AS DOUBLE) - 1.0)) /
             (least(
               CAST(r AS DOUBLE) - (CAST(r AS DOUBLE) - 1.0) * (CAST(r AS DOUBLE) - 1.0) / (CAST(n AS DOUBLE) - 1.0),
               CAST(c AS DOUBLE) - (CAST(c AS DOUBLE) - 1.0) * (CAST(c AS DOUBLE) - 1.0) / (CAST(n AS DOUBLE) - 1.0)) - 1.0)) AS v_bc
         FROM agg""",
    "stats_welch" ->
      s"""WITH per AS (
           SELECT event_type, count(*) AS n,
             ${ds("value")} AS sx, ${ds("value * value")} AS sxx
           FROM events WHERE event_type IN ('$KsGroupA', '$KsGroupB') GROUP BY 1),
         one AS (
           SELECT
             max(CASE WHEN event_type = '$KsGroupA' THEN n END) AS na,
             max(CASE WHEN event_type = '$KsGroupA' THEN sx END) AS sxa,
             max(CASE WHEN event_type = '$KsGroupA' THEN sxx END) AS sxxa,
             max(CASE WHEN event_type = '$KsGroupB' THEN n END) AS nb,
             max(CASE WHEN event_type = '$KsGroupB' THEN sx END) AS sxb,
             max(CASE WHEN event_type = '$KsGroupB' THEN sxx END) AS sxxb
           FROM per)
         SELECT na AS n_a, nb AS n_b,
           sxa / na AS mean_a, sxb / nb AS mean_b,
           (sxa / na - sxb / nb) /
             sqrt(((sxxa - sxa * sxa / na) / (na - 1.0)) / na +
                  ((sxxb - sxb * sxb / nb) / (nb - 1.0)) / nb) AS t_stat,
           (((sxxa - sxa * sxa / na) / (na - 1.0)) / na +
            ((sxxb - sxb * sxb / nb) / (nb - 1.0)) / nb) *
           (((sxxa - sxa * sxa / na) / (na - 1.0)) / na +
            ((sxxb - sxb * sxb / nb) / (nb - 1.0)) / nb) /
           ((((sxxa - sxa * sxa / na) / (na - 1.0)) / na) *
            (((sxxa - sxa * sxa / na) / (na - 1.0)) / na) / (na - 1.0) +
            (((sxxb - sxb * sxb / nb) / (nb - 1.0)) / nb) *
            (((sxxb - sxb * sxb / nb) / (nb - 1.0)) / nb) / (nb - 1.0)) AS df_welch
         FROM one""",
    "stats_mad" ->
      s"""WITH vc AS (
           SELECT event_type, CAST(floor(value * $RobustGrid) AS BIGINT) AS g, count(*) AS c
           FROM events GROUP BY 1, 2),
         cum AS (
           SELECT event_type, g, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY g) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot
           FROM vc),
         med AS (
           SELECT event_type,
             CAST(min(CASE WHEN cum - c < (50 * tot + 99) // 100
                            AND cum >= (50 * tot + 99) // 100 THEN g END) AS DOUBLE)
               / $RobustGrid AS med
           FROM cum GROUP BY 1),
         dev AS (
           SELECT e.event_type, abs(e.value - m.med) AS value
           FROM events e JOIN med m ON e.event_type = m.event_type),
         vc2 AS (
           SELECT event_type, CAST(floor(value * $RobustGrid) AS BIGINT) AS g, count(*) AS c
           FROM dev GROUP BY 1, 2),
         cum2 AS (
           SELECT event_type, g, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY g) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot
           FROM vc2),
         mad AS (
           SELECT event_type,
             CAST(min(CASE WHEN cum - c < (50 * tot + 99) // 100
                            AND cum >= (50 * tot + 99) // 100 THEN g END) AS DOUBLE)
               / $RobustGrid AS mad
           FROM cum2 GROUP BY 1)
         SELECT med.event_type, med.med, mad.mad
         FROM med JOIN mad ON med.event_type = mad.event_type""",
    "stats_ks" ->
      s"""WITH vc AS (
           SELECT CAST(floor(value * $RobustGrid) AS BIGINT) AS g,
             count(*) FILTER (WHERE event_type = '$KsGroupA') AS ca,
             count(*) FILTER (WHERE event_type = '$KsGroupB') AS cb
           FROM events WHERE event_type IN ('$KsGroupA', '$KsGroupB') GROUP BY 1),
         cum AS (
           SELECT g,
             sum(ca) OVER (ORDER BY g) AS cuma,
             sum(cb) OVER (ORDER BY g) AS cumb,
             sum(ca) OVER () AS tota,
             sum(cb) OVER () AS totb
           FROM vc),
         dd AS (
           SELECT g,
             abs(CAST(cuma AS DOUBLE) / CAST(tota AS DOUBLE) -
                 CAST(cumb AS DOUBLE) / CAST(totb AS DOUBLE)) AS d
           FROM cum)
         SELECT d AS ks_d, CAST(g AS DOUBLE) / $RobustGrid AS at_value
         FROM dd ORDER BY d DESC, g ASC LIMIT 1""",
    "hist_equidepth" ->
      s"""WITH vc AS (SELECT l_returnflag, l_extendedprice AS v, count(*) AS c
                      FROM lineitem GROUP BY 1, 2),
         cum AS (SELECT l_returnflag, v, c,
                   sum(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
                   sum(c) OVER (PARTITION BY l_returnflag) AS tot
                 FROM vc),
         x AS (SELECT l_returnflag, v,
                 unnest(generate_series(CAST(((cum - c) * $EqBuckets) // tot AS BIGINT),
                                        CAST(((cum - 1) * $EqBuckets) // tot AS BIGINT))) AS bucket
               FROM cum)
         SELECT l_returnflag, CAST(bucket AS BIGINT) AS bucket,
           min(v) AS lo, max(v) AS hi
         FROM x GROUP BY 1, 2""",
    "stats_moments" ->
      s"""WITH a AS (SELECT event_type, count(*) AS n,
           ${ds("value")} AS sx, ${ds("value * value")} AS sxx,
           min(value) AS min_value, max(value) AS max_value
           FROM events GROUP BY 1)
         SELECT event_type, n, sx / n AS mean_value,
           (sxx - sx * sx / n) / (n - 1.0) AS var_value,
           sqrt((sxx - sx * sx / n) / (n - 1.0)) AS std_value,
           min_value, max_value
         FROM a""",
    "stats_corr" ->
      s"""WITH a AS (SELECT event_type, count(*) AS n,
           ${ds("value")} AS sx, ${ds("CAST(hour(ts) AS DOUBLE)")} AS sy,
           ${ds("value * CAST(hour(ts) AS DOUBLE)")} AS sxy,
           ${ds("value * value")} AS sxx,
           ${ds("CAST(hour(ts) AS DOUBLE) * CAST(hour(ts) AS DOUBLE)")} AS syy
           FROM events GROUP BY 1)
         SELECT event_type, n,
           (n * sxy - sx * sy) /
             (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_value_hour
         FROM a""",
    // argmax over the bucket-count grid with the same (count desc,
    // bucket asc) tie-break the heap exec applies
    "stats_mode" ->
      """WITH grid AS (
           SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket, count(*) AS n
           FROM events GROUP BY 1, 2),
         rk AS (
           SELECT event_type, bucket, n,
             row_number() OVER (PARTITION BY event_type ORDER BY n DESC, bucket ASC) AS rn
           FROM grid)
         SELECT event_type, bucket AS mode_bucket, n AS n_mode
         FROM rk WHERE rn = 1""",
    // same cumulative-histogram rank selection as stats_percentiles,
    // with the [p5, p95] band joined back for the clamp
    "stats_winsorize" ->
      s"""WITH vc AS (
           SELECT event_type, value, count(*) AS c FROM events GROUP BY 1, 2),
         cum AS (
           SELECT event_type, value, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot
           FROM vc),
         band AS (
           SELECT event_type,
             min(CASE WHEN cum - c < ($WinsorPct * tot + 99) // 100
                       AND cum >= ($WinsorPct * tot + 99) // 100
                      THEN value END) AS lo,
             min(CASE WHEN cum - c < (${100 - WinsorPct} * tot + 99) // 100
                       AND cum >= (${100 - WinsorPct} * tot + 99) // 100
                      THEN value END) AS hi
           FROM cum GROUP BY 1)
         SELECT event_id, e.event_type, value,
           least(greatest(value, lo), hi) AS winsorized,
           (value < lo OR value > hi) AS clipped
         FROM events e JOIN band b ON b.event_type = e.event_type""",
    // same closed-form surviving-multiplicity arithmetic over the
    // cumulative value histogram; integer ranks, one final division
    "stats_trimmed" ->
      s"""WITH vc AS (
           SELECT event_type, value, count(*) AS c FROM events GROUP BY 1, 2),
         cum AS (
           SELECT event_type, value, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot
           FROM vc),
         inc AS (
           SELECT event_type, value, tot,
             ($TrimPct * tot) // 100 AS k,
             greatest(0, least(cum, tot - ($TrimPct * tot) // 100) -
                         greatest(cum - c, ($TrimPct * tot) // 100)) AS inc
           FROM cum)
         SELECT event_type,
           CAST(max(tot) AS BIGINT) AS n,
           CAST(max(k) AS BIGINT) AS k_trim,
           CAST(sum(inc) AS BIGINT) AS n_kept,
           ${ds("inc * value")} / (max(tot) - 2 * max(k)) AS trimmed_mean
         FROM inc GROUP BY 1""",
    // average ranks from the same marginal-histogram construction as the
    // Spark side (cum − c + (c+1)/2), Pearson over joint-count-weighted
    // rank products on the shared decimal grid
    "stats_spearman" ->
      s"""WITH ev AS (SELECT event_type, value, hour(ts) AS hh FROM events),
         joint AS (SELECT event_type, value, hh, count(*) AS c FROM ev GROUP BY 1, 2, 3),
         xm AS (SELECT event_type, value, count(*) AS cx FROM ev GROUP BY 1, 2),
         rx AS (SELECT event_type, value,
                  CAST(sum(cx) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT)
                    - cx + (cx + 1) / 2.0 AS rx
                FROM xm),
         ym AS (SELECT event_type, hh, count(*) AS cy FROM ev GROUP BY 1, 2),
         ry AS (SELECT event_type, hh,
                  CAST(sum(cy) OVER (PARTITION BY event_type ORDER BY hh) AS BIGINT)
                    - cy + (cy + 1) / 2.0 AS ry
                FROM ym),
         j AS (SELECT joint.event_type, joint.c, rx.rx, ry.ry
               FROM joint
               JOIN rx ON rx.event_type = joint.event_type AND rx.value = joint.value
               JOIN ry ON ry.event_type = joint.event_type AND ry.hh = joint.hh),
         a AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
                 CAST(CAST(sum(CAST(c * rx AS DECIMAL(38,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS sx,
                 CAST(CAST(sum(CAST(c * ry AS DECIMAL(38,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS sy,
                 CAST(CAST(sum(CAST(c * rx * ry AS DECIMAL(38,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS sxy,
                 CAST(CAST(sum(CAST(c * rx * rx AS DECIMAL(38,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS sxx,
                 CAST(CAST(sum(CAST(c * ry * ry AS DECIMAL(38,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS syy
               FROM j GROUP BY 1)
         SELECT event_type, n,
           (n * sxy - sx * sy) /
             nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0) AS spearman_rho
         FROM a""",
    "stats_minmax_scale" ->
      """SELECT event_id, event_type, value,
         (value - min(value) OVER (PARTITION BY event_type)) /
           (max(value) OVER (PARTITION BY event_type) -
            min(value) OVER (PARTITION BY event_type)) AS scaled
         FROM events""",
    "stats_percentiles" ->
      """WITH vc AS (
           SELECT l_returnflag, l_extendedprice, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         cum AS (
           SELECT l_returnflag, l_extendedprice, c,
             CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
           FROM vc),
         p50 AS (
           SELECT l_returnflag, l_extendedprice AS p50_price FROM cum
           WHERE cum - c < (50 * tot + 99) // 100 AND cum >= (50 * tot + 99) // 100),
         p95 AS (
           SELECT l_returnflag, l_extendedprice AS p95_price FROM cum
           WHERE cum - c < (95 * tot + 99) // 100 AND cum >= (95 * tot + 99) // 100),
         nd AS (
           SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders
           FROM lineitem GROUP BY 1)
         SELECT nd.l_returnflag, n_orders, p50_price, p95_price
         FROM nd JOIN p50 USING (l_returnflag) JOIN p95 USING (l_returnflag)""",
    "stats_robust_scale" ->
      s"""WITH vc AS (
           SELECT event_type, CAST(floor(value * $RobustGrid) AS BIGINT) AS g, count(*) AS c
           FROM events GROUP BY 1, 2),
         cum AS (
           SELECT event_type, g, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY g) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot
           FROM vc),
         q1 AS (SELECT event_type, CAST(g AS DOUBLE) / $RobustGrid AS q1 FROM cum
                WHERE cum - c < (25 * tot + 99) // 100 AND cum >= (25 * tot + 99) // 100),
         med AS (SELECT event_type, CAST(g AS DOUBLE) / $RobustGrid AS med FROM cum
                WHERE cum - c < (50 * tot + 99) // 100 AND cum >= (50 * tot + 99) // 100),
         q3 AS (SELECT event_type, CAST(g AS DOUBLE) / $RobustGrid AS q3 FROM cum
                WHERE cum - c < (75 * tot + 99) // 100 AND cum >= (75 * tot + 99) // 100)
         SELECT event_id, events.event_type, value, (value - med) / (q3 - q1) AS robust
         FROM events
         JOIN q1 ON events.event_type = q1.event_type
         JOIN med ON events.event_type = med.event_type
         JOIN q3 ON events.event_type = q3.event_type""",
    "stats_anomaly" ->
      s"""WITH m AS (
           SELECT event_type, count(*) AS n, ${ds("value")} AS sx, ${ds("value * value")} AS sxx
           FROM events GROUP BY 1),
         mm AS (
           SELECT event_type, sx / n AS mean_value,
             sqrt((sxx - sx * sx / n) / (n - 1.0)) AS std_value
           FROM m),
         z AS (
           SELECT events.event_type, abs((value - mean_value) / std_value) AS az
           FROM events JOIN mm ON events.event_type = mm.event_type)
         SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN az > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           max(az) AS max_abs_z
         FROM z GROUP BY 1""",
    "stats_ols" ->
      s"""WITH a AS (SELECT event_type, count(*) AS n,
           ${ds("CAST(hour(ts) AS DOUBLE)")} AS sx, ${ds("value")} AS sy,
           ${ds("CAST(hour(ts) AS DOUBLE) * value")} AS sxy,
           ${ds("CAST(hour(ts) AS DOUBLE) * CAST(hour(ts) AS DOUBLE)")} AS sxx,
           ${ds("value * value")} AS syy
           FROM events GROUP BY 1)
         SELECT event_type, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept,
           (n * sxy - sx * sy) * (n * sxy - sx * sy) /
             ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
         FROM a"""
  )
}
