package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-stream analytics over the `events` table: time bucketing,
  * sessionization, as-of matching, JSON extraction, pivot-style
  * conditional aggregation.
  *
  * All time arithmetic is done in epoch microseconds (long) — exact, and
  * identical on both sides of the DuckDB oracle regardless of timestamp
  * display precision.
  */
object Events {
  type Q = (SparkSession, String) => DataFrame

  /** FLOOR-division hour bucket of `ts`, matching the DuckDB oracles'
    * `epoch_us(ts) // 3600000000` (`//` floors). Spark's `div` truncates
    * toward zero, which agrees only for post-epoch timestamps — a
    * pre-1970 ts would silently land one bucket high (r8 advice).
    * `pmod` is non-negative for a positive divisor, so
    * `(a - pmod(a, b)) div b` is exact integer floor division at any
    * epoch sign — no double rounding hazard near bucket boundaries.
    */
  private[ops] val hourFloor =
    expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) div 3600000000")

  /** Tumbling-window aggregation: events per (hour, type) with exact sums. */
  def hourly(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("total_value"))

  /** Sliding (hopping) windows: 1-hour windows every 15 minutes — the
    * overlapping-window twin of [[hourly]], via Spark's native `window()`
    * time TVF (each event fans out to the 4 windows covering it; the
    * aggregation is still one partial-aggregated shuffle keyed on
    * (window, type)). Epoch-aligned window boundaries are mirrored in
    * the oracle by integer floor arithmetic on epoch microseconds — no
    * timezone or alignment ambiguity.
    */
  def slidingHourly(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(
        window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("total_value"))
      .select(
        unix_micros(col("w.start")).as("win_start_us"),
        unix_micros(col("w.end")).as("win_end_us"),
        col("event_type"), col("n"), col("total_value"))

  /** Sessionization: a >30-minute silence starts a new session.
    * Classic gaps-and-islands — lag → new-session flag → running sum as
    * session id → per-session rollup. One shuffle on user_id; every window
    * shares the same partitioning so the exchange is reused.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    sessionizeOf(Tables.events(s, dir))

  def sessionizeOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"))
  }

  /** As-of join: each purchase matched to the user's most recent click at
    * or before it. Expressed as carry-forward-last over a union'd timeline
    * (one shuffle, no join) — the scalable shape of an as-of join when the
    * probe and build sides share a partitioning key.
    */
  def asofClickPurchase(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .events(s, dir)
      .withColumn(
        "last_click_us",
        last(when(col("event_type") === "click", unix_micros(col("ts"))), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"),
        col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("last_click_us"))
  }

  /** Analytic window functions: lag/lead gap analysis per user. */
  def gaps(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables
      .events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(
        col("event_id"),
        col("user_id"),
        (col("ts_us") - lag("ts_us", 1).over(byUser)).as("gap_us"),
        (lead("ts_us", 1).over(byUser) - col("ts_us")).as("next_gap_us"))
  }

  /** JSON extraction from the `props` column. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))

  /** Top-5 events per user by value — the window formulation. Groups here
    * are large (tens of thousands of events per user at scale), which is
    * where the sort-free twin below pulls away.
    */
  def topkValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
    Tables
      .events(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select("user_id", "event_id", "value", "rn")
  }

  /** Same query through [[graft.plans.GroupedTopK]] (bounded heaps, no
    * per-partition sort); shares the oracle above — must agree exactly.
    */
  def topkValueFast(s: SparkSession, dir: String): DataFrame =
    graft.plans.GroupedTopK
      .topK(
        Tables.events(s, dir).select("user_id", "event_id", "value"),
        keys = Seq("user_id"),
        order = Seq("value" -> false, "event_id" -> true),
        k = 5)
      .select("user_id", "event_id", "value", "rn")

  /** First/last event type per user via min_by/max_by over a totally
    * ordered key (ts, event_id) — the argmin/argmax aggregate family.
    */
  def firstLast(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      // zero-padded (ts_us, event_id) composite: total by construction,
      // and a scalar so DuckDB's arg_min/arg_max accept it
      .withColumn("ord",
        concat(
          lpad(unix_micros(col("ts")).cast("string"), 20, "0"), lit(":"),
          // 20-wide: lpad TRUNCATES over-width input, which would invert
          // the tiebreak for ids past 1e12 — plausible at design scale
          lpad(col("event_id").cast("string"), 20, "0")))
      .groupBy("user_id")
      .agg(
        min_by(col("event_type"), col("ord")).as("first_type"),
        max_by(col("event_type"), col("ord")).as("last_type"),
        count(lit(1)).as("n"))

  /** Retention: users active in week 1 who return in week 2 — the
    * two-period cohort intersection, computed as one pass (per-user
    * activity flags, then one summary row) instead of a self-join.
    */
  def retention(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy("user_id")
      .agg(
        max(when(col("ts") < lit("2024-01-08").cast("timestamp"), 1L).otherwise(0L)).as("w1"),
        max(when(col("ts") >= lit("2024-01-08").cast("timestamp") &&
          col("ts") < lit("2024-01-15").cast("timestamp"), 1L).otherwise(0L)).as("w2"))
      .agg(
        sum("w1").as("n_week1_users"),
        sum("w2").as("n_week2_users"),
        sum(col("w1") * col("w2")).as("n_retained"))

  /** Pivot-style conditional aggregation: event-type counts as columns.
    * `count(when(...))` compiles to the same conditional-agg plan a pivot
    * does, with explicit deterministic column names.
    */
  def typePivot(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy("user_id")
      .agg(
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        count(when(col("event_type") === "error", 1)).as("n_error"))

  /** Ordered funnel: users who did view → click → purchase with strictly
    * increasing timestamps. Each stage is one filtered aggregation joined
    * to the previous stage's per-user frontier (min qualifying time) —
    * per-stage shuffles on user_id, no window over the whole stream, and
    * the stage frames shrink monotonically (the 100 TB shape: the big
    * table is scanned once per stage with the filter pushed to the scan,
    * the frontier table is the small join side).
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("tv"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") > col("tv"))
      .groupBy("user_id").agg(min(col("us")).as("tc"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") > col("tc"))
      .groupBy("user_id").agg(min(col("us")).as("tp"))
    def stage(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
    stage(v, "1_view").unionAll(stage(c, "2_click")).unionAll(stage(p, "3_purchase"))
  }

  /** Trailing-baseline deviation over the aggregated hourly series — a
    * window OVER an aggregate (two-level plan: groupBy → window on the
    * much smaller series), the standard anomaly-screen shape. The
    * deviation is count minus the decimal-exact trailing-24-bucket mean —
    * no stddev, whose accumulation order diverges across engines.
    */
  def hourlyDeviation(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-24, -1)
    Tables
      .events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("trailing_mean",
        sum(col("n").cast("decimal(38,6)")).over(w).cast("double") /
          count(col("n")).over(w))
      .withColumn("deviation", col("n") - col("trailing_mean"))
      .filter(col("trailing_mean").isNotNull)
      .select("hour", "event_type", "n", "trailing_mean", "deviation")
  }

  /** CUSUM changepoint localization per event type: the cumulative sum of
    * hourly-mean deviations from the series mean, S_i = Σ_{j≤i}(x̄_j − μ),
    * peaks in magnitude at the hour where a level shift occurs — the
    * classic offline changepoint estimate, the drift-LOCALIZATION
    * companion to [[graft.ops.Stats.ksTest]] (which only detects that two
    * windows differ). Emits, per type, the argmax hour and the S extrema.
    *
    * Scale/parity shape: everything past the hourly aggregation operates
    * on the per-(type, hour) series — rows bounded by calendar hours ×
    * types, never event volume — and all three windows (series mean,
    * running sum, argmax rank) share one partitioning on event_type.
    * Hourly means and deviations quantize onto the decimal grid before
    * every sum (order-free-sum rule); the argmax ranks on |S| with an
    * hour tiebreak, so the changepoint is bit-deterministic.
    */
  def cusum(s: SparkSession, dir: String): DataFrame =
    cusumOf(Tables.events(s, dir))

  private[graft] def cusumOf(events: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("event_type")
    val wCum = Window.partitionBy("event_type").orderBy("hour")
    val wRank = Window.partitionBy("event_type")
      .orderBy(abs(col("s")).desc, col("hour").asc)
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(col("value").cast("decimal(38,6)")).as("sv"), count(lit(1)).as("c"))
      .select(col("event_type"), col("hour"),
        (col("sv").cast("double") / col("c").cast("double")).as("x"))
      .withColumn("mu",
        sum(col("x").cast("decimal(38,9)")).over(wAll).cast("double") /
          count(lit(1)).over(wAll).cast("double"))
      .withColumn("s", sum((col("x") - col("mu")).cast("decimal(38,9)")).over(wCum))
      .withColumn("rn", row_number().over(wRank))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_hours"),
        max(when(col("rn") === 1, col("hour"))).as("cp_hour"),
        max(when(col("rn") === 1, col("s").cast("double"))).as("s_at_cp"),
        max(col("s").cast("double")).as("s_max"),
        min(col("s").cast("double")).as("s_min"))
  }

  /** Hour-of-day seasonality strength per event type: the ANOVA
    * explained-variance ratio η² = SS_between/SS_total over the 24
    * hour-of-day cells, plus the peak cell — "does this metric have a
    * diurnal profile of ANY shape, and where does it peak". Complements
    * [[graft.ops.Stats.corrValueHour]], which only sees LINEAR
    * hour trends (a lunch-hour hump correlates near zero but scores a
    * high η²).
    *
    * Determinism: the per-cell quotients sh²/c are full-mantissa doubles
    * at ~1e5 magnitude, where a fixed-scale decimal quantization is
    * UNSAFE (the 1e-9 rounding boundary falls inside the double's
    * shortest-string/binary gap ~1.5% of the time, and Spark's
    * toString-based cast and DuckDB's binary-exact cast then round
    * apart — observed live at sf0.01). So the 24 cell terms are summed
    * by an ORDER-FIXED fold instead: both engines add the identical
    * doubles in identical h-ascending order (sort_array + aggregate /
    * list ORDER BY + list_reduce — the simhash fold idiom), which is
    * bit-equal with no quantization anywhere. η² and the cell means are
    * single IEEE divisions; the peak argmax orders by (mean desc, hour
    * asc). One aggregation to the bounded (type, hour) grid, one to
    * types, one 24-row window.
    */
  def seasonality(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("h"))
      .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("sh"),
        count(lit(1)).as("c"))
    val tot = Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        sum(col("value").cast("decimal(38,6)")).cast("double").as("sx"),
        sum((col("value") * col("value")).cast("decimal(38,6)")).cast("double").as("sxx"),
        count(lit(1)).as("n"))
    val wPeak = Window.partitionBy("event_type")
      .orderBy(desc("m"), asc("h"))
    cells
      .withColumn("m", col("sh") / col("c").cast("double"))
      .withColumn("t", col("sh") * col("sh") / col("c").cast("double"))
      .withColumn("rn", row_number().over(wPeak))
      .groupBy("event_type")
      .agg(
        collect_list(struct(col("h"), col("t"))).as("cells"),
        max(when(col("rn") === 1, col("h"))).as("peak_hour"),
        max(when(col("rn") === 1, col("m"))).as("peak_mean"))
      .withColumn("bsum",
        aggregate(sort_array(col("cells")), lit(0.0), (acc, x) => acc + x.getField("t")))
      // tot: one row per event type — same sf1-sweep broadcast pin as
      // changepointOf's total join
      .join(broadcast(tot), "event_type")
      .select(
        col("event_type"), col("n"),
        ((col("bsum") - col("sx") * col("sx") / col("n").cast("double")) /
          (col("sxx") - col("sx") * col("sx") / col("n").cast("double"))).as("eta2"),
        col("peak_hour"), col("peak_mean"))
  }

  /** Per-column ingest profile of the event log — the df.describe()-style
    * audit every pipeline runs on arrival, as one deterministic query:
    * row count, nulls, exact distinct count per column, and numeric
    * min/max (null for string columns — engines format doubles as
    * strings differently, so stringly min/max is a parity trap this
    * schema deliberately avoids; timestamps are profiled by null/distinct
    * only for the same reason).
    *
    * Scale shape: ONE scan — all per-column metrics are parallel
    * aggregates of a single Aggregate node (count_distinct expands to
    * one expand+partial per column, Spark's standard multi-distinct
    * plan), and the stack() unpivot runs on the one-row result.
    */
  def profile(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cols = Seq("event_id", "user_id", "value", "ts", "event_type", "props")
    val numeric = Set("event_id", "user_id", "value")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c")) ++
        (if (numeric(c))
          Seq(min(col(c)).cast("double").as(s"mn_$c"),
            max(col(c)).cast("double").as(s"mx_$c"))
        else Nil)
    }
    val stacked = cols.map { c =>
      val mn = if (numeric(c)) s"mn_$c" else "CAST(NULL AS DOUBLE)"
      val mx = if (numeric(c)) s"mx_$c" else "CAST(NULL AS DOUBLE)"
      s"'$c', n - nn_$c, nd_$c, $mn, $mx"
    }.mkString(", ")
    ev.agg(count(lit(1)).as("n"), aggs: _*)
      .selectExpr("n",
        s"stack(${cols.length}, $stacked) AS (column_name, n_null, n_distinct, min_v, max_v)")
      .select(col("column_name"), col("n"), col("n_null"), col("n_distinct"),
        col("min_v"), col("max_v"))
  }

  /** Unpivot (wide → long) via the `stack` generator — the inverse of
    * [[typePivot]], closing the reshape pair. A generator in a projection:
    * no shuffle beyond the pivot's own aggregation.
    */
  def typeUnpivot(s: SparkSession, dir: String): DataFrame =
    typePivot(s, dir).selectExpr(
      "user_id",
      "stack(5, 'click', n_click, 'view', n_view, 'purchase', n_purchase, " +
        "'signup', n_signup, 'error', n_error) AS (metric, n)")

  /** Dense hourly resample: the full hour spine from first to last event
    * with zero-filled counts — the gap-filling half of time-series prep
    * ([[gaps]] only measures silences; this materializes them). The spine
    * derives from a 1-row min/max aggregate exploded through `sequence`,
    * so it is always tiny (#hours) regardless of the event volume; the
    * left join against the hourly rollup broadcasts at any scale.
    */
  def fillHours(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables
      .events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val spine = Tables
      .events(s, dir)
      .agg(
        date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    spine
      .join(hourly, Seq("hour"), "left")
      .select(
        col("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        (coalesce(col("n"), lit(0L)) === 0).as("is_gap"))
  }

  /** Sessionization through Spark's NATIVE `session_window` aggregation —
    * the same 30-minute-gap semantics as [[sessionize]]'s hand-rolled
    * gaps-and-islands, expressed as a single groupBy. Boundary
    * semantics: a session spans `[first_ts, last_ts + gap)`, so an event
    * exactly `gap` after its predecessor opens a NEW session (the oracle
    * flags `>=`, where [[sessionize]] uses `>`).
    *
    * Scale shape: one shuffle on `user_id`; Spark merges overlapping
    * windows per key with a sort-based in-partition pass (no driver
    * state, no low-cardinality window).
    */
  def sessionNative(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("total_value"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"),
        col("total_value"))

  /** Session windows with a DYNAMIC, per-event gap — purchases close a
    * session after 10 minutes of silence, other activity keeps it open
    * for 30 (Spark's `session_window` accepts a gap EXPRESSION, merging
    * overlapping per-event windows `[ts, ts+gap(event))` per key). The
    * oracle derives the same semantics from first principles: a session
    * end is the running max of `ts + gap` over earlier events, and a new
    * session starts when an event's ts reaches it — expressible as one
    * more window function over the gaps-and-islands skeleton, so the
    * native operator's merge logic is pinned against an independent
    * formulation, not against itself.
    */
  def sessionDynamicGap(s: SparkSession, dir: String): DataFrame = {
    // make_interval, not INTERVAL literals: session_window's dynamic gap
    // requires CalendarIntervalType, and ANSI interval literals parse to
    // DayTimeIntervalType
    val gap = when(col("event_type") === "purchase", expr("make_interval(0,0,0,0,0,10,0)"))
      .otherwise(expr("make_interval(0,0,0,0,0,30,0)"))
    Tables
      .events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
  }

  /** SCD2 (slowly-changing-dimension) interval collapse: the events table
    * read as a change log — consecutive runs of the same `event_type` per
    * user collapse into validity intervals `[valid_from, valid_to)`, with
    * `valid_to` null on each user's current (open) version. This is how a
    * dimension snapshot is built from a CDC stream.
    *
    * Scale shape: every window and the run-collapse aggregation cluster
    * by `user_id` (high cardinality), so Catalyst plans ONE exchange and
    * reuses it — the `(user_id, version)` groupBy is satisfied by the
    * existing `user_id` hash partitioning (partitioning by a subset of
    * the grouping keys co-locates every group).
    */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val byUser    = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val byVersion = Window.partitionBy("user_id").orderBy("version")
    Tables
      .events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .withColumn(
        "changed",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum("changed").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "version")
      .agg(
        max("event_type").as("event_type"), // constant within a run
        min("ts_us").as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead("valid_from", 1).over(byVersion))
      .select("user_id", "version", "event_type", "valid_from", "valid_to", "n_events")
  }

  /** Data-contract expectations audit — the declarative ingest gate
    * (Great-Expectations-style): a battery of named rules evaluated in
    * ONE scan via conditional counts, emitting per-rule
    * checked/failed/fail-fraction rows. A pipeline promotes the batch
    * only if every `n_failed` is 0 (the write-audit-publish gate); the
    * audit result is itself a table, so contract drift is queryable
    * history. Adding a rule is adding one aggregate column — the scan
    * count never changes.
    */
  def expectations(s: SparkSession, dir: String): DataFrame =
    expectationsOf(Tables.events(s, dir))

  def expectationsOf(ev: DataFrame): DataFrame = {
    // rule name -> violation predicate (true = row FAILS the contract)
    val rules: Seq[(String, Column)] = Seq(
      "event_id_not_null"  -> col("event_id").isNull,
      "event_id_unique"    -> lit(false), // checked separately below (needs a group)
      "type_in_vocabulary" -> !col("event_type").isin("click", "view", "purchase", "error", "signup"),
      "value_non_negative" -> (col("value").isNull || col("value") < 0),
      "value_below_cap"    -> (col("value") > 10000.0),
      "ts_in_window"       -> (col("ts").isNull ||
        col("ts") < lit("2024-01-01").cast("timestamp") ||
        col("ts") >= lit("2025-01-01").cast("timestamp")),
      "user_id_in_range"   -> (col("user_id").isNull || col("user_id") < 0),
      "props_json_has_k"   -> get_json_object(col("props"), "$.k").isNull)
    val scanAudit = ev
      .agg(
        count(lit(1)).as("n_checked"),
        rules.map { case (name, bad) =>
          count(when(bad, 1)).as(s"f_$name")
        }: _*)
      .selectExpr(
        s"""stack(${rules.size}, ${rules.map { case (n, _) =>
          s"'$n', n_checked, f_$n"
        }.mkString(", ")}) AS (rule, n_checked, n_failed)""")
      .filter(col("rule") =!= "event_id_unique")
    // uniqueness needs a grouped pass: failed = rows carrying a duplicated id
    val dupAudit = ev
      .groupBy("event_id").agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).as("n_checked"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("n_failed"))
      .select(lit("event_id_unique").as("rule"), col("n_checked"), col("n_failed"))
    scanAudit
      .unionAll(dupAudit)
      .select(col("rule"), col("n_checked"), col("n_failed"),
        (col("n_failed").cast("double") / col("n_checked")).as("fail_frac"))
  }

  /** Point-in-time (temporal) join: each fact row joined to the dimension
    * VERSION that was valid at the fact's own event time — the
    * feature-store lookup discipline that keeps training data free of
    * future leakage (a label row must see the feature value as of its
    * timestamp, never a later correction). Facts here are the purchase
    * events; the versioned dimension is [[scd2]]'s validity intervals.
    *
    * Scale shape: the naive formulation is an interval join
    * (`valid_from <= ts < valid_to`), which Spark can only plan as a
    * nested loop. Instead the intervals collapse to their START events
    * and the join becomes MERGE semantics: union dim-starts with facts,
    * one per-user window ordered by (ts, dim-first, version), and
    * `last(version, ignoreNulls)` carries the in-effect version onto
    * every fact — one shuffle on user_id, per-user-bounded sort, zero
    * nested loops. Dim rows order before facts at equal timestamps
    * (half-open [from, to) semantics), and version-ascending ordering
    * among same-instant starts makes a zero-length interval invisible —
    * both exactly matching the oracle's naive interval join, which is
    * what DuckDB runs (its IEJoin handles it at oracle scale).
    */
  def pitJoin(s: SparkSession, dir: String): DataFrame = {
    val dims = scd2(s, dir)
      .select(
        col("user_id"),
        col("valid_from").as("ts_us"),
        col("version"),
        col("event_type").as("dim_type"),
        lit(1).as("is_dim"),
        lit(null).cast("long").as("event_id"))
    val facts = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        lit(null).cast("long").as("version"),
        lit(null).cast("string").as("dim_type"),
        lit(0).as("is_dim"),
        col("event_id"))
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("is_dim").desc, col("version").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dims.unionByName(facts)
      .withColumn("v_at", last(col("version"), ignoreNulls = true).over(w))
      .withColumn("t_at", last(col("dim_type"), ignoreNulls = true).over(w))
      .filter(col("is_dim") === 0)
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        col("v_at").as("version"), col("t_at").as("dim_type"))
  }

  /** Incremental aggregate maintenance: the hourly rollup refreshed by
    * aggregating ONLY a new slice of events and merging it into the
    * previously-materialized aggregate — the daily-refresh pattern that
    * turns a 100 TB recompute into a delta-sized one. count and decimal
    * sum re-aggregate losslessly (`merge(agg(A), agg(B)) = agg(A ∪ B)`),
    * so the result is bit-equal to the full recompute, which is exactly
    * what the oracle checks (it IS the full recompute).
    *
    * The split timestamp stands in for the materialization boundary; in
    * production the left side is a stored table, so only the right
    * (delta) side scans raw events.
    */
  def incrementalHourly(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    // median-ish fixture boundary: half "already materialized", half delta
    val cut = lit(IncrCutUs)
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,6)")).as("sv"))
    val materialized = rollup(ev.filter(col("ts_us") < cut))
    val delta        = rollup(ev.filter(col("ts_us") >= cut))
    materialized
      .unionAll(delta)
      .groupBy("hour", "event_type")
      .agg(
        sum(col("n")).as("n"),
        sum(col("sv")).cast("double").as("total_value"))
  }

  /** Fixture materialization boundary for [[incrementalHourly]] (epoch
    * µs; the synthetic events span Jan 2024, so mid-month splits the
    * range roughly in half).
    */
  val IncrCutUs: Long = java.time.Instant.parse("2024-01-16T00:00:00Z")
    .getEpochSecond * 1000000L

  /** Bucket width for [[sessionConcurrency]]'s interval decomposition
    * (1 hour in epoch µs).
    */
  val ConcurrencyBucketUs: Long = 3600L * 1000000L

  /** Interval-overlap join with NO equi key — per session, the number of
    * OTHER users' events that fell inside it (concurrency load). The
    * naive formulation is a pure range join (`e.ts BETWEEN s.start AND
    * s.end`), which Spark can only plan as a nested loop — quadratic at
    * scale. The scalable decomposition: intervals fan out to the fixed
    * time BUCKETS they cover, points map to their single bucket, and the
    * join becomes an equi-join on bucket followed by the exact overlap
    * re-check. A point lies in exactly ONE bucket, so a multi-bucket
    * interval still matches each event once — no post-join dedup.
    * Bucket width trades fan-out (long intervals explode to many rows)
    * against selectivity (wide buckets admit more false candidates);
    * 1 h ≈ the p99 session length here.
    *
    * The DuckDB oracle runs the NAIVE range join (its IEJoin handles
    * it) — the decomposition must be semantically invisible.
    *
    * Cost model under growth (ConcurrencyScaleSpec pins this): work is
    * Σ_bucket |sessions_b|·|events_b| — BUCKET-LOCAL pair mass. A corpus
    * that grows by extending the time range (more hours, the way real
    * event history grows) scales this linearly; density growth on a
    * FIXED range (the sf1 replica, which packs 10× the events into the
    * same January) is quadratic per bucket and shows up as true-output
    * growth, not a plan failure. 100 TB safety rests on the time-range-
    * extends-with-corpus assumption; a genuinely 10×-denser workload
    * needs a narrower bucket, which the constant exposes.
    */
  def sessionConcurrency(s: SparkSession, dir: String): DataFrame =
    sessionConcurrencyOf(Tables.events(s, dir))

  def sessionConcurrencyOf(events: DataFrame): DataFrame = {
    val W = ConcurrencyBucketUs
    val sess = sessionizeOf(events)
      .select(
        col("user_id").as("s_user"), col("session_id"),
        col("start_us"), col("end_us"))
      .withColumn("bucket", explode(expr(s"sequence(start_us div $W, end_us div $W)")))
    val ev = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("bucket", expr(s"ts_us div $W"))
    sess
      .join(ev, "bucket")
      .filter(
        col("ts_us") >= col("start_us") && col("ts_us") <= col("end_us") &&
          col("user_id") =!= col("s_user"))
      .groupBy("s_user", "session_id")
      .agg(count(lit(1)).as("n_concurrent"))
  }

  /** EWMA smoothing parameters: α and the finite window length. The
    * infinite-history recursion y_t = α·x_t + (1−α)·y_{t−1} truncates to
    * its first [[EwmaLags]] terms — at α = 0.3 the dropped tail carries
    * (1−α)^24 < 2e-4 of the weight. Weights are precomputed ONCE here
    * and embedded as identical double literals in both the Spark plan
    * and the DuckDB oracle (Double.toString round-trips exactly), so
    * neither engine ever calls its own pow().
    */
  val EwmaAlpha = 0.3
  val EwmaLags  = 24
  private val ewmaWeights: Seq[(Int, Double)] =
    (0 until EwmaLags).map(l => l -> EwmaAlpha * math.pow(1 - EwmaAlpha, l))

  /** Exponentially-weighted moving average of the hourly mean-value
    * series per event type — the standard smoother behind alerting
    * baselines ("is this hour's level off its recent trend?"), the
    * low-pass companion to [[cusum]]'s changepoint detector. Emits only
    * hours with a complete [[EwmaLags]]-hour history (leading edge and
    * gap-adjacent hours have no well-defined truncated EWMA).
    *
    * Scale shape: the recursion is rewritten as a finite convolution —
    * the hourly grid (bounded: types × hours) fans out 24× via a
    * BROADCAST join against the weight table, then one
    * partial-aggregated shuffle re-groups onto the target hour. No
    * window over the series, no sequential scan — each output hour is
    * an independent 24-term sum, embarrassingly parallel at any scale.
    * Each term w·x quantizes onto the decimal(38,9) grid before the
    * order-free sum (terms are ≤ hourly means in magnitude, far from
    * the grid's 2^53 conversion edge).
    */
  def ewma(s: SparkSession, dir: String): DataFrame =
    ewmaOf(Tables.events(s, dir))

  /** [[ewma]] over any (ts, event_type, value) frame. */
  private[graft] def ewmaOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val hm = events
      .groupBy(col("event_type"), Events.hourFloor.as("hr"))
      .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("sx"),
        count(lit(1)).as("cnt"))
      .select(col("event_type"), col("hr"), (col("sx") / col("cnt")).as("x"))
    val w = ewmaWeights.toDF("l", "w")
    // term quantization is floor-to-long on a 1e-9 grid, NOT a decimal
    // cast: Spark's double→decimal rounds the SHORTEST-STRING value
    // half-up while DuckDB rounds the BINARY double, so a term landing
    // within an ulp of a half-boundary diverges by one grid step (two
    // such rows appeared at sf0.1; sf0.01 missed the boundary by luck).
    // floor is IEEE-exact on the identical w·x·1e9 product in both
    // engines — the bm25 impact-quantization discipline.
    hm.crossJoin(broadcast(w))
      .select(col("event_type"), (col("hr") + col("l")).as("hr"), col("l"),
        floor(col("w") * col("x") * lit(1e9)).as("term"), col("x"))
      .groupBy("event_type", "hr")
      .agg(
        count(lit(1)).as("nl"),
        sum(col("term")).as("st"),
        max(when(col("l") === 0, col("x"))).as("mean_value"))
      .filter(col("nl") === EwmaLags)
      .select(
        col("event_type"),
        timestamp_micros(col("hr") * lit(3600000000L)).as("hour"),
        col("mean_value"),
        (col("st").cast("double") / lit(1e9)).as("ewma"))
  }

  /** Holt smoothing constants — both 0.5 (exact in binary floating
    * point, so no constant contributes cross-engine drift).
    */
  val HoltAlpha = 0.5
  val HoltBeta  = 0.5

  /** Catalog entry: Holt double-exponential smoothing per event type. */
  def holt(s: SparkSession, dir: String): DataFrame = holtOf(Tables.events(s, dir))

  /** Burstiness per event type — the Fano factor (index of dispersion,
    * variance/mean) of the HOURLY COUNT series: 1 = Poisson arrivals,
    * > 1 = bursty (traffic clumps — retry storms, batch jobs), < 1 =
    * regular (throttled/scheduled). The one-number arrival-process
    * fingerprint next to [[Events.hourly]]'s raw series and the
    * seasonality decomposition; includes zero-count hours inside each
    * type's observed span, which the naive groupBy silently drops and
    * which change the variance materially.
    *
    * Scale shape: one (type, hour) count aggregate (grid-bounded), one
    * per-type moment pass over the grid; the zero-hour correction is
    * arithmetic on (span, observed-hours) — no generator join.
    * Determinism: sums of counts and squared counts are exact longs
    * through decimal; mean/variance/fano are a fixed IEEE chain, with
    * the population variance over the FULL span computed as
    * E[c²] − E[c]² on exact sums.
    */
  def fano(s: SparkSession, dir: String): DataFrame =
    fanoOf(Tables.events(s, dir))

  private[graft] def fanoOf(events: DataFrame): DataFrame = {
    val hc = events
      .groupBy(col("event_type"), Events.hourFloor.as("hr"))
      .agg(count(lit(1)).as("c"))
    val per = hc.groupBy("event_type").agg(
      (max(col("hr")) - min(col("hr")) + lit(1L)).as("span_hours"),
      count(lit(1)).as("active_hours"),
      sum(col("c").cast("decimal(38,0)")).as("sc"),
      sum((col("c") * col("c")).cast("decimal(38,0)")).as("scc"))
    val nD   = col("span_hours").cast("double")
    val mean = col("sc").cast("double") / nD
    val ex2  = col("scc").cast("double") / nD
    per.select(
      col("event_type"), col("span_hours"), col("active_hours"),
      col("sc").cast("long").as("n_events"),
      mean.as("mean_per_hour"),
      (ex2 - mean * mean).as("var_per_hour"),
      ((ex2 - mean * mean) / mean).as("fano"))
  }

  /** Churn horizon for [[survivalKm]]: a user whose last event of a type
    * sits at least this many whole hours before the corpus's final
    * timestamp is an OBSERVED churn; anyone still active closer to the
    * data edge is right-censored (their true lifetime extends past what
    * the window can see).
    */
  val KmCensorHours = 72L

  /** Catalog entry: Kaplan-Meier retention summary per event type. */
  def survivalKm(s: SparkSession, dir: String): DataFrame =
    survivalKmOf(Tables.events(s, dir))

  /** Kaplan-Meier survival estimator (Kaplan & Meier 1958) over user
    * lifetimes per event type — THE censoring-aware retention curve: a
    * user's lifetime is the whole-hour span between their first and
    * last event of the type, and users still active near the data edge
    * are censored rather than counted as churned (naive retention
    * metrics systematically understate survival by treating them as
    * deaths). At each distinct lifetime t: S ← S · (n−d)/n with n the
    * at-risk count and d the observed churns at t; censored subjects
    * leave the risk set without moving the curve. Emitted per type: the
    * 24 h/72 h survival probabilities, the median survival time (first
    * t with S ≤ ½, −1 if the curve never falls that far), and the final
    * S with the subject/event totals.
    *
    * Scale shape: one (type, user) aggregate over the fact table, then
    * everything is bounded by the (type × distinct-lifetime) grid — the
    * [[holtOf]] discipline, with the sequential product folded per type
    * over the sorted grid array via `aggregate`. The at-risk count is
    * carried IN the fold as exact integer bookkeeping (rem ← rem−d−c),
    * so no second windowed pass over the grid exists. Determinism: each
    * step is one IEEE divide and one multiply in fixed order, mirrored
    * exactly by the oracle's recursive CTE — bit-equal doubles step for
    * step, the [[holtOf]] argument; lifetimes and horizons are floor
    * divisions of NON-NEGATIVE micro differences, where truncation and
    * floor agree.
    */
  private[graft] def survivalKmOf(events: DataFrame): DataFrame = {
    val lifetimes = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(
        min(expr("unix_micros(ts)")).as("f"),
        max(expr("unix_micros(ts)")).as("l"))
    val per = lifetimes
      .crossJoin(broadcast(events.agg(max(expr("unix_micros(ts)")).as("g"))))
      .select(
        col("event_type"),
        expr("(l - f) div 3600000000").as("t"),
        when(expr("(g - l) div 3600000000") >= KmCensorHours, 1L)
          .otherwise(0L).as("obs"))
    val grid = per
      .groupBy("event_type", "t")
      .agg(sum(col("obs")).as("d"), (count(lit(1)) - sum(col("obs"))).as("c"))
    val series = grid
      .groupBy("event_type")
      .agg(
        array_sort(collect_list(struct(col("t"), col("d"), col("c")))).as("sv"),
        sum(col("d") + col("c")).as("n_subjects"),
        sum(col("d")).as("n_events"))
    val init = struct(
      col("n_subjects").as("rem"),
      lit(1.0).as("s"), lit(1.0).as("s24"), lit(1.0).as("s72"),
      lit(-1L).as("med"))
    val fin = aggregate(
      col("sv"),
      init,
      (st, e) => {
        val q   = (st.getField("rem") - e.getField("d")).cast("double") /
          st.getField("rem").cast("double")
        val s1  = st.getField("s") * q
        val t   = e.getField("t")
        struct(
          (st.getField("rem") - (e.getField("d") + e.getField("c"))).as("rem"),
          s1.as("s"),
          when(t <= 24L, s1).otherwise(st.getField("s24")).as("s24"),
          when(t <= 72L, s1).otherwise(st.getField("s72")).as("s72"),
          when(st.getField("med") === -1L && s1 <= 0.5, t)
            .otherwise(st.getField("med")).as("med"))
      })
    series.select(
      col("event_type"),
      col("n_subjects"),
      col("n_events"),
      fin.getField("s24").as("surv_24h"),
      fin.getField("s72").as("surv_72h"),
      fin.getField("med").as("median_t"),
      fin.getField("s").as("final_surv"))
  }

  /** Holt's linear-trend (double exponential) smoothing over each
    * type's hourly mean series — the forecasting step [[ewmaOf]] cannot
    * take: a single EWMA lags any trending series by a constant offset,
    * while Holt carries an explicit trend state
    * (`l_t = α·x_t + (1−α)(l+b)`, `b_t = β(l_t−l) + (1−β)b`) and
    * extrapolates it. Init is the textbook `l₁ = x₁, b₁ = x₂ − x₁`
    * (types with a single observed hour can't seed a trend and are
    * dropped); output per type is the final level/trend, the 1- and
    * 3-step-ahead forecasts, and the one-step-ahead SSE the α/β grid
    * search would minimize.
    *
    * Scale shape: the recursion is inherently sequential in t, but t
    * indexes HOURS — the series length is bounded by the clock (a
    * decade ≈ 87k points), never by event volume, so the corpus-sized
    * work is exactly one partial-aggregated shuffle onto the
    * (type, hour) grid (the [[ewmaOf]] compaction) and the recursion
    * runs as a codegen'd `aggregate()` fold over one bounded per-type
    * array — no driver collect, no per-row window, no T-round join
    * loop.
    *
    * Determinism: the fold is one fixed IEEE expression tree applied in
    * hr order (unique per type, array_sort total); the oracle's
    * recursive CTE evaluates the identical expressions in the identical
    * order, so every output double is bit-equal with no quantization —
    * and none is applied, because a double→decimal cast is itself a
    * divergence hazard (see [[ewmaOf]]'s half-boundary note).
    */
  private[graft] def holtOf(events: DataFrame): DataFrame = {
    val hm = events
      .groupBy(col("event_type"), Events.hourFloor.as("hr"))
      .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("sx"),
        count(lit(1)).as("cnt"))
      .select(col("event_type"), col("hr"), (col("sx") / col("cnt")).as("x"))
    val series = hm
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("hr"), col("x")))).as("sv"))
      .filter(size(col("sv")) >= 2)
    val x1   = element_at(col("sv"), 1).getField("x")
    val x2   = element_at(col("sv"), 2).getField("x")
    val init = struct(x1.as("l"), (x2 - x1).as("b"), lit(0.0).as("sse"))
    val fin = aggregate(
      slice(col("sv"), lit(2), size(col("sv")) - 1),
      init,
      (st, e) => {
        val x   = e.getField("x")
        val l0  = st.getField("l")
        val b0  = st.getField("b")
        val l1  = lit(HoltAlpha) * x + lit(1 - HoltAlpha) * (l0 + b0)
        val b1  = lit(HoltBeta) * (l1 - l0) + lit(1 - HoltBeta) * b0
        val err = x - (l0 + b0)
        struct(l1.as("l"), b1.as("b"), (st.getField("sse") + err * err).as("sse"))
      })
    series.select(
      col("event_type"),
      size(col("sv")).cast("long").as("n_hours"),
      fin.getField("l").as("level"),
      fin.getField("b").as("trend"),
      (fin.getField("l") + fin.getField("b")).as("forecast_1"),
      (fin.getField("l") + lit(3.0) * fin.getField("b")).as("forecast_3"),
      fin.getField("sse").as("sse"))
  }

  /** Catalog entry: single-changepoint localization per event type. */
  def changepoint(s: SparkSession, dir: String): DataFrame =
    changepointOf(Tables.events(s, dir))

  /** At-most-one-changepoint (AMOC) localization over each type's
    * hourly mean series — the LOCALIZER next to [[cusumOf]]'s detector:
    * CUSUM says "the level moved somewhere"; this returns the exact
    * split k maximizing the between-segment sum of squares
    * `k(T−k)/T · (mean_L − mean_R)²` (binary segmentation's first and
    * decisive step), with both segment means for effect size.
    *
    * Scale shape: the candidate-split scores all derive from PREFIX
    * SUMS over the (type, hour) grid — one corpus-sized shuffle onto
    * the grid, then a per-type running sum bounded by the clock (the
    * [[holtOf]] argument), a per-type total joined back, and a k=1
    * GroupedTopK argmax. No per-event window, no T² segment pairs.
    *
    * Determinism: hourly means quantize onto the floor-to-long 1e-9
    * grid FIRST (the [[ewmaOf]] discipline — a decimal cast would
    * itself diverge), so every prefix sum is exact integer arithmetic
    * and order-free; the score is then one fixed IEEE tree over those
    * exact integers, and the argmax tiebreaks on the hour.
    */
  private[graft] def changepointOf(events: DataFrame): DataFrame = {
    val hm = events
      .groupBy(col("event_type"), Events.hourFloor.as("hr"))
      .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("sx"),
        count(lit(1)).as("cnt"))
      .select(col("event_type"), col("hr"),
        floor((col("sx") / col("cnt")) * lit(1e9)).as("xq"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    val pre = hm
      .withColumn("sk", sum(col("xq")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("k", row_number().over(w).cast("long"))
    val tot = hm.groupBy("event_type")
      .agg(count(lit(1)).as("tt"), sum(col("xq")).as("st"))
    val kd  = col("k").cast("double")
    val td  = col("tt").cast("double")
    val ml  = (col("sk").cast("double") / lit(1e9)) / kd
    val mr  = ((col("st") - col("sk")).cast("double") / lit(1e9)) /
      (col("tt") - col("k")).cast("double")
    val scored = pre
      // tot: one row per event type — hinted so the grid never
      // re-shuffles to meet it (the sf1 sweep saw the unhinted plan flip
      // to SMJ on the planner's crude aggregate-size estimate)
      .join(broadcast(tot), "event_type")
      .filter(col("k") < col("tt"))
      .select(col("event_type"), col("hr"), col("k"), col("tt"),
        ml.as("mean_left"), mr.as("mean_right"),
        ((kd * (td - kd) / td) *
          ((ml - mr) * (ml - mr))).as("score"))
    graft.plans.GroupedTopK
      .topK(scored, Seq("event_type"), Seq("score" -> false, "hr" -> true), 1)
      .select(
        col("event_type"),
        timestamp_micros(col("hr") * lit(3600000000L)).as("split_hour"),
        col("k").as("split_index"),
        col("tt").as("n_hours"),
        col("mean_left"), col("mean_right"), col("score"))
  }

  /** First-order Markov transition matrix of event types: for each user
    * stream (ordered by ts with the unique event_id as tiebreak — a
    * provably total order), count consecutive (prev → next) type pairs
    * and normalize per source type — the behavioral fingerprint behind
    * funnel design and bot detection ("view rarely follows purchase").
    *
    * Scale shape: the lag window partitions by user_id — per-user
    * streams are activity-bounded, never corpus-sized, so no task sorts
    * more than one user's events (the sessionize discipline). The pair
    * counts collapse onto the tiny type×type grid; the per-source
    * totals (≤ #types rows) join back via broadcast.
    */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy("prev_type").agg(sum(col("n")).as("t"))
    pairs
      .join(broadcast(tot), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") / col("t").cast("double")).as("p"))
  }

  /** Last-touch attribution — the marketing/causal read of the event
    * log: every `purchase` is credited to the user's most recent
    * preceding touch event (`view`/`click`/`signup`; none → `direct`),
    * and the per-channel rollup reports conversions, attributed revenue,
    * and the mean touch-to-purchase lag. The touch pick is the as-of
    * discipline of [[asof]] generalized from one channel to all of them:
    * a single `last(..., ignoreNulls)` over the user's history instead
    * of a per-channel join — one window pass regardless of how many
    * channel types exist.
    *
    * Scale shape: one shuffle on user_id (the window), then a
    * partial-aggregated rollup bounded by the channel domain. Type and
    * timestamp of the touch come from the SAME frame row because their
    * null-conditions coincide. All lag arithmetic is epoch-microsecond
    * longs; the mean divides two exact integers in double — identical
    * IEEE result in the oracle. A channel with no lag terms (`direct`)
    * yields NULL, never 0/0.
    */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("view", "click", "signup")
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("t_type", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("t_us", last(when(isTouch, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        coalesce(col("t_type"), lit("direct")).as("channel"),
        col("value"),
        (unix_micros(col("ts")) - col("t_us")).as("gap_us"))
      .groupBy("channel")
      .agg(
        count(lit(1)).as("n_conv"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"),
        (sum("gap_us").cast("double") /
          (count(col("gap_us")).cast("double") * 1000000.0)).as("avg_gap_s"))
  }

  val queries: Map[String, Q] = Map(
    "events_attribution"    -> (attribution _),
    "events_transitions"    -> (transitions _),
    "events_ewma"           -> (ewma _),
    "events_holt"           -> (holt _),
    "events_survival_km"    -> (survivalKm _),
    "events_fano"           -> (fano _),
    "events_changepoint"    -> (changepoint _),
    "events_session_dyngap" -> (sessionDynamicGap _),
    "events_concurrency"    -> (sessionConcurrency _),
    "events_incr_hourly"    -> (incrementalHourly _),
    "events_session_native" -> (sessionNative _),
    "audit_profile"    -> (profile _),
    "events_seasonality" -> (seasonality _),
    "events_cusum"     -> (cusum _),
    "events_scd2"      -> (scd2 _),
    "events_pit_join"  -> (pitJoin _),
    "audit_expectations" -> (expectations _),
    "events_fill"      -> (fillHours _),
    "events_funnel"    -> (funnel _),
    "events_unpivot"   -> (typeUnpivot _),
    "events_hourly_dev" -> (hourlyDeviation _),
    "events_hourly"    -> (hourly _),
    "events_sliding"   -> (slidingHourly _),
    "events_sessionize" -> (sessionize _),
    "events_asof"      -> (asofClickPurchase _),
    "events_gaps"      -> (gaps _),
    "events_json"      -> (jsonExtract _),
    "events_retention" -> (retention _),
    "events_first_last" -> (firstLast _),
    "events_topk"      -> (topkValue _),
    "events_topk_fast" -> (topkValueFast _),
    "events_pivot"     -> (typePivot _)
  )

  private val topkOracle =
    """SELECT user_id, event_id, value, rn FROM (
       SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
       FROM events) WHERE rn <= 5"""

  val oracle: Map[String, String] = Map(
    // first-principles dynamic-gap sessions: session end = running max
    // of (ts + gap) over earlier events; a new session starts when an
    // event's ts reaches it
    "events_session_dyngap" ->
      """WITH t AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'purchase' THEN 600000000 ELSE 1800000000 END AS gap_us
           FROM events),
         w AS (
           SELECT user_id, event_id, ts_us, gap_us,
             max(ts_us + gap_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
           FROM t),
         flagged AS (
           SELECT user_id, event_id, ts_us, gap_us,
             CASE WHEN prev_end IS NULL OR ts_us >= prev_end THEN 1 ELSE 0 END AS new_session
           FROM w),
         numbered AS (
           SELECT user_id, ts_us, gap_us,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM flagged)
         SELECT user_id, min(ts_us) AS start_us, max(ts_us + gap_us) AS end_us,
           count(*) AS n_events
         FROM numbered GROUP BY user_id, sid""",
    // the NAIVE range join — the bucketed decomposition on the Spark
    // side must be semantically invisible
    "events_concurrency" ->
      """WITH t AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         flagged AS (
           SELECT user_id, event_id, ts_us,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
           FROM t),
         numbered AS (
           SELECT user_id, ts_us,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged),
         sessions AS (
           SELECT user_id, session_id, min(ts_us) AS start_us, max(ts_us) AS end_us
           FROM numbered GROUP BY 1, 2),
         ev AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events)
         SELECT s.user_id AS s_user, s.session_id, count(*) AS n_concurrent
         FROM sessions s JOIN ev e
           ON e.ts_us >= s.start_us AND e.ts_us <= s.end_us AND e.user_id <> s.user_id
         GROUP BY 1, 2""",
    // the oracle IS the full recompute — merging the materialized half
    // with the delta half must be indistinguishable from it
    "events_incr_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    "events_session_native" ->
      """WITH t AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
           FROM events),
         flagged AS (
           SELECT user_id, event_id, value, ts_us,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
           FROM t),
         numbered AS (
           SELECT user_id, value, ts_us,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM flagged)
         SELECT user_id, min(ts_us) AS start_us, max(ts_us) + 1800000000 AS end_us,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM numbered GROUP BY user_id, sid""",
    "events_scd2" ->
      """WITH t AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
           FROM events),
         flagged AS (
           SELECT user_id, event_id, event_type, ts_us,
             CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END AS changed
           FROM t),
         numbered AS (
           SELECT user_id, event_type, ts_us,
             CAST(sum(changed) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
           FROM flagged),
         runs AS (
           SELECT user_id, version, max(event_type) AS event_type,
             min(ts_us) AS valid_from, count(*) AS n_events
           FROM numbered GROUP BY 1, 2)
         SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
           n_events
         FROM runs""",
    // the NAIVE interval join over the same SCD2 intervals — the engine's
    // union+window merge must be semantically invisible
    "events_pit_join" ->
      """WITH t AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
           FROM events),
         flagged AS (
           SELECT user_id, event_id, event_type, ts_us,
             CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END AS changed
           FROM t),
         numbered AS (
           SELECT user_id, event_type, ts_us,
             CAST(sum(changed) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
           FROM flagged),
         runs AS (
           SELECT user_id, version, max(event_type) AS event_type,
             min(ts_us) AS valid_from, count(*) AS n_events
           FROM numbered GROUP BY 1, 2),
         dim AS (
           SELECT user_id, version, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
           FROM runs),
         facts AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'purchase')
         SELECT f.event_id, f.user_id, f.ts_us, d.version, d.event_type AS dim_type
         FROM facts f JOIN dim d
           ON d.user_id = f.user_id AND d.valid_from <= f.ts_us
          AND (d.valid_to IS NULL OR f.ts_us < d.valid_to)""",
    "events_funnel" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) tv FROM events WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(epoch_us(e.ts)) tc FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.tv GROUP BY 1),
         p AS (SELECT e.user_id, min(epoch_us(e.ts)) tp FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.tc GROUP BY 1)
         SELECT '1_view' AS stage, count(*) AS users FROM v
         UNION ALL SELECT '2_click', count(*) FROM c
         UNION ALL SELECT '3_purchase', count(*) FROM p""",
    "events_first_last" ->
      """SELECT user_id,
         arg_min(event_type, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':' || lpad(CAST(event_id AS VARCHAR), 20, '0')) AS first_type,
         arg_max(event_type, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':' || lpad(CAST(event_id AS VARCHAR), 20, '0')) AS last_type,
         count(*) AS n
         FROM events GROUP BY 1""",
    "events_retention" ->
      """SELECT CAST(sum(w1) AS BIGINT) AS n_week1_users,
                CAST(sum(w2) AS BIGINT) AS n_week2_users,
                CAST(sum(w1 * w2) AS BIGINT) AS n_retained
         FROM (SELECT user_id,
                 max(CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS w1,
                 max(CASE WHEN ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS w2
               FROM events GROUP BY 1)""",
    "events_topk"      -> topkOracle,
    "events_topk_fast" -> topkOracle,
    "audit_profile" -> {
      val cols    = Seq("event_id", "user_id", "value", "ts", "event_type", "props")
      val numeric = Set("event_id", "user_id", "value")
      val rows = cols.map { c =>
        val mn = if (numeric(c)) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val mx = if (numeric(c)) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) - count($c) AS BIGINT) AS n_null,
             CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             $mn AS min_v, $mx AS max_v FROM events"""
      }
      rows.mkString("\n UNION ALL \n")
    },
    "events_attribution" ->
      """WITH seq AS (
           SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type IN ('view','click','signup')
                 THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_type,
             last_value(CASE WHEN event_type IN ('view','click','signup')
                 THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_us
           FROM events)
         SELECT coalesce(t_type, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_conv,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
           CAST(sum(epoch_us(ts) - t_us) AS DOUBLE) /
             (CAST(count(t_us) AS DOUBLE) * 1000000.0) AS avg_gap_s
         FROM seq WHERE event_type = 'purchase' GROUP BY 1""",
    "events_transitions" ->
      """WITH seq AS (
           SELECT event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
           FROM events),
         c AS (SELECT prev_type, next_type, count(*) AS n FROM seq
               WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT prev_type, sum(n) AS t FROM c GROUP BY 1)
         SELECT c.prev_type, next_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p
         FROM c JOIN t USING (prev_type)""",
    "events_ewma" -> {
      val values = ewmaWeights
        .map { case (l, w) => s"($l, CAST('${java.lang.Double.toString(w)}' AS DOUBLE))" }
        .mkString(", ")
      s"""WITH hm AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS x
           FROM events GROUP BY 1, 2),
         w(l, w) AS (VALUES $values),
         t AS (SELECT event_type, hr + l AS hr, l,
             CAST(floor(w * x * 1000000000.0) AS BIGINT) AS term, x
           FROM hm, w)
         SELECT event_type, make_timestamp(hr * 3600000000) AS hour,
           max(CASE WHEN l = 0 THEN x END) AS mean_value,
           CAST(sum(term) AS DOUBLE) / 1000000000.0 AS ewma
         FROM t GROUP BY event_type, hr
         HAVING count(*) = $EwmaLags"""
    },
    // integer prefix sums over the quantized hourly grid, one fixed IEEE
    // score tree, argmax by (score desc, hr asc) — identical on both sides
    // same floor-div hour grid, exact decimal count moments, identical
    // IEEE mean/variance/fano chain over the full observed span
    "events_fano" ->
      """WITH hc AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             count(*) AS c
           FROM events GROUP BY 1, 2),
         per AS (
           SELECT event_type,
             CAST(max(hr) - min(hr) + 1 AS BIGINT) AS span_hours,
             CAST(count(*) AS BIGINT) AS active_hours,
             sum(CAST(c AS DECIMAL(38,0))) AS sc,
             sum(CAST(c * c AS DECIMAL(38,0))) AS scc
           FROM hc GROUP BY 1)
         SELECT event_type, span_hours, active_hours,
           CAST(sc AS BIGINT) AS n_events,
           CAST(sc AS DOUBLE) / CAST(span_hours AS DOUBLE) AS mean_per_hour,
           CAST(scc AS DOUBLE) / CAST(span_hours AS DOUBLE) -
             (CAST(sc AS DOUBLE) / CAST(span_hours AS DOUBLE)) *
             (CAST(sc AS DOUBLE) / CAST(span_hours AS DOUBLE)) AS var_per_hour,
           (CAST(scc AS DOUBLE) / CAST(span_hours AS DOUBLE) -
             (CAST(sc AS DOUBLE) / CAST(span_hours AS DOUBLE)) *
             (CAST(sc AS DOUBLE) / CAST(span_hours AS DOUBLE))) /
             (CAST(sc AS DOUBLE) / CAST(span_hours AS DOUBLE)) AS fano
         FROM per""",
    // recursive-CTE mirror of the survivalKmOf fold: same step order
    // (one divide, one multiply), same integer at-risk bookkeeping —
    // bit-equal doubles step for step, the events_holt discipline
    "events_survival_km" ->
      s"""WITH RECURSIVE mx AS (SELECT max(epoch_us(ts)) AS g FROM events),
         per AS (SELECT event_type, user_id,
             min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
           FROM events GROUP BY 1, 2),
         du AS (SELECT event_type, (l - f) // 3600000000 AS t,
             CASE WHEN (g - l) // 3600000000 >= $KmCensorHours THEN 1 ELSE 0 END AS obs
           FROM per CROSS JOIN mx),
         grid AS (SELECT event_type, t, CAST(sum(obs) AS BIGINT) AS d,
             CAST(count(*) - sum(obs) AS BIGINT) AS c
           FROM du GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type ORDER BY t)
               AS BIGINT) AS rn
           FROM grid),
         n AS (SELECT event_type, CAST(sum(d + c) AS BIGINT) AS n0,
             CAST(sum(d) AS BIGINT) AS de, CAST(count(*) AS BIGINT) AS steps
           FROM r GROUP BY 1),
         it AS (
           SELECT event_type, CAST(0 AS BIGINT) AS i, n0 AS rem,
             CAST(1.0 AS DOUBLE) AS s, CAST(1.0 AS DOUBLE) AS s24,
             CAST(1.0 AS DOUBLE) AS s72, CAST(-1 AS BIGINT) AS med
           FROM n
           UNION ALL
           SELECT it.event_type, it.i + 1, it.rem - (r.d + r.c),
             it.s * (CAST(it.rem - r.d AS DOUBLE) / CAST(it.rem AS DOUBLE)),
             CASE WHEN r.t <= 24 THEN
               it.s * (CAST(it.rem - r.d AS DOUBLE) / CAST(it.rem AS DOUBLE))
             ELSE it.s24 END,
             CASE WHEN r.t <= 72 THEN
               it.s * (CAST(it.rem - r.d AS DOUBLE) / CAST(it.rem AS DOUBLE))
             ELSE it.s72 END,
             CASE WHEN it.med = -1 AND
               it.s * (CAST(it.rem - r.d AS DOUBLE) / CAST(it.rem AS DOUBLE)) <= 0.5
             THEN r.t ELSE it.med END
           FROM it JOIN r ON r.event_type = it.event_type AND r.rn = it.i + 1)
         SELECT it.event_type, n.n0 AS n_subjects, n.de AS n_events,
           it.s24 AS surv_24h, it.s72 AS surv_72h,
           it.med AS median_t, it.s AS final_surv
         FROM it JOIN n ON n.event_type = it.event_type
         WHERE it.i = n.steps""",
    "events_changepoint" ->
      """WITH hm AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             CAST(floor((CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*))
               * 1000000000.0) AS BIGINT) AS xq
           FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, hr, xq,
             sum(xq) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr) AS BIGINT) AS k
           FROM hm),
         t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS tt, sum(xq) AS st
           FROM hm GROUP BY 1),
         sc AS (
           SELECT w.event_type, hr, k, tt,
             (CAST(sk AS DOUBLE) / 1000000000.0) / CAST(k AS DOUBLE) AS mean_left,
             (CAST(st - sk AS DOUBLE) / 1000000000.0) / CAST(tt - k AS DOUBLE) AS mean_right,
             (CAST(k AS DOUBLE) * CAST(tt - k AS DOUBLE) / CAST(tt AS DOUBLE)) *
               (((CAST(sk AS DOUBLE) / 1000000000.0) / CAST(k AS DOUBLE) -
                 (CAST(st - sk AS DOUBLE) / 1000000000.0) / CAST(tt - k AS DOUBLE)) *
                ((CAST(sk AS DOUBLE) / 1000000000.0) / CAST(k AS DOUBLE) -
                 (CAST(st - sk AS DOUBLE) / 1000000000.0) / CAST(tt - k AS DOUBLE))) AS score
           FROM w JOIN t ON t.event_type = w.event_type
           WHERE k < tt)
         SELECT event_type, make_timestamp(hr * 3600000000) AS split_hour,
           k AS split_index, tt AS n_hours, mean_left, mean_right, score
         FROM (
           SELECT event_type, hr, k, tt, mean_left, mean_right, score,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY score DESC, hr ASC) AS BIGINT) AS rn
           FROM sc)
         WHERE rn = 1""",
    // the same fold, stated as a recursive CTE: identical expression
    // trees applied in the identical hr order, state at step t consumed
    // by step t+1 — bit-equal doubles with no quantization on either side
    "events_holt" ->
      s"""WITH RECURSIVE hm AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS x
           FROM events GROUP BY 1, 2),
         r AS (SELECT event_type, x,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr) AS BIGINT) AS rn
           FROM hm),
         n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS t_total FROM r GROUP BY 1),
         init AS (
           SELECT a.event_type, a.x AS l, b.x - a.x AS b
           FROM r a JOIN r b ON a.event_type = b.event_type AND a.rn = 1 AND b.rn = 2),
         it AS (
           SELECT event_type, CAST(1 AS BIGINT) AS t, l, b,
             CAST(0.0 AS DOUBLE) AS sse FROM init
           UNION ALL
           SELECT it.event_type, it.t + 1,
             $HoltAlpha * r.x + ${1 - HoltAlpha} * (it.l + it.b),
             $HoltBeta * (($HoltAlpha * r.x + ${1 - HoltAlpha} * (it.l + it.b)) - it.l) +
               ${1 - HoltBeta} * it.b,
             it.sse + (r.x - (it.l + it.b)) * (r.x - (it.l + it.b))
           FROM it JOIN r ON r.event_type = it.event_type AND r.rn = it.t + 1)
         SELECT it.event_type, n.t_total AS n_hours, it.l AS level, it.b AS trend,
           it.l + it.b AS forecast_1, it.l + 3.0 * it.b AS forecast_3, it.sse
         FROM it JOIN n ON n.event_type = it.event_type
         WHERE it.t = n.t_total AND n.t_total >= 2""",
    "events_seasonality" ->
      """WITH cells AS (
           SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sh, count(*) AS c
           FROM events GROUP BY 1, 2),
         tot AS (
           SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1),
         rk AS (
           SELECT event_type, h, sh / CAST(c AS DOUBLE) AS m,
             sh * sh / CAST(c AS DOUBLE) AS t,
             row_number() OVER (PARTITION BY event_type
               ORDER BY sh / CAST(c AS DOUBLE) DESC, h ASC) AS rn
           FROM cells),
         agg AS (
           SELECT event_type,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY h)),
               (a, b) -> a + b) AS bsum,
             max(CASE WHEN rn = 1 THEN h END) AS peak_hour,
             max(CASE WHEN rn = 1 THEN m END) AS peak_mean
           FROM rk GROUP BY 1)
         SELECT agg.event_type, n,
           (bsum - sx * sx / CAST(n AS DOUBLE)) /
             (sxx - sx * sx / CAST(n AS DOUBLE)) AS eta2,
           peak_hour, peak_mean
         FROM agg JOIN tot ON tot.event_type = agg.event_type""",
    "events_cusum" ->
      """WITH hm AS (SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS x
         FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, hour, x,
           CAST(sum(CAST(x AS DECIMAL(38,9))) OVER (PARTITION BY event_type) AS DOUBLE) /
             CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS mu
         FROM hm),
         cs AS (SELECT event_type, hour,
           sum(CAST(x - mu AS DECIMAL(38,9))) OVER (PARTITION BY event_type ORDER BY hour) AS s
         FROM st),
         rk AS (SELECT event_type, hour, s,
           row_number() OVER (PARTITION BY event_type ORDER BY abs(s) DESC, hour ASC) AS rn
         FROM cs)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
           max(CASE WHEN rn = 1 THEN hour END) AS cp_hour,
           max(CASE WHEN rn = 1 THEN CAST(s AS DOUBLE) END) AS s_at_cp,
           max(CAST(s AS DOUBLE)) AS s_max,
           min(CAST(s AS DOUBLE)) AS s_min
         FROM rk GROUP BY 1""",
    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    // each event fans out to the 4 epoch-aligned 15-min-slide windows
    // covering it (integer floor arithmetic = Spark's window() alignment)
    "events_sliding" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS ts_us FROM events),
         x AS (SELECT event_type, value,
                 unnest(generate_series(
                   (ts_us // 900000000) * 900000000 - 2700000000,
                   (ts_us // 900000000) * 900000000,
                   900000000)) AS win_start_us
               FROM e)
         SELECT win_start_us, win_start_us + 3600000000 AS win_end_us,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM x GROUP BY 1, 2, 3""",
    "events_fill" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) h, count(*) n FROM events GROUP BY 1),
         bounds AS (SELECT date_trunc('hour', min(ts)) h0, date_trunc('hour', max(ts)) h1 FROM events),
         spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS "hour" FROM bounds)
         SELECT spine."hour", coalesce(n, 0) AS n, (coalesce(n, 0) = 0) AS is_gap
         FROM spine LEFT JOIN hourly ON hourly.h = spine."hour"""",
    "events_sessionize" ->
      """WITH t AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         flagged AS (
           SELECT user_id, event_id, ts_us,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
           FROM t),
         numbered AS (
           SELECT user_id, ts_us,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
           min(ts_us) AS start_us, max(ts_us) AS end_us
         FROM numbered GROUP BY 1, 2""",
    "events_asof" ->
      """SELECT event_id, user_id, epoch_us(ts) AS purchase_us, last_click_us FROM (
           SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
           FROM events)
         WHERE event_type = 'purchase'""",
    "events_gaps" ->
      """SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) - epoch_us(ts) AS next_gap_us
         FROM events""",
    "events_json" ->
      "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events",
    // same one-scan conditional counts; the uniqueness rule's grouped pass
    // mirrors the Spark side's duplicate-mass count
    "audit_expectations" ->
      """WITH scan AS (
           SELECT count(*) AS n_checked,
             count(*) FILTER (WHERE event_id IS NULL) AS f_event_id_not_null,
             count(*) FILTER (WHERE event_type NOT IN
               ('click', 'view', 'purchase', 'error', 'signup')) AS f_type_in_vocabulary,
             count(*) FILTER (WHERE value IS NULL OR value < 0) AS f_value_non_negative,
             count(*) FILTER (WHERE value > 10000.0) AS f_value_below_cap,
             count(*) FILTER (WHERE ts IS NULL
               OR ts < TIMESTAMP '2024-01-01'
               OR ts >= TIMESTAMP '2025-01-01') AS f_ts_in_window,
             count(*) FILTER (WHERE user_id IS NULL OR user_id < 0) AS f_user_id_in_range,
             count(*) FILTER (WHERE json_extract_string(props, '$.k') IS NULL) AS f_props_json_has_k
           FROM events),
         dup AS (
           SELECT CAST(sum(c) AS BIGINT) AS n_checked,
             CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS n_failed
           FROM (SELECT event_id, count(*) AS c FROM events GROUP BY 1)),
         rows_ AS (
           SELECT 'event_id_not_null' AS rule, n_checked, f_event_id_not_null AS n_failed FROM scan
           UNION ALL SELECT 'type_in_vocabulary', n_checked, f_type_in_vocabulary FROM scan
           UNION ALL SELECT 'value_non_negative', n_checked, f_value_non_negative FROM scan
           UNION ALL SELECT 'value_below_cap', n_checked, f_value_below_cap FROM scan
           UNION ALL SELECT 'ts_in_window', n_checked, f_ts_in_window FROM scan
           UNION ALL SELECT 'user_id_in_range', n_checked, f_user_id_in_range FROM scan
           UNION ALL SELECT 'props_json_has_k', n_checked, f_props_json_has_k FROM scan
           UNION ALL SELECT 'event_id_unique', n_checked, n_failed FROM dup)
         SELECT rule, n_checked, n_failed,
           CAST(n_failed AS DOUBLE) / n_checked AS fail_frac
         FROM rows_""",
    "events_pivot" ->
      """SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'view') AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'error') AS n_error
         FROM events GROUP BY 1""",
    "events_hourly_dev" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
                    FROM events GROUP BY 1, 2)
         SELECT hour, event_type, n,
           CAST(sum(CAST(n AS DECIMAL(38,6))) OVER w AS DOUBLE) / count(n) OVER w AS trailing_mean,
           n - CAST(sum(CAST(n AS DECIMAL(38,6))) OVER w AS DOUBLE) / count(n) OVER w AS deviation
         FROM h
         WINDOW w AS (PARTITION BY event_type ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
         QUALIFY trailing_mean IS NOT NULL""",
    "events_unpivot" ->
      """WITH p AS (SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'view') AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'error') AS n_error
         FROM events GROUP BY 1)
         SELECT user_id, 'click' AS metric, n_click AS n FROM p
         UNION ALL SELECT user_id, 'view', n_view FROM p
         UNION ALL SELECT user_id, 'purchase', n_purchase FROM p
         UNION ALL SELECT user_id, 'signup', n_signup FROM p
         UNION ALL SELECT user_id, 'error', n_error FROM p"""
  )
}
