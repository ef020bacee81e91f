package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3
import graft.Tables

/** Mergeable frequency sketches for heavy-hitter mining at corpus scale —
  * the third sketch family next to `Relational.approxStats`'s HLL++
  * (distinct counts) and KLL (quantiles). Like those, this stays OUT of
  * the oracle catalog by design: sketch internals have no cross-engine
  * twin, so the correctness contract lives in `SketchSpec` as error
  * bounds against the exact `wc`/`count_per_key` answers.
  *
  * Why it matters at 100 TB: the exact top-k ("what are the most common
  * tokens / URLs / shingles in the corpus?") shuffles the FULL token
  * stream onto its keys — the vocabulary is unbounded, so the shuffle is
  * corpus-sized. The sketched plan moves only fixed-size state: each
  * partition folds its slice into a depth×width count-min array
  * (Cormode–Muthukrishnan 2005) and nominates ≤ M space-saving
  * candidates (Metwally et al. 2005); the arrays merge element-wise (a
  * commutative monoid — partitioning-independent by construction) and
  * only P·M candidate rows ever shuffle. Guarantees: CMS never
  * under-counts, over-counts by ≤ e/width·N with probability
  * 1 − e^-depth per query; space-saving retains every key whose
  * partition frequency exceeds n_p/M.
  */
object Sketches {

  /** Count-min sketch as a typed [[Aggregator]]: buffer = flat
    * depth×width long array, reduce = increment one cell per row (seeded
    * MurmurHash3 per row of the sketch), merge = element-wise sum.
    * Width must be a power of two (mask indexing).
    */
  class CountMinSketch(depth: Int, width: Int)
      extends Aggregator[String, Array[Long], Array[Long]] {
    require((width & (width - 1)) == 0, "width must be a power of two")
    def zero: Array[Long] = new Array[Long](depth * width)
    private def cell(d: Int, a: String): Int =
      d * width + (MurmurHash3.stringHash(a, d) & (width - 1))
    def reduce(b: Array[Long], a: String): Array[Long] = {
      var d = 0
      while (d < depth) { b(cell(d, a)) += 1L; d += 1 }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    def finish(r: Array[Long]): Array[Long] = r
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()

    /** Point estimate from a finished sketch: min over the depth rows. */
    def estimate(sk: Array[Long], a: String): Long = {
      var best = Long.MaxValue
      var d = 0
      while (d < depth) { val v = sk(cell(d, a)); if (v < best) best = v; d += 1 }
      best
    }
  }

  val HhDepth = 4
  val HhWidth = 1 << 14
  val HhCandidatesPerPartition = 256

  /** Space-saving candidate pass: every partition keeps at most `m`
    * counters (evicting the minimum, inheriting its count), so any key
    * with partition frequency > n_p/m survives. Emits the partition's
    * surviving keys — the bounded candidate set the sketch then scores.
    */
  private[ops] def spaceSavingCandidates(tokens: Dataset[String], m: Int): Dataset[String] = {
    import tokens.sparkSession.implicits._
    tokens.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counts.get(t) match {
          case Some(c) => counts(t) = c + 1
          case None =>
            if (counts.size < m) counts(t) = 1L
            else {
              // evict the minimum counter; the newcomer inherits its count
              val (mk, mc) = counts.minBy(_._2)
              counts.remove(mk)
              counts(t) = mc + 1
            }
        }
      }
      counts.keysIterator
    }
  }

  /** Sketched heavy hitters over a token stream: CMS aggregate (one
    * pass, fixed-size partial state) + space-saving candidates (≤ P·M
    * rows shuffle — never the token stream), scored by the broadcast
    * sketch, top-k by (estimate desc, token asc). The estimate is an
    * upper bound on the true count; `SketchSpec` pins the error band
    * and that the fixture's exact top-k survives.
    */
  def heavyHitters(tokens: Dataset[String], k: Int,
      depth: Int = HhDepth, width: Int = HhWidth,
      m: Int = HhCandidatesPerPartition): DataFrame = {
    import tokens.sparkSession.implicits._
    val cms = new CountMinSketch(depth, width)
    val sk  = tokens.select(cms.toColumn.name("sk")).as[Array[Long]].head()
    val bsk = tokens.sparkSession.sparkContext.broadcast(sk)
    spaceSavingCandidates(tokens, m)
      .distinct()
      .map(t => (t, cms.estimate(bsk.value, t)))
      .toDF("token", "est_count")
      .orderBy(desc("est_count"), asc("token"))
      .limit(k)
  }

  /** Fixture entry point: heavy hitters of the documents token stream
    * (same tokenization as `wc` — the exact comparison target). Its one
    * caller is `SketchSpec` ("sketched heavy hitters reproduce the exact
    * top-k on the fixture").
    */
  def docTokenHeavyHitters(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(graft.text.Tokenize.tokenCol(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .as[String]
    heavyHitters(toks, k)
  }

  /** Catalog depth for [[heavyHittersExact]]. */
  val HhK = 20

  /** Sketch-then-verify heavy hitters — the oracle-checkable member of
    * this family: space-saving nominates ≤ P·M candidate tokens (the
    * corpus-sized token stream never shuffles on its unbounded
    * vocabulary), then ONE candidate-bounded rescore pass computes their
    * EXACT counts (broadcast semi-join + map-side-combined count, so the
    * shuffle is P·|candidates| partial rows) and the global top-k runs
    * through TakeOrderedAndProject. Output equals the exact top-k
    * whenever the candidate set covers it — the space-saving guarantee
    * for any key above n_p/M in some partition, pinned empirically by
    * `SketchSpec` and the DuckDB gate; the estimate-only variant
    * ([[heavyHitters]]) stays out of the catalog because CMS
    * over-estimates have no cross-engine twin. Candidate sets vary with
    * partition layout, but the exact-rescored top-k is
    * partitioning-independent as long as coverage holds.
    */
  def heavyHittersExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(graft.text.Tokenize.tokenCol(col("text"))).as("t"))
      .filter(col("t") =!= "")
    val cands = spaceSavingCandidates(toks.as[String], HhCandidatesPerPartition)
      .distinct()
      .toDF("t")
    toks
      .join(broadcast(cands), "t")
      .groupBy("t")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("t"))
      .limit(HhK)
      .select(col("t").as("token"), col("cnt"))
  }

  // ------------------------------------------------- bracketed quantiles

  /** Quantile targets (percent) and the GK sketch accuracy for
    * [[quantilesBracketed]]. `QAccuracy` is Spark's `percentile_approx`
    * accuracy knob: the merged Greenwald–Khanna summary guarantees rank
    * error ≤ n/QAccuracy, so a ±3/QAccuracy percentage bracket around
    * each target always contains the exact nearest-rank value.
    */
  val QTargets  = Seq(50, 90, 99)
  val QAccuracy = 10000
  val QSlack    = 3.0 / QAccuracy

  /** Sketch-then-verify EXACT quantiles over an unbounded-domain double —
    * the quantile member of the sketch-then-verify family next to
    * [[heavyHittersExact]]. `Stats.percentilesExact` is already exact
    * without a table sort, but its distinct-value grid is row-count-sized
    * for a continuous measure, so the whole corpus still crosses one
    * range exchange. Here the corpus never enters an exchange at all:
    *
    *  1. SKETCH — one scan folds each (group) slice into a fixed-size GK
    *     summary (`percentile_approx`, partial-aggregated), which brackets
    *     each target rank with values `lo ≤ v_r ≤ hi` (rank error
    *     ≤ n/[[QAccuracy]] < the ±3n/[[QAccuracy]] slack by construction);
    *  2. VERIFY — one more scan counts `#{x < lo}` exactly (5-row
    *     partial agg) and collapses ONLY the in-bracket rows — a
    *     ≤ 6·n/[[QAccuracy]] fraction of the data — to their distinct-value
    *     grid; the exact in-bracket rank `r − #{x < lo}` is then selected
    *     through `Stats.rangeCum`'s range-partitioned prefix sum.
    *
    * The output is the EXACT nearest-rank quantile — bit-equal to the
    * DuckDB full-sort answer and partitioning-independent: the sketch's
    * (layout-dependent) brackets only ever widen or narrow the slice the
    * exact selection runs over, never the selected value. `SketchSpec`
    * pins equality with a brute-force exact twin and layout independence.
    */
  def quantilesBracketed(events: DataFrame): DataFrame = {
    val percentages = QTargets.flatMap { p =>
      Seq(math.max(0.0, p / 100.0 - QSlack), math.min(1.0, p / 100.0 + QSlack))
    }
    // the sketch aggregate runs first (its own pass); the exact verify
    // scan then references the broadcast bracket values
    val sk = events
      .groupBy("event_type")
      .agg(percentile_approx(
        col("value"), array(percentages.map(lit): _*), lit(QAccuracy)).as("bk"))
    val withB = events.join(broadcast(sk), "event_type")
    val belows = withB
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        QTargets.zipWithIndex.map { case (p, i) =>
          sum(when(col("value") < element_at(col("bk"), 2 * i + 1), 1L)
            .otherwise(0L)).as(s"b$p")
        }: _*)
    val tagged = withB
      .select(
        col("event_type"),
        col("value"),
        explode(filter(
          array(QTargets.zipWithIndex.map { case (p, i) =>
            when(
              col("value") >= element_at(col("bk"), 2 * i + 1) &&
                col("value") <= element_at(col("bk"), 2 * i + 2),
              lit(p))
          }: _*),
          x => x.isNotNull)).as("pct"))
    val grid = tagged
      .groupBy(col("event_type"), col("pct"), col("value"))
      .agg(count(lit(1)).as("c"))
    val cum = Stats.rangeCum(grid, Seq("event_type", "pct"), "value", "c",
      needTot = false)
    val ranks = belows.select(
      col("event_type") +:
        QTargets.map(p =>
          (expr(s"($p * n + 99) div 100") - col(s"b$p")).as(s"k$p")): _*)
    val sel = cum
      .join(broadcast(ranks), "event_type")
      .groupBy("event_type", "pct")
      .agg(min(QTargets.map { p =>
        when(col("pct") === p &&
          col("cum") - col("c") < col(s"k$p") && col("cum") >= col(s"k$p"),
          col("value"))
      }.reduce(coalesce(_, _))).as("value_at"))
    // Bracket-miss guard: the GK guarantee (rank error ≤ n/QAccuracy)
    // weakens under partial-aggregate merges, and a bracket that misses
    // the exact rank would otherwise surface as a silently MISSING
    // (event_type, pct) row — the worst failure mode at scale, a hole
    // downstream consumers never notice. Re-anchor on the full
    // group × target grid and fail LOUDLY on any hole: the operator
    // re-runs with a larger QAccuracy (or falls back to
    // Stats.percentilesExact) instead of shipping a partial answer.
    val grid2 = belows.select(col("event_type"),
      explode(typedLit(QTargets)).as("pct"))
    grid2
      // sel: ≤ types × QTargets rows — hinted so the guard join stays
      // broadcast at every SF (sf1 sweep: flipped to SMJ unhinted)
      .join(broadcast(sel), Seq("event_type", "pct"), "left")
      .select(
        col("event_type"),
        col("pct"),
        when(col("value_at").isNotNull, col("value_at"))
          .otherwise(raise_error(format_string(
            "sketch bracket missed the exact rank for event_type=%s pct=%s" +
              " — increase Sketches.QAccuracy or use Stats.percentilesExact",
            col("event_type"), col("pct").cast("string"))))
          .as("value_at"))
  }

  /** Catalog entry: bracketed exact quantiles of `events.value`. */
  def quantilesEvents(s: SparkSession, dir: String): DataFrame =
    quantilesBracketed(Tables.events(s, dir).select(col("event_type"), col("value")))

  // ------------------------------------------------------------------ HLL
  /** HyperLogLog geometry: 2^[[HllP]] registers; the rank lives in the
    * low [[HllRankBits]] bits of the 60-bit hash.
    */
  val HllP        = 9
  val HllM        = 1 << HllP // 512 registers
  val HllRankBits = 60 - HllP // 51
  val HllAlpha    = 0.7213 / (1.0 + 1.079 / HllM)

  /** Oracle-checkable HyperLogLog (Flajolet et al. 2007): distinct
    * user_id per event_type, estimated from 2^[[HllP]] one-byte
    * registers. Every step is deterministic integer/IEEE arithmetic with
    * a bit-equal DuckDB twin — md5-backed hash, top-bits bucket, rank
    * from the LENGTH OF `bin(w)` (never a floating log2, which could
    * diverge at power-of-two boundaries), and the harmonic-mean
    * denominator carried as the EXACT integer Σ 2^(52−M_j) (scaled by
    * 2^52; ≤ 512·2^52 = 2^61, inside int64) — so unlike
    * `Relational.approxStats`'s engine-internal HLL++, the sketch itself
    * sits in the DuckDB oracle gate. Linear counting takes over below
    * 2.5·m when empty registers remain (the standard small-range
    * correction); the 60-bit large-range correction can never trigger at
    * int64 cardinalities and is omitted.
    *
    * Scale shape: the register build is ONE partial-aggregated shuffle
    * onto (event_type, bucket) — at most types × 512 rows of state, and
    * `max` is duplicate-insensitive, so no distinct pass touches the
    * corpus. The exact count rides along as the audit column (its own
    * distinct shuffle — the cost the sketch exists to avoid; production
    * drops it and keeps the constant-state path).
    */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"))
    val h  = graft.functions.TextHash.hash60(col("user_id").cast("string"))
    val ranks = ev
      .select(col("event_type"), h.as("h"))
      .select(
        col("event_type"),
        expr(s"h div ${1L << HllRankBits}").as("bucket"),
        expr(s"h % ${1L << HllRankBits}").as("w"))
      .select(
        col("event_type"),
        col("bucket"),
        when(col("w") === 0, lit(HllRankBits + 1))
          .otherwise(lit(HllRankBits + 1) - length(bin(col("w")))).as("rank"))
    val regs = ranks.groupBy("event_type", "bucket").agg(max("rank").as("mj"))
    val perType = regs
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("observed"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllRankBits + 1} - mj)")).as("sum_obs"))
    val vZero  = lit(HllM.toLong) - col("observed")
    val sumInt = col("sum_obs") + vZero * lit(1L << (HllRankBits + 1))
    val raw = lit(HllAlpha) * lit(HllM.toDouble * HllM) *
      lit(math.pow(2.0, HllRankBits + 1)) / sumInt.cast("double")
    val est = when(raw <= lit(2.5 * HllM) && vZero > 0,
      lit(HllM.toDouble) * log(lit(HllM.toDouble) / vZero.cast("double")))
      .otherwise(raw)
    val exact = ev.distinct().groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    perType
      .select(
        col("event_type"),
        vZero.as("v_zero"),
        est.cast("decimal(38,6)").cast("double").as("est_hll"))
      .join(broadcast(exact), "event_type")
      .select("event_type", "n_exact", "v_zero", "est_hll")
  }

  // ---------------------------------------------------------------- Bloom
  /** Bloom geometry: [[BloomK]] hash functions over a bit space sized
    * [[BloomBitsPerMember]]·|members| — the same data-derived-geometry
    * discipline as `Similarity.planesFor`: a FIXED bit count silently
    * saturates as the member set grows (fp → 1), a per-member budget
    * holds fp ≈ (1 − e^(−k/bpm))^k ≈ 0.5% constant at any scale.
    */
  val BloomBal           = 5000.0
  val BloomK             = 3
  val BloomBitsPerMember = 16

  /** Oracle-checkable Bloom filter + false-positive audit — the
    * approximate-membership sketch that guards 100 TB joins (ship a
    * kilobyte-scale filter of the dimension's keys to the fact scan and
    * drop non-matching rows before the shuffle; Spark's own runtime
    * bloom pushdown, pinned in ScaleSpec, is this same idea engine-side).
    * Here the filter is built EXPLICITLY so both engines can replay it
    * bit for bit: members are the high-balance customers, the bit space
    * is [[BloomBitsPerMember]]·|members| (derived in-plan from a 1-row
    * count — no fixed geometry to saturate), each key sets [[BloomK]]
    * md5-derived positions, and every distinct ordering customer probes
    * it. Emits the one-row audit: probes, true members, filter hits,
    * false positives, fp rate. No-false-negative is structural (a
    * member's positions are in the bit set by construction) and
    * spec-pinned; the fp rate lands near the (1 − e^(−k/bpm))^k ≈ 0.5%
    * design point.
    *
    * Scale shape: the bit table is bounded by the bit-space size and
    * meets the probe stream through one equi-join on position; the only
    * nested-loop is the sanctioned 1-row geometry broadcast. Everything
    * is deterministic integer arithmetic — both engines agree on every
    * bit, so the sketch itself sits in the oracle gate.
    */
  def bloomAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHash
    val members = Tables.customer(s, dir)
      .filter(col("c_acctbal") > BloomBal)
      .select(col("c_custkey"))
    val mTab = members.agg((count(lit(1)) * BloomBitsPerMember).as("m"))
    def positions(df: DataFrame, keyCol: String): DataFrame = df
      .crossJoin(broadcast(mTab))
      .select(
        col(keyCol).as("key"),
        explode(array((0 until BloomK).map(i =>
          TextHash.hash60(concat(col(keyCol).cast("string"), lit(s":b$i"))) % col("m")): _*))
          .as("pos"))
    val bits   = positions(members, "c_custkey").select("pos").distinct()
    val probes = Tables.orders(s, dir).select(col("o_custkey")).distinct()
    val truth = probes.join(
      members.select(col("c_custkey").as("o_custkey")).withColumn("is_member", lit(1)),
      Seq("o_custkey"), "left")
    val hits = positions(probes, "o_custkey")
      .join(bits.withColumn("set", lit(1)), Seq("pos"), "left")
      .groupBy("key")
      .agg((count(col("set")) === BloomK).as("hit"))
    truth
      .join(hits, truth("o_custkey") === hits("key"))
      .agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("is_member").isNotNull, 1L).otherwise(0L)).as("n_members"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"),
        sum(when(col("hit") && col("is_member").isNull, 1L).otherwise(0L)).as("n_false_pos"))
      .select(
        col("n_probes"), col("n_members"), col("n_hits"), col("n_false_pos"),
        (col("n_false_pos").cast("double") /
          greatest(lit(1L), col("n_probes") - col("n_members"))).as("fp_rate"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_heavy_hitters" -> (heavyHittersExact _),
    "sketch_quantiles"     -> (quantilesEvents _),
    "sketch_hll_distinct"  -> (hllDistinct _),
    "sketch_bloom"         -> (bloomAudit _)
  )

  private val tok =
    "SELECT t AS token FROM (SELECT unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS t FROM documents) WHERE t <> ''"

  val oracle: Map[String, String] = Map(
    // the SAME explicit filter in SQL: derived bit space, k md5
    // positions per key, count-of-matched-positions membership test
    "sketch_bloom" -> {
      def h(key: String) = graft.functions.TextHash.duckHash60Of(
        s"CAST($key AS VARCHAR) || ':b' || CAST(i AS VARCHAR)")
      s"""WITH members AS (SELECT c_custkey FROM customer WHERE c_acctbal > $BloomBal),
         mt AS (SELECT count(*) * $BloomBitsPerMember AS m FROM members),
         ks AS (SELECT unnest(range(0, $BloomK)) AS i),
         bits AS (SELECT DISTINCT ${h("c_custkey")} % m AS pos FROM members, mt, ks),
         probes AS (SELECT DISTINCT o_custkey FROM orders),
         pp AS (SELECT o_custkey, ${h("o_custkey")} % m AS pos FROM probes, mt, ks),
         hits AS (SELECT o_custkey, count(b.pos) = $BloomK AS hit
                  FROM pp LEFT JOIN bits b USING (pos) GROUP BY 1),
         t AS (SELECT p.o_custkey, m.c_custkey IS NOT NULL AS is_member, h.hit
               FROM probes p LEFT JOIN members m ON m.c_custkey = p.o_custkey
               JOIN hits h ON h.o_custkey = p.o_custkey)
         SELECT count(*) AS n_probes,
           CAST(count(*) FILTER (WHERE is_member) AS BIGINT) AS n_members,
           CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_hits,
           CAST(count(*) FILTER (WHERE hit AND NOT is_member) AS BIGINT) AS n_false_pos,
           CAST(count(*) FILTER (WHERE hit AND NOT is_member) AS DOUBLE) /
             greatest(1, count(*) - count(*) FILTER (WHERE is_member)) AS fp_rate
         FROM t"""
    },
    // the SAME register pipeline in SQL: integer bucket/rank extraction
    // (length(bin(w)), no floating log), exact integer register sum, the
    // identical IEEE estimator chain (a*b*c/d associates left in both
    // engines), DECIMAL(38,6) final rounding
    "sketch_hll_distinct" -> {
      val h = graft.functions.TextHash.duckHash60Of("CAST(user_id AS VARCHAR)")
      s"""WITH b AS (SELECT event_type, $h AS h FROM events),
         r AS (SELECT event_type, h // ${1L << HllRankBits} AS bucket,
                 h % ${1L << HllRankBits} AS w FROM b),
         rk AS (SELECT event_type, bucket,
             CASE WHEN w = 0 THEN ${HllRankBits + 1}
                  ELSE ${HllRankBits + 1} - length(bin(w)) END AS rank
           FROM r),
         regs AS (SELECT event_type, bucket, max(rank) AS mj FROM rk GROUP BY 1, 2),
         agg AS (SELECT event_type, count(*) AS observed,
             sum(1::BIGINT << (${HllRankBits + 1} - mj)) AS sum_obs
           FROM regs GROUP BY 1),
         est AS (SELECT event_type,
             $HllM - observed AS v_zero,
             CAST(sum_obs + ($HllM - observed) * (1::BIGINT << ${HllRankBits + 1})
               AS DOUBLE) AS sum_d
           FROM agg),
         fin AS (SELECT event_type, v_zero,
             CAST($HllAlpha AS DOUBLE) * CAST(${HllM.toDouble * HllM} AS DOUBLE) *
               CAST(1::BIGINT << ${HllRankBits + 1} AS DOUBLE) / sum_d AS raw
           FROM est),
         x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
               FROM events GROUP BY 1)
         SELECT f.event_type, x.n_exact, CAST(f.v_zero AS BIGINT) AS v_zero,
           CAST(CAST(CASE WHEN raw <= CAST(${2.5 * HllM} AS DOUBLE) AND v_zero > 0
                          THEN CAST(${HllM.toDouble} AS DOUBLE) *
                               ln(CAST(${HllM.toDouble} AS DOUBLE) / v_zero)
                          ELSE raw END AS DECIMAL(38,6)) AS DOUBLE) AS est_hll
         FROM fin f JOIN x ON x.event_type = f.event_type"""
    },
    "sketch_heavy_hitters" ->
      s"""SELECT token, cnt FROM (
            SELECT token, count(*) AS cnt FROM ($tok) GROUP BY 1)
          ORDER BY cnt DESC, token LIMIT $HhK""",
    // full-sort exact nearest-rank quantiles — the Spark side reaches the
    // same values through the sketch bracket + exact in-bracket selection
    "sketch_quantiles" ->
      s"""WITH vc AS (
            SELECT event_type, value, count(*) AS c FROM events GROUP BY 1, 2),
          cum AS (
            SELECT event_type, value, c,
              CAST(sum(c) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cum,
              CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot
            FROM vc),
          p AS (SELECT unnest([${QTargets.mkString(", ")}]) AS pct)
          SELECT event_type, pct, value AS value_at
          FROM cum, p
          WHERE cum - c < (pct * tot + 99) // 100 AND cum >= (pct * tot + 99) // 100"""
  )
}
