package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestBase, Tables}

/** Properties of the round-5 profiling operators that the row-level
  * oracle can't state: cross-query consistency (OLS vs correlation),
  * bucket-boundary invariants, and resize geometry bounds.
  */
class ProfilingOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("text_gopher: each rule fires on its adversarial doc, clean doc keeps") {
    // the parquet fixture has no newlines/bullets/symbols, so the rules
    // those signals drive are exercised here on crafted docs instead
    val good = (Seq("the", "a", "and", "of", "to", "in") ++
      Seq.fill(30)("plain")).mkString(" ")
    val docs = Seq(
      (1L, good, "clean doc passes every rule"),
      (2L, Seq.fill(30)("the").mkString(" ") + " ###########################",
        "symbol ratio > 0.1"),
      (3L, (1 to 30).map(i => s"- the bullet $i point a of").mkString("\n"),
        "bullet-line ratio > 0.9"),
      (4L, Seq.fill(10)("the line of a text...").mkString("\n"),
        "ellipsis-line ratio > 0.3"),
      (5L, "the of a", "too few words"),
      (6L, Seq.fill(40)("123456").mkString(" ") + " the a of in",
        "alphabetic-word fraction < 0.8"),
      (7L, Seq.fill(40)("word").mkString(" "), "stopword floor"),
      (8L, Seq.fill(40)("w").mkString(" ") + " the a of", "mean word length < 3"))
      .toDF("doc_id", "text", "why")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
    val got = TextAnalysis.gopherQualityOf(docs)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got(1L), "clean doc must keep")
    for (id <- 2L to 8L) assert(!got(id), s"doc $id should fail its rule")
  }

  test("text_bpe_pairs: pair counts are word-frequency weighted, not type-weighted") {
    // "ab" appears in two words; the frequent word dominates the count
    val tokens = (Seq.fill(5)("abc") ++ Seq.fill(2)("zab") ++ Seq("q"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    val got = TextAnalysis.bpePairsOf(tokens)
      .as[(String, Long)].collect().toMap
    // abc contributes ab,bc ×5; zab contributes za,ab ×2; q is length-1
    assert(got == Map("ab" -> 7L, "bc" -> 5L, "za" -> 2L))
  }

  test("text_quality_clf: feature count = 2n-1, score is mean weight, keep is its sign") {
    val out = TextAnalysis.qualityClf(spark, Sf0001)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(out.nonEmpty)
    val nTok = TextAnalysis.queries("text_token_count")(spark, Sf0001)
      .select("doc_id", "bpe_tokens").as[(Long, Long)].collect().toMap
    out.foreach { case (d, nf, score, keep) =>
      assert(score >= -1.0 && score <= 1.0, s"score out of range for $d")
      assert(keep == (score >= 0.0), s"keep/sign mismatch for $d")
      assert(nf >= 1, s"empty feature set for $d")
    }
    // unigrams + bigrams of an n-token doc = n + (n-1); spot-check one doc
    // via an independent tokenization
    val d0 = out.head._1
    val n = spark.read.parquet(s"$Sf0001/documents.parquet")
      .filter(col("doc_id") === d0).select("text").as[String].head()
      .split("[^\\p{L}]+").count(_.nonEmpty)
    assert(out.head._2 == 2L * n - 1, s"feature count for $d0: got ${out.head._2}, n=$n")
  }

  test("stats_mad: med/mad reproduce a direct nearest-rank computation") {
    val got = Stats.madExact(spark, Sf0001)
      .as[(String, Double, Double)].collect()
      .map { case (t, med, mad) => t -> (med, mad) }.toMap
    val vals = graft.Tables.events(spark, Sf0001)
      .select("event_type", "value").as[(String, Double)].collect()
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2) }
    def gridMedian(xs: Seq[Double]): Double = {
      val gs = xs.map(v => math.floor(v * Stats.RobustGrid).toLong).sorted
      gs((gs.size + 1) / 2 - 1).toDouble / Stats.RobustGrid // ceil(n/2)-th, 0-based
    }
    for ((t, xs) <- vals) {
      val med = gridMedian(xs.toSeq)
      val mad = gridMedian(xs.toSeq.map(v => math.abs(v - med)))
      assert(got(t) == (med, mad), s"$t: got ${got(t)} want ($med, $mad)")
    }
  }

  test("stats_bootstrap: replica means concentrate on the true mean, weights are Poisson-ish") {
    val reps = Stats.bootstrap(spark, Sf0001)
      .as[(String, Long, Long, Double)].collect()
      .groupBy(_._1)
    val truth = Stats.moments(spark, Sf0001)
      .select("event_type", "n", "mean_value", "std_value")
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(reps.keySet == truth.keySet)
    reps.foreach { case (tpe, rows) =>
      assert(rows.length == Stats.BootReps, s"$tpe missing replicas")
      val (_, n, mean, sd) = truth(tpe)
      // E[n_eff] = n: the mean replica weight sum stays within 5 sigma
      // of n (Poisson(1) per row => Var = n per replica, /R for the mean)
      val nEffBar = rows.map(_._3).sum.toDouble / rows.length
      assert(math.abs(nEffBar - n) < 5 * math.sqrt(n.toDouble / rows.length),
        s"$tpe n_eff mean $nEffBar far from $n")
      // the replica-mean distribution concentrates on the true mean with
      // se ~ sd/sqrt(n); its median is within 5 se (flake-safe bound)
      val means = rows.map(_._4).sorted
      val med = means(means.length / 2)
      assert(math.abs(med - mean) < 5 * sd / math.sqrt(n.toDouble),
        s"$tpe replica median $med far from true mean $mean")
    }
  }

  test("stats_psi: identical windows score exactly zero, a shifted window scores large") {
    def ev(hr: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2025-01-01 $hr%02d:00:00"), "t", v)
    // same value mix day (hour 10) and night (hour 22) → p == q per bin,
    // every term is exactly 0
    val same = (1 to 200).flatMap(i => Seq(ev(10, i % 4 * 30.0), ev(22, i % 4 * 30.0)))
    val zero = Stats.psiOf(same.toDF("ts", "event_type", "value"))
      .select("psi").as[Double].head()
    assert(zero == 0.0, s"identical windows scored $zero")
    // day mass in bins 0-1, night mass in bins 2-3 → strong shift
    val moved = (1 to 200).flatMap(i =>
      Seq(ev(10, i % 2 * 30.0), ev(22, 60.0 + i % 2 * 30.0)))
    val big = Stats.psiOf(moved.toDF("ts", "event_type", "value"))
      .select("psi").as[Double].head()
    assert(big > 0.25, s"disjoint distributions scored only $big")
  }

  test("events_cusum: localizes a known level shift at the exact shift hour") {
    // 50 hours at level 10, then 50 at level 20: mu = 15, deviations are
    // exactly -5 then +5, so S descends to -250 at the last pre-shift
    // hour and climbs back — |S| peaks exactly there, values exact
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:30:00")
    val rows = (0 until 100).flatMap { h =>
      val lvl = if (h < 50) 10.0 else 20.0
      Seq((new java.sql.Timestamp(t0.getTime + h * 3600L * 1000L), "shift", lvl))
    }
    val out = Events.cusumOf(rows.toDF("ts", "event_type", "value"))
      .as[(String, Long, java.sql.Timestamp, Double, Double, Double)].collect()
    assert(out.length == 1)
    val (_, nHours, cpHour, sAtCp, sMax, sMin) = out.head
    assert(nHours == 100)
    // hour 49 (the last pre-shift hour): Jan 1 00:30 + 49 h, truncated
    assert(cpHour == java.sql.Timestamp.valueOf("2025-01-03 01:00:00"),
      s"changepoint at $cpHour, expected hour 49")
    assert(sAtCp == -250.0 && sMin == -250.0, s"S at cp $sAtCp / min $sMin")
    assert(sMax <= 0.0 + 1e-12, "upward shift: running sum never positive")
  }

  test("stats_gini: zero for equal spend, (n-1)/n for total concentration") {
    def spend(xs: Seq[String]) =
      xs.toDF("s").select(col("s").cast("decimal(38,6)").as("x"))
    val equal = Stats.giniOf(spend(Seq.fill(8)("250.50")))
      .as[(Long, Double, Double)].head()
    assert(equal == ((8L, 2004.0, 0.0)), s"equal spend: $equal")
    // one unit holds everything: G = (n-1)/n = 0.75 at n = 4
    val conc = Stats.giniOf(spend(Seq("0", "0", "0", "1000")))
      .as[(Long, Double, Double)].head()
    assert(conc._1 == 4L && conc._3 == 0.75, s"concentrated spend: $conc")
  }

  test("stats_mannwhitney: disjoint groups give U = 0, U_A + U_B = n_a*n_b under ties") {
    def ev(g: String, v: Double) =
      (java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), g, v)
    // every A below every B → U (A-wins count) is 0, z = -2/sqrt(5/3)
    val disj = Seq(ev("a", 1), ev("a", 2), ev("b", 3), ev("b", 4))
      .toDF("ts", "event_type", "value")
    val (na, nb, u, z) = Stats.mannWhitneyOf(disj, "a", "b")
      .as[(Long, Long, Double, Double)].head()
    assert((na, nb, u) == ((2L, 2L, 0.0)))
    assert(math.abs(z - (-2.0 / math.sqrt(5.0 / 3.0))) < 1e-12, s"z $z")
    // with ties, the two directions' U still partition n_a*n_b
    val tied = Seq(ev("a", 1), ev("a", 1), ev("b", 1), ev("b", 2))
      .toDF("ts", "event_type", "value")
    val uAB = Stats.mannWhitneyOf(tied, "a", "b").as[(Long, Long, Double, Double)].head()
    val uBA = Stats.mannWhitneyOf(tied, "b", "a").as[(Long, Long, Double, Double)].head()
    assert(uAB._3 + uBA._3 == uAB._1 * uAB._2, s"U_A ${uAB._3} + U_B ${uBA._3}")
    assert(uAB._4 == -uBA._4, "z must be antisymmetric in the group order")
  }

  test("stats_quantile_cont: quartiles match a direct type-7 recomputation") {
    val byType = graft.Tables.events(spark, Sf0001)
      .select("event_type", "value").as[(String, Double)].collect()
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    def direct(vs: Array[Double], p: Int): Double = {
      val k    = (p.toLong * (vs.length - 1)) / 100
      val frac = (p.toLong * (vs.length - 1)) % 100
      if (frac == 0) vs(k.toInt)
      else vs(k.toInt) + frac / 100.0 * (vs(k.toInt + 1) - vs(k.toInt))
    }
    val got = Stats.quantileCont(spark, Sf0001)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(got.length == byType.size)
    got.foreach { case (t, n, p25, p50, p75) =>
      val vs = byType(t)
      assert(n == vs.length.toLong)
      Seq(25 -> p25, 50 -> p50, 75 -> p75).foreach { case (p, v) =>
        assert(math.abs(v - direct(vs, p)) < 1e-9, s"$t p$p: $v vs ${direct(vs, p)}")
      }
    }
  }

  test("stats_autocorr: an alternating hourly series scores r = -1") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:30:00")
    val rows = (0 until 60).map { h =>
      (new java.sql.Timestamp(t0.getTime + h * 3600L * 1000L), "alt",
        if (h % 2 == 0) 10.0 else 30.0)
    }
    val (_, n, r) = Stats.autocorrOf(rows.toDF("ts", "event_type", "value"))
      .as[(String, Long, Double)].head()
    assert(n == 59)
    assert(math.abs(r - (-1.0)) < 1e-12, s"alternating series r $r")
  }

  test("stats_autocorr: deterministic across shuffle-partition counts") {
    val a = Stats.autocorr(spark, Sf0001).as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    withSQLConf("spark.sql.shuffle.partitions" -> "13") {
      val b = Stats.autocorr(spark, Sf0001).as[(String, Long, Double)].collect().sortBy(_._1).toSeq
      assert(a == b)
    }
  }

  test("events_ewma: constant series converges to the truncated-weight level") {
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:30:00")
    val rows = (0 until 30).map { h =>
      (new java.sql.Timestamp(t0.getTime + h * 3600L * 1000L), "c", 40.0)
    }
    val out = Events.ewmaOf(rows.toDF("ts", "event_type", "value"))
      .as[(String, java.sql.Timestamp, Double, Double)].collect()
    // 30 hours, 24-lag window → hours 23..29 have complete history
    assert(out.length == 7, s"expected 7 complete hours, got ${out.length}")
    val level = 40.0 * (1.0 - math.pow(1.0 - Events.EwmaAlpha, Events.EwmaLags))
    out.foreach { case (_, _, m, y) =>
      assert(m == 40.0)
      // each of the 24 terms floors onto the 1e-9 grid (error < 1e-9 each)
      assert(math.abs(y - level) < Events.EwmaLags * 1e-9, s"ewma $y vs $level")
    }
  }

  test("orders_cohort: offset 0 is full retention and cohorts partition the customers") {
    val rows = Relational.cohortRetention(spark, Sf0001)
      .as[(java.sql.Date, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val atZero = rows.filter(_._2 == 0L)
    assert(atZero.nonEmpty && atZero.forall(_._4 == 1.0), "offset-0 retention must be 1.0")
    assert(rows.forall(r => r._4 > 0.0 && r._4 <= 1.0))
    val nCust = graft.Tables.orders(spark, Sf0001)
      .select("o_custkey").distinct().count()
    assert(atZero.map(_._3).sum == nCust, "cohort sizes must partition the customer base")
  }

  test("events_transitions: rows per source sum to that source's outflow, p to 1") {
    val rows = Events.transitions(spark, Sf0001)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (prev, ts) =>
      val p = ts.map(_._4).sum
      assert(math.abs(p - 1.0) < 1e-9, s"$prev outflow probabilities sum to $p")
    }
    // total transitions = total events - one per user (stream starts)
    val ev = graft.Tables.events(spark, Sf0001)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._3).sum == expected)
  }

  test("curate_curriculum: phases are 1..4, length-monotone, tie-consistent, ~quarters") {
    val rows = Curation.curriculum(spark, Sf0001)
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._3).toSet.subsetOf(Set(1L, 2L, 3L, 4L)))
    // same length → same phase; longer length → phase never decreases
    val byLen = rows.groupBy(_._2).map { case (len, rs) =>
      assert(rs.map(_._3).distinct.length == 1, s"tied length $len split phases")
      len -> rs.head._3
    }.toSeq.sortBy(_._1)
    assert(byLen == byLen.sortBy(r => (r._1, r._2)), "phase must be monotone in length")
    val sizes = rows.groupBy(_._3).view.mapValues(_.length).toMap
    val n = rows.length
    sizes.values.foreach(s => assert(s > n / 8 && s < 3 * n / 8, s"phase sizes $sizes"))
  }

  test("text_novelty: the earliest doc is fully novel and novel counts tile the shingle space") {
    val rows = TextAnalysis.novelty(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nTri, nNovel, nov) =>
      assert(nNovel >= 0 && nNovel <= nTri, s"doc $id: $nNovel of $nTri")
      assert(nov == nNovel.toDouble / nTri)
    }
    val firstDoc = rows.map(_._1).min
    val first = rows.find(_._1 == firstDoc).get
    assert(first._4 == 1.0, s"earliest doc $firstDoc scored ${first._4}, must be fully novel")
    // every distinct trigram is novel in exactly one doc
    val distinctTris = Dedup.docShinglesOf(graft.Tables.documents(spark, Sf0001))
      .select("sh").distinct().count()
    assert(rows.map(_._3).sum == distinctTris)
  }

  test("curate_dp_release: noise is Laplace-shaped, zero-centered, cell-deterministic") {
    val rows = Curation.dpRelease(spark, Sf0001)
      .select("noise").as[Double].collect()
    assert(rows.length > 50, "needs enough cells to test the distribution")
    // E|Laplace(b=1)| = 1; the sample mean of |noise| over n cells
    // concentrates within ~5/sqrt(n)
    val meanAbs = rows.map(math.abs).sum / rows.length
    assert(meanAbs > 1.0 - 5.0 / math.sqrt(rows.length.toDouble) &&
      meanAbs < 1.0 + 5.0 / math.sqrt(rows.length.toDouble),
      s"mean |noise| $meanAbs far from Laplace(1) expectation")
    // symmetric: both signs occur in quantity
    val pos = rows.count(_ > 0)
    assert(pos > rows.length / 4 && pos < 3 * rows.length / 4,
      s"noise signs skewed: $pos/${rows.length} positive")
    // deterministic: same cells, same noise, every run
    val again = Curation.dpRelease(spark, Sf0001).select("noise").as[Double].collect()
    assert(rows.sorted.toSeq == again.sorted.toSeq, "noise not deterministic across runs")
  }

  test("orders_abc: A covers ~80% of revenue, classes are revenue-ordered") {
    val out = Relational.abc(spark, Sf0001)
      .as[(Long, Double, Double, String)].collect()
    assert(out.nonEmpty)
    val total   = out.map(_._2).sum
    val byClass = out.groupBy(_._4).view.mapValues(_.map(_._2).sum).toMap
    assert(byClass.keySet == Set("A", "B", "C"), s"classes: ${byClass.keySet}")
    // the A boundary rule admits parts STARTING before the 80% line, so
    // A revenue lands within one part's share of 0.80
    val aShare = byClass("A") / total
    assert(aShare >= 0.72 && aShare <= 0.88, s"A revenue share $aShare")
    // class order never inverts revenue order
    val minA = out.filter(_._4 == "A").map(_._2).min
    val maxC = out.filter(_._4 == "C").map(_._2).max
    assert(minA >= maxC, s"an A part ($minA) under a C part ($maxC)")
    // cum_share is a valid CDF endpoint: max is exactly 1
    assert(math.abs(out.map(_._3).max - 1.0) < 1e-9)
  }

  test("orders_rfm: scores are quintile-sized, monotone in the metric, tie-consistent") {
    val out = Relational.rfm(spark, Sf0001)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val n = out.length
    out.foreach { case (_, r, f, m, code) =>
      assert(r >= 1 && r <= 5 && f >= 1 && f <= 5 && m >= 1 && m <= 5)
      assert(code == r * 100 + f * 10 + m)
    }
    // each monetary quintile holds ~n/5 customers: nearest-rank cuts plus
    // ties can shift boundaries, but no bucket may be empty or dominant
    val mSizes = out.groupBy(_._4).view.mapValues(_.size).toMap
    assert(mSizes.keySet == (1L to 5L).toSet, s"monetary buckets: $mSizes")
    mSizes.values.foreach(sz =>
      assert(sz > n / 10 && sz < n / 2, s"skewed bucket sizes: $mSizes"))
    // monotone: recompute the monetary metric and check score order agrees
    val money = graft.Tables.orders(spark, Sf0001)
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(col("o_totalprice").cast("decimal(38,6)")).cast("double").as("m"))
      .as[(Long, Double)].collect().toMap
    val byScore = out.groupBy(_._4).view.mapValues(_.map(r => money(r._1))).toMap
    (1L to 4L).foreach { s =>
      assert(byScore(s).max <= byScore(s + 1).min,
        s"monetary score $s overlaps ${s + 1}")
    }
  }

  test("stats_mode: matches a driver-side argmax with the lowest-bucket tie-break") {
    val want = graft.Tables.events(spark, Sf0001)
      .select(col("event_type"), floor(col("value")).cast("long").as("b"))
      .as[(String, Long)].collect()
      .groupBy(_._1).map { case (t, xs) =>
        val counts = xs.groupBy(_._2).map { case (b, g) => (b, g.length.toLong) }
        val (b, n) = counts.toSeq.minBy { case (bk, c) => (-c, bk) }
        t -> (b, n)
      }
    val got = Stats.modeValue(spark, Sf0001)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want)
  }

  test("stats_winsorize: clip band is the exact nearest-rank [p5, p95], clipped mass <= 2*alpha") {
    val rows = graft.Tables.events(spark, Sf0001)
      .select(col("event_type"), col("value"))
      .as[(String, Double)].collect()
    val bands = rows.groupBy(_._1).map { case (t, xs) =>
      val sorted = xs.map(_._2).sorted
      def nr(p: Int) = sorted(((p * sorted.length + 99) / 100) - 1)
      t -> (nr(Stats.WinsorPct), nr(100 - Stats.WinsorPct))
    }
    val got = Stats.winsorize(spark, Sf0001)
      .as[(Long, String, Double, Double, Boolean)].collect()
    assert(got.length == rows.length, "winsorizing must preserve row count")
    got.foreach { case (id, t, v, w, clipped) =>
      val (lo, hi) = bands(t)
      assert(w == math.min(math.max(v, lo), hi), s"event $id: $v -> $w with band [$lo, $hi]")
      assert(clipped == (v < lo || v > hi))
    }
    // at most ~2 alpha of each group clips (nearest-rank boundary slack)
    got.groupBy(_._2).foreach { case (t, xs) =>
      val frac = xs.count(_._5).toDouble / xs.length
      assert(frac <= 2.0 * Stats.WinsorPct / 100.0 + 0.02, s"$t clipped frac $frac")
    }
  }

  test("audit_expectations: each rule fires on its injected violation, clean corpus audits clean") {
    import java.sql.Timestamp
    val ok = Timestamp.valueOf("2024-01-10 12:00:00")
    val rows = Seq(
      // (event_id, ts, user_id, event_type, value, props) — one clean row
      (Some(1L), Some(ok), Some(5L), "click", Some(10.0), """{"k": 1}"""),
      (None: Option[Long], Some(ok), Some(5L), "view", Some(1.0), """{"k": 1}"""), // null id
      (Some(3L), Some(ok), Some(5L), "browse", Some(1.0), """{"k": 1}"""), // unknown type
      (Some(4L), Some(ok), Some(5L), "click", Some(-2.0), """{"k": 1}"""), // negative value
      (Some(5L), Some(ok), Some(5L), "click", Some(20000.0), """{"k": 1}"""), // over cap
      (Some(6L), Some(Timestamp.valueOf("2023-06-01 00:00:00")), Some(5L), "click",
        Some(1.0), """{"k": 1}"""), // ts out of window
      (Some(7L), Some(ok), Some(-3L), "click", Some(1.0), """{"k": 1}"""), // bad user
      (Some(8L), Some(ok), Some(5L), "click", Some(1.0), """{"nope": 1}"""), // missing k
      (Some(9L), Some(ok), Some(5L), "click", Some(1.0), """{"k": 1}"""), // dup pair...
      (Some(9L), Some(ok), Some(5L), "click", Some(1.0), """{"k": 1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val audit = Events.expectationsOf(rows)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(audit("event_id_not_null") == ((10L, 1L)))
    assert(audit("type_in_vocabulary") == ((10L, 1L)))
    assert(audit("value_non_negative") == ((10L, 1L)))
    assert(audit("value_below_cap") == ((10L, 1L)))
    assert(audit("ts_in_window") == ((10L, 1L)))
    assert(audit("user_id_in_range") == ((10L, 1L)))
    assert(audit("props_json_has_k") == ((10L, 1L)))
    assert(audit("event_id_unique") == ((10L, 2L)), "both duplicate carriers count as failed")
    // the real fixture passes the whole contract
    val clean = Events.expectations(spark, Sf0001)
      .as[(String, Long, Long, Double)].collect()
    assert(clean.forall(_._3 == 0L), s"fixture contract violations: ${clean.filter(_._3 > 0).toSeq}")
  }

  test("text_langid_confusion: per-label fractions sum to 1, grid equals a langId rollup") {
    val got = TextAnalysis.langIdConfusion(spark, Sf0001)
      .as[(String, String, Long, Double)].collect()
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (lang, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12, s"$lang fractions don't sum to 1")
    }
    // grid counts equal an independent rollup of the langId output
    val want = TextAnalysis.langId(spark, Sf0001)
      .join(graft.Tables.documents(spark, Sf0001).select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "pred_lang").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.map(r => (r._1, r._2) -> r._3).toMap == want)
  }

  test("events_pit_join: looked-up version's interval contains the fact ts, plan has no nested loop") {
    val out = Events.pitJoin(spark, Sf0001)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      "PIT join must plan as union+window merge, not an interval nested loop")
    val got = out.as[(Long, Long, Long, Long, String)].collect()
    assert(got.nonEmpty)
    // direct interval check against independently recomputed SCD2 intervals
    val dims = Events.scd2(spark, Sf0001)
      .select("user_id", "version", "valid_from", "valid_to")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map { case (u, v, f, t) => (u, v) -> (f, t) }.toMap
    got.foreach { case (eid, u, ts, v, dtype) =>
      val (from, to) = dims((u, v))
      assert(from <= ts && to.forall(ts < _),
        s"event $eid: ts $ts outside version $v interval [$from, $to)")
      assert(dtype == "purchase", s"purchase event $eid landed in a '$dtype' run")
    }
    // every purchase is matched exactly once
    val nPurchases = graft.Tables.events(spark, Sf0001)
      .filter(col("event_type") === "purchase").count()
    assert(got.length.toLong == nPurchases && got.map(_._1).distinct.length == got.length)
  }

  test("stats_trimmed: matches a driver-side sort-and-trim, bookkeeping consistent") {
    val rows = graft.Tables.events(spark, Sf0001)
      .select(col("event_type"), col("value"))
      .as[(String, Double)].collect()
    val want = rows.groupBy(_._1).map { case (t, xs) =>
      val sorted = xs.map(_._2).sorted
      val n = sorted.length
      val k = Stats.TrimPct * n / 100
      val kept = sorted.slice(k, n - k)
      t -> (n.toLong, k.toLong, kept.sum / kept.length)
    }
    val got = Stats.trimmedMean(spark, Sf0001)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.map(_._1).toSet == want.keySet)
    got.foreach { case (t, n, kTrim, nKept, mean) =>
      val (wn, wk, wmean) = want(t)
      assert(n == wn && kTrim == wk, s"$t bookkeeping: n=$n k=$kTrim vs $wn/$wk")
      assert(nKept == n - 2 * kTrim, s"$t: kept $nKept != ${n - 2 * kTrim}")
      assert(math.abs(mean - wmean) < 1e-9 * math.max(1.0, math.abs(wmean)),
        s"$t: $mean != $wmean")
    }
  }

  test("stats_trimmed: a sub-trim-mass outlier block cannot move the estimate") {
    // 1000 regular values + 30 enormous outliers (3% < the 5% trim): the
    // trimmed mean must equal that of the clean prefix trimmed at its own
    // depth over the surviving ranks — here simply: outliers all trimmed
    val regular = (1 to 1000).map(i => (i % 97).toDouble)
    val spiked  = regular ++ Seq.fill(30)(1e12)
    def tm(vals: Seq[Double]): Double = {
      val df = vals.zipWithIndex
        .map { case (v, i) => (i.toLong, "t", v) }.toDF("event_id", "event_type", "value")
      // reuse the operator body via a temp events-shaped frame: group on
      // event_type, value histogram, closed-form trim
      val vc = df.groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
      val cum = graft.ops.Stats.rangeCum(vc, Seq("event_type"), "value", "c")
        .withColumn("k", expr(s"(${Stats.TrimPct} * tot) div 100"))
        .withColumn("inc",
          greatest(lit(0L),
            least(col("cum"), col("tot") - col("k")) -
              greatest(col("cum") - col("c"), col("k"))))
      cum.groupBy("event_type")
        .agg((sum((col("inc") * col("value")).cast("decimal(38,6)")).cast("double") /
          (max(col("tot")) - lit(2) * max(col("k")))).as("m"))
        .as[(String, Double)].collect().head._2
    }
    val spikedMean = tm(spiked)
    // every 1e12 outlier ranks above n - k (k = 51 of 1030), so none survive
    val sorted = spiked.sorted
    val k = Stats.TrimPct * spiked.length / 100
    val brute = sorted.slice(k, spiked.length - k)
    assert(!brute.contains(1e12), "outliers must fall inside the trim band")
    assert(math.abs(spikedMean - brute.sum / brute.length) < 1e-9)
    assert(spikedMean < 100.0, s"outliers leaked into the trimmed mean: $spikedMean")
  }

  test("stats_spearman: matches a driver-side average-rank Pearson, bounded in [-1, 1]") {
    val rows = graft.Tables.events(spark, Sf0001)
      .select(col("event_type"), col("value"), hour(col("ts")).cast("int").as("hh"))
      .as[(String, Double, Int)].collect()
    def avgRanks[T](xs: Seq[T])(implicit ord: Ordering[T]): Map[T, Double] = {
      val sorted = xs.sorted
      sorted.zipWithIndex
        .groupBy(_._1)
        .map { case (v, ps) => v -> (ps.map(_._2 + 1.0).sum / ps.size) }
    }
    val want = rows.groupBy(_._1).map { case (t, xs) =>
      val rx = avgRanks(xs.map(_._2).toSeq)
      val ry = avgRanks(xs.map(_._3).toSeq)
      val pairs = xs.map(e => (rx(e._2), ry(e._3)))
      val n = pairs.size.toDouble
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      t -> (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    }
    val got = Stats.spearman(spark, Sf0001)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (t, rho) =>
      assert(rho >= -1.0 - 1e-12 && rho <= 1.0 + 1e-12, s"$t rho out of range: $rho")
      assert(math.abs(rho - want(t)) < 1e-9, s"$t: $rho != ${want(t)}")
    }
  }

  test("stats_spearman: invariant under a monotone transform of value (Pearson is not)") {
    val ev = graft.Tables.events(spark, Sf0001)
      .select(col("event_type"), col("value"), hour(col("ts")).as("hh"))
    val base = Stats.spearmanOf(ev)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // exp() is strictly increasing -> identical ranks -> identical rho
    val mono = Stats.spearmanOf(ev.withColumn("value", exp(col("value") / lit(100.0))))
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(base.keySet == mono.keySet)
    base.foreach { case (t, r) =>
      assert(math.abs(r - mono(t)) < 1e-9, s"$t: $r vs ${mono(t)}")
    }
  }

  test("stats_welch: t/df agree with a recomputation from stats_moments") {
    val m = Stats.moments(spark, Sf0001)
      .select("event_type", "n", "mean_value", "var_value")
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, na, ma, va) = m(Stats.KsGroupA)
    val (_, nb, mb, vb) = m(Stats.KsGroupB)
    val sa = va / na
    val sb = vb / nb
    val wantT  = (ma - mb) / math.sqrt(sa + sb)
    val wantDf = (sa + sb) * (sa + sb) / (sa * sa / (na - 1.0) + sb * sb / (nb - 1.0))
    val got = Stats.welchT(spark, Sf0001)
      .select("n_a", "n_b", "t_stat", "df_welch")
      .as[(Long, Long, Double, Double)].collect().head
    assert(got._1 == na && got._2 == nb)
    assert(math.abs(got._3 - wantT) < 1e-9 * math.max(1.0, math.abs(wantT)),
      s"t ${got._3} != $wantT")
    assert(math.abs(got._4 - wantDf) < 1e-9 * wantDf, s"df ${got._4} != $wantDf")
    // Welch–Satterthwaite df lies between min(na,nb)-1 and na+nb-2
    assert(got._4 >= math.min(na, nb) - 1.0 && got._4 <= na + nb - 2.0)
  }

  test("stats_chi2: statistic matches a direct contingency recomputation") {
    val ev = graft.Tables.events(spark, Sf0001)
      .select(col("event_type"), hour(col("ts")).cast("long").as("h"))
      .as[(String, Long)].collect()
    val cells = ev.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val types = ev.map(_._1).distinct
    val hours = ev.map(_._2).distinct
    val rt = types.map(t => t -> ev.count(_._1 == t).toLong).toMap
    val ct = hours.map(h => h -> ev.count(_._2 == h).toLong).toMap
    val n  = ev.size.toDouble
    val wantChi2 = (for (t <- types; h <- hours) yield {
      val o = cells.getOrElse((t, h), 0L).toDouble
      val e = rt(t).toDouble * ct(h).toDouble / n
      BigDecimal((o - e) * (o - e) / e).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }).sum.toDouble
    val got = Stats.chi2(spark, Sf0001)
      .as[(Double, Long, Long)].collect().head
    assert(math.abs(got._1 - wantChi2) < 1e-6, s"chi2 ${got._1} != $wantChi2")
    assert(got._2 == (types.size - 1L) * (hours.size - 1L))
    assert(got._3 == ev.size.toLong)
    assert(got._1 >= 0.0)
  }

  test("stats_ols: r2 is the squared stats_corr correlation") {
    val r2 = Stats.olsValueHour(spark, Sf0001)
      .select("event_type", "r2").as[(String, Double)].collect().toMap
    val corr = Stats.corrValueHour(spark, Sf0001)
      .select("event_type", "corr_value_hour").as[(String, Double)].collect().toMap
    assert(r2.keySet == corr.keySet && r2.nonEmpty)
    r2.foreach { case (t, v) =>
      assert(math.abs(v - corr(t) * corr(t)) < 1e-9, s"$t: r2 $v vs corr² ${corr(t) * corr(t)}")
    }
  }

  test("stats_ols: fitted line reproduces the group mean at the mean hour") {
    // OLS always passes through (x̄, ȳ): intercept + slope·x̄ = ȳ
    val fits = Stats.olsValueHour(spark, Sf0001)
      .select("event_type", "slope", "intercept").as[(String, Double, Double)]
      .collect().map { case (k, s, i) => (k, (s, i)) }.toMap
    val means = graft.Tables.events(spark, Sf0001)
      .groupBy("event_type")
      .agg(
        avg(hour(col("ts")).cast("double")).as("mx"),
        avg(col("value")).as("my"))
      .as[(String, Double, Double)].collect()
    means.foreach { case (t, mx, my) =>
      val (sl, ic) = fits(t)
      assert(math.abs(ic + sl * mx - my) < 1e-6, s"$t: line misses the centroid")
    }
  }

  test("text_ppl_buckets: tertile boundaries ordered, thirds within one grid cell") {
    val rows = TextAnalysis.pplBuckets(spark, Sf0001)
      .select("lang", "bucket", "n_docs", "min_nll", "max_nll")
      .as[(String, String, Long, Double, Double)].collect()
    val langs = rows.map(_._1).distinct
    langs.foreach { lang =>
      val by = rows.filter(_._1 == lang).map(r => r._2 -> r).toMap
      val n  = rows.filter(_._1 == lang).map(_._3).sum
      // buckets are score-ordered and non-overlapping
      for {
        (lo, hi) <- Seq("head" -> "middle", "middle" -> "tail", "head" -> "tail")
        l <- by.get(lo); h <- by.get(hi)
      } assert(l._5 < h._4, s"$lang: $lo max ${l._5} overlaps $hi min ${h._4}")
      // the head holds at least a third (threshold is the first grid
      // value whose cumulative count crosses n/3 — never less)
      by.get("head").foreach { h => assert(3 * h._3 >= n, s"$lang head too small") }
    }
    assert(langs.length >= 2)
  }

  test("text_ppl_buckets: bucket counts cover every scored document") {
    val bucketTotal = TextAnalysis.pplBuckets(spark, Sf0001)
      .agg(sum("n_docs")).as[Long].head()
    val scoredDocs = TextAnalysis.unigramLm(spark, Sf0001).count()
    assert(bucketTotal == scoredDocs, s"$bucketTotal bucketed vs $scoredDocs scored")
  }

  test("stats_theilsen: exact slope on a line, immune to one corrupted day") {
    def ev(day: Int, v: Double, t: String = "a") =
      (java.sql.Timestamp.valueOf(f"2025-01-${day + 1}%02d 12:00:00"), t, v)
    // perfect line value = 2*day → every pairwise slope is exactly 2
    val line = (0 until 7).map(d => ev(d, 2.0 * d))
    val (_, nPairs, slope) = Stats.theilSenOf(line.toDF("ts", "event_type", "value"))
      .as[(String, Long, Double)].head()
    assert(nPairs == 21L && slope == 2.0, s"line: n=$nPairs slope=$slope")
    // one wildly corrupted day: OLS would move, the slope median must not
    val corrupt = line.updated(3, ev(3, 1e6))
    val (_, _, robust) = Stats.theilSenOf(corrupt.toDF("ts", "event_type", "value"))
      .as[(String, Long, Double)].head()
    assert(robust == 2.0, s"corrupted day moved the Theil-Sen slope to $robust")
    // sanity on real data: one row per event type, n_pairs = D*(D-1)/2
    val real  = Stats.theilSen(spark, Sf0001)
    val types = graft.Tables.events(spark, Sf0001)
      .select("event_type").distinct().count()
    assert(real.count() == types)
  }

  test("clf_auc: rank-sum AUC matches a direct midrank recomputation") {
    val scored = TextAnalysis.qualityClf(spark, Sf0001)
      .join(spark.read.parquet(s"$Sf0001/documents.parquet").select("doc_id", "lang"), "doc_id")
      .select(col("score"), (col("lang") === "en").as("pos"))
      .as[(Double, Boolean)].collect()
    val pos = scored.filter(_._2).map(_._1).sorted
    val neg = scored.filterNot(_._2).map(_._1).sorted
    // direct pairwise count: wins + half-ties over n_pos*n_neg
    val u = pos.iterator.map { p =>
      neg.count(_ < p) + 0.5 * neg.count(_ == p)
    }.sum
    val (np, nn, auc) = TextAnalysis.clfAuc(spark, Sf0001)
      .as[(Long, Long, Double)].head()
    assert(np == pos.length.toLong && nn == neg.length.toLong)
    assert(math.abs(auc - u / (pos.length.toDouble * neg.length)) < 1e-12,
      s"auc $auc vs direct ${u / (pos.length.toDouble * neg.length)}")
  }

  test("clf_calibration: bins partition the corpus, brier and rates in range") {
    val bins = TextAnalysis.clfCalibration(spark, Sf0001)
      .as[(Long, Long, Double, Double, Double)].collect()
    val total = bins.map(_._2).sum
    val docs = TextAnalysis.qualityClf(spark, Sf0001).count()
    assert(total == docs, s"binned $total of $docs scored docs")
    bins.foreach { case (bin, n, meanP, posRate, brier) =>
      assert(bin >= 0 && bin <= 9, s"bin $bin out of range")
      assert(n > 0)
      // the bin's mean prediction must lie inside the bin's own interval
      // decimal(38,9) quantization can move each doc's p by ≤ 0.5e-9
      assert(meanP >= bin / 10.0 - 1e-8 && meanP <= (bin + 1) / 10.0 + 1e-8,
        s"bin $bin mean_p $meanP outside its decile")
      assert(posRate >= 0.0 && posRate <= 1.0)
      assert(brier >= 0.0 && brier <= 1.0)
    }
  }

  test("embed_covariance: matches a direct quantized recomputation at sf0.001") {
    val vecs = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .select("embedding").as[Seq[Float]].collect()
    val n = vecs.length
    val d = vecs.head.length
    val got = Curation.covariance(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (i, j, cn, cov) => (i, j) -> ((cn, cov)) }.toMap
    assert(got.size == d * (d + 1) / 2, s"${got.size} cells for d=$d")
    // spot-check a handful of cells against the exact long-grid sums
    // (floor quantization at 1e-9 / 1e-6 — the engine's order-free rule)
    for ((i, j) <- Seq((1, 1), (1, 2), (7, 31), (d, d))) {
      val (cn, cov) = got((i.toLong, j.toLong))
      assert(cn == n.toLong)
      var sij9 = 0L; var si6 = 0L; var sj6 = 0L
      vecs.foreach { v =>
        val xi = v(i - 1).toDouble; val xj = v(j - 1).toDouble
        sij9 += math.floor(xi * xj * 1e9).toLong
        si6  += math.floor(xi * 1e6).toLong
        sj6  += math.floor(xj * 1e6).toLong
      }
      val expect =
        ((sij9.toDouble / 1e9) - (si6.toDouble / 1e6) * (sj6.toDouble / 1e6) / n) / (n - 1)
      assert(cov == expect, s"cell ($i,$j): $cov vs $expect")
      if (i == j) assert(cov >= -1e-9, s"negative variance at dim $i")
    }
  }

  test("text_bpe_train: hand-computed merges, ties lexicographic, overlaps left-to-right") {
    def train(ts: String*) =
      TextAnalysis.bpeTrainOf(ts.toDF("t")).as[(Long, String, String, Long)]
        .collect().sortBy(_._1).toSeq
    // (a,b) outweighs (b,a); after the merge the only pair is (ab,ab);
    // then nothing is adjacent and the remaining rounds emit no row
    assert(train("abab", "abab", "ab") ==
      Seq((1L, "a", "b", 5L), (2L, "ab", "ab", 2L)))
    // overlap discipline: "aaa" merges left-to-right non-overlapping
    assert(train("aaa") == Seq((1L, "a", "a", 2L), (2L, "aa", "a", 1L)))
    // exact tie on count → lexicographically smallest pair wins
    assert(train("xy", "xz").head == ((1L, "x", "y", 1L)))
    // real corpus: exactly BpeRounds merges, counts non-increasing is NOT
    // required (later merges can beat earlier counts only if they were
    // created by a merge), but every adopted pair must have n >= 1 and
    // round numbers must be 1..BpeRounds
    val real = TextAnalysis.bpeTrain(spark, Sf0001)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(real.map(_._1).toSeq == (1 to TextAnalysis.BpeRounds).map(_.toLong))
    assert(real.forall(_._4 >= 1))
  }

  test("text_bpe_apply: subword counts bounded by chars and words, 5 merges help") {
    val docs = TextAnalysis.bpeApply(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect()
    assert(docs.nonEmpty)
    // per-doc char/word totals straight from the tokenizer
    val totals = graft.Tables.documents(spark, Sf0001)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.functions.filter(
          graft.text.Tokenize.tokenCol(col("text")), _ =!= "")).as("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nw"), sum(length(col("t"))).as("nc"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(docs.length == totals.size)
    var merged = 0L
    docs.foreach { case (id, nWords, nSub, fert) =>
      val (nw, nc) = totals(id)
      assert(nWords == nw, s"doc $id words $nWords vs $nw")
      // each word is between 1 symbol (fully merged) and len chars
      assert(nSub >= nWords && nSub <= nc, s"doc $id subwords $nSub outside [$nWords, $nc]")
      assert(math.abs(fert - nSub.toDouble / nWords) < 1e-15)
      merged += nc - nSub
    }
    assert(merged > 0, "five merge rounds must shorten at least one document")
  }

  test("multimodal_resize: box fit preserves aspect and never upscales") {
    val rows = graft.multimodal.Multimodal.resizePlan(spark, Sf0001)
      .select("src_w", "src_h", "out_w", "out_h", "scale", "resample_sum")
      .as[(Long, Long, Long, Long, Double, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (sw, sh, ow, oh, sc, sum) =>
      assert(sc > 0 && sc <= 1.0, s"scale $sc")
      assert(ow <= math.max(1, graft.multimodal.Multimodal.ResizeBox)
        && oh <= graft.multimodal.Multimodal.ResizeBox, s"box overflow ${ow}x$oh")
      assert(ow == math.max(1L, math.floor(sw * sc).toLong), "width not floor(src*scale)")
      assert(oh == math.max(1L, math.floor(sh * sc).toLong), "height not floor(src*scale)")
      assert(sum >= 0, "resample checksum must be non-negative")
    }
  }

  test("stats_kendall: ±1 at perfect (dis)cordance, direct pair recompute on sf0.001") {
    def ev(h: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2025-01-01 $h%02d:00:00"), v)
    // magnitude classes 2/3/4 rise with the hour → every pair concordant
    val up = Seq(ev(1, 1.5), ev(2, 3.5), ev(3, 7.5)).toDF("ts", "value")
    val (n1, nc1, nd1, t1) = Stats.kendallOf(up)
      .as[(Long, Double, Double, Double)].head()
    assert((n1, nc1, nd1, t1) == ((3L, 3.0, 0.0, 1.0)), s"concordant: $t1")
    val down = Seq(ev(1, 7.5), ev(2, 3.5), ev(3, 1.5)).toDF("ts", "value")
    assert(Stats.kendallOf(down).as[(Long, Double, Double, Double)].head()._4 == -1.0)
    // real data: O(n²) pair loop over the collected (hour, class) marks
    val marks = graft.Tables.events(spark, Sf0001)
      .select(hour(col("ts")).cast("long"),
        length(bin(floor(col("value")).cast("long") + 1)).cast("long"))
      .as[(Long, Long)].collect()
    var nc = 0L; var nd = 0L
    for (i <- marks.indices; j <- (i + 1) until marks.length) {
      val ((h1, g1), (h2, g2)) = (marks(i), marks(j))
      if (h1 != h2 && g1 != g2) {
        if ((h1 < h2) == (g1 < g2)) nc += 1 else nd += 1
      }
    }
    val n  = marks.length.toLong
    val s0 = BigInt(n) * (n - 1)
    def tie(ks: Array[Long]) = ks.groupBy(identity).values
      .map(g => BigInt(g.length) * (g.length - 1)).sum
    val want = 2.0 * (nc - nd) /
      math.sqrt((s0 - tie(marks.map(_._1))).toDouble * (s0 - tie(marks.map(_._2))).toDouble)
    val got = Stats.kendall(spark, Sf0001).as[(Long, Double, Double, Double)].head()
    assert(got._1 == n && got._2 == nc.toDouble && got._3 == nd.toDouble,
      s"pair counts: $got vs ($n, $nc, $nd)")
    assert(math.abs(got._4 - want) < 1e-12, s"tau ${got._4} != $want")
  }

  test("stats_levene: location-shift invariant, F=0 when groups share |deviation|s") {
    def g(t: String, vs: Seq[Double]) = vs.map(v => (t, v))
    // integer data with exact means: shifting one group by +100 moves its
    // mean by exactly 100, so every z — and therefore F — is bit-identical
    val base = g("a", Seq(1, 2, 3, 6)) ++ g("b", Seq(10, 20, 30, 80))
    val shif = g("a", Seq(101, 102, 103, 106)) ++ g("b", Seq(10, 20, 30, 80))
    val fb = Stats.leveneOf(base.toDF("event_type", "value"))
      .as[(Long, Long, Double, Double, Double)].head()
    val fs = Stats.leveneOf(shif.toDF("event_type", "value"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(fb == fs, s"location shift changed the statistic: $fb vs $fs")
    // same deviation multiset in both groups → between-group spread ~ 0
    val same = g("a", Seq(1, 2, 3, 6)) ++ g("b", Seq(11, 12, 13, 16))
    val (k0, n0, ssb0, ssw0, f0) = Stats.leveneOf(same.toDF("event_type", "value"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert((k0, n0) == ((2L, 8L)))
    assert(math.abs(ssb0) < 1e-5 && math.abs(f0) < 1e-4, s"ssb $ssb0 F $f0")
    assert(ssw0 > 0)
    val real = Stats.levene(spark, Sf0001)
      .as[(Long, Long, Double, Double, Double)].head()
    // f_stat inherits ssb's float-cancellation slack: it is ssb scaled by
    // positive factors, so it gets the same -1e-9 tolerance, not >= 0
    assert(real._3 >= -1e-9 && real._4 > 0 && real._5 >= -1e-9, s"real F: $real")
  }

  test("stats_mutual_info: 0 under independence, H(type) under determinism") {
    def ev(t: String, h: Int) =
      (java.sql.Timestamp.valueOf(f"2025-01-01 $h%02d:00:00"), t)
    // uniform 2×2 grid: type ⟂ hour → I = 0, U = 0
    val indep = Seq(ev("a", 0), ev("a", 1), ev("b", 0), ev("b", 1))
      .toDF("ts", "event_type")
    val (ni, mi, ht, hh, u) = Stats.mutualInfoOf(indep)
      .as[(Long, Double, Double, Double, Double)].head()
    assert(ni == 4L && mi == 0.0 && u == 0.0, s"independent: $mi, $u")
    assert(math.abs(ht - math.log(2)) < 1e-8 && math.abs(hh - math.log(2)) < 1e-8)
    // hour determines type → I = H(type), U = 1
    val det = Seq(ev("a", 0), ev("a", 0), ev("b", 1), ev("b", 1))
      .toDF("ts", "event_type")
    val d = Stats.mutualInfoOf(det).as[(Long, Double, Double, Double, Double)].head()
    assert(math.abs(d._2 - math.log(2)) < 1e-8 && math.abs(d._5 - 1.0) < 1e-8,
      s"deterministic: $d")
    // real data: 0 ≤ I ≤ min(H(type), H(hour)); quantization slack 1e-8
    val r = Stats.mutualInfo(spark, Sf0001).as[(Long, Double, Double, Double, Double)].head()
    assert(r._2 >= -1e-8 && r._2 <= math.min(r._3, r._4) + 1e-8, s"real MI: $r")
    assert(r._5 >= -1e-8 && r._5 <= 1.0 + 1e-8)
  }

  test("text_collocation_llr: perfect collocation dominates, G2 matches a hand computation") {
    // 6 perfectly-associated pairs, 10 gamma-bigrams of which only 5 are
    // 'gamma delta' (partial association), 20 unique filler bigrams that
    // only add marginal/total mass (below the support cut)
    val docs =
      (1 to 6).map(i => (i.toLong, "alpha beta")) ++
      (7 to 11).map(i => (i.toLong, "gamma delta")) ++
      (12 to 16).map(i => (i.toLong, "gamma zeta")) ++
      (17 to 36).map(i => (i.toLong, s"u$i v$i"))
    val got = TextAnalysis.llrTopOf(docs.toDF("doc_id", "text"))
      .as[(String, Long, Double)].collect()
    // G2 is a deviance: never negative beyond grid rounding
    assert(got.forall(_._3 >= -1e-6), s"negative llr: ${got.minBy(_._3)}")
    val byName = got.map(r => r._1 -> r._3).toMap
    assert(byName.contains("alpha beta") && byName.contains("gamma delta"))
    assert(byName("alpha beta") > byName("gamma delta"),
      "perfect association must outscore the diluted pair")
    // bit-check 'alpha beta' against the closed-form cells:
    // k=6, r=6, c=6, N=36 — same double op order, same decimal grid
    val (k, r, c, n) = (6.0, 6.0, 6.0, 36.0)
    def cell(kk: Double, num: Double, den: Double): Double =
      if (kk > 0) kk * math.log(num / den) else 0.0
    val g2 = 2.0 * (
      cell(k, n * k, r * c) +
      cell(r - k, n * (r - k), r * (n - c)) +
      cell(c - k, n * (c - k), (n - r) * c) +
      cell(n - r - c + k, n * (n - r - c + k), (n - r) * (n - c)))
    val want = new java.math.BigDecimal(g2)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(byName("alpha beta") == want,
      s"alpha beta: got ${byName("alpha beta")}, hand computation $want")
  }

  test("stats_benford: exact cents digits, law mass sums to 1, chi2 internally consistent") {
    // sub-dollar, boundary-9, and mid-range prices: the cents-floor path
    // must recover the exact leading digit for each
    val fix = Seq(0.01, 0.07, 123.45, 999.99, 500.00, 55.55)
      .toDF("l_extendedprice")
    val g = Stats.benfordOf(fix)
      .select("digit", "n_obs").as[(Long, Long)].collect().toMap
    assert(g == Map(1L -> 2L, 7L -> 1L, 9L -> 1L, 5L -> 2L), s"got $g")
    // real data: all 9 digits, probabilities coherent, chi2 recomputable
    val rows = Stats.benford(spark, Sf0001)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rows.map(_._1).sorted.toSeq == (1L to 9L))
    val pbSum = rows.map(_._4).sum
    assert(math.abs(pbSum - 1.0) < 1e-8, s"Benford masses sum to $pbSum")
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-12)
    val nTotal = rows.map(_._2).sum.toDouble
    for ((d, n, _, pb, chi) <- rows) {
      val e = nTotal * pb
      assert(chi == ((n.toDouble - e) * (n.toDouble - e)) / e, s"digit $d chi2 drifts")
    }
  }

  test("events_changepoint: exact step localization, brute-force argmax parity") {
    import java.sql.Timestamp
    def ev(t: String, h: Int, v: Double) = (new Timestamp(h * 3600000L), t, v)
    // clean level shift 10 -> 20 at k=10: score = (10*10/20)*10^2 = 500
    val step = (0 to 9).map(ev("step", _, 10.0)) ++ (10 to 19).map(ev("step", _, 20.0))
    // irregular series for the brute-force check (halves: exact quantization)
    val vals  = Seq(1.5, 2.5, 1.5, 2.5, 100.0, 101.5, 99.5)
    val rough = vals.zipWithIndex.map { case (v, h) => ev("rough", h, v) }
    val got = Events.changepointOf((step ++ rough).toDF("ts", "event_type", "value"))
      .select("event_type", "split_index", "n_hours", "mean_left", "mean_right", "score")
      .as[(String, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("step") == (("step", 10L, 20L, 10.0, 20.0, 500.0)), s"${got("step")}")
    // brute force over every split with the same quantization path
    val xq = vals.map(v => math.floor(v * 1e9).toLong)
    val t  = xq.length
    val best = (1 until t).map { k =>
      val ml = (xq.take(k).sum.toDouble / 1e9) / k.toDouble
      val mr = (xq.drop(k).sum.toDouble / 1e9) / (t - k).toDouble
      val sc = (k.toDouble * (t - k).toDouble / t.toDouble) * ((ml - mr) * (ml - mr))
      (k.toLong, ml, mr, sc)
    }.maxBy(r => (r._4, -r._1))
    assert(got("rough") == (("rough", best._1, t.toLong, best._2, best._3, best._4)))
    // real data: a valid interior split with non-negative score per type
    val real = Events.changepoint(spark, Sf0001)
      .select("split_index", "n_hours", "score")
      .as[(Long, Long, Double)].collect()
    assert(real.nonEmpty)
    assert(real.forall { case (k, n, sc) => k >= 1 && k < n && sc >= 0.0 })
  }

  test("text_readability: hand-counted fixture, simple text reads easier than dense text") {
    val docs = Seq(
      // 6 words, 2 sentences, syllable runs: he-llo wo-rld this is ea-sy yes
      (1L, "Hello world. This is easy, yes!"),
      // no sentence punctuation at all -> 1 segment with letters
      (2L, "just words no stops"),
      (3L, "...!?"), // punctuation only: everything guards to 0
      (4L, "Extraordinarily sophisticated terminology necessitates comprehension."))
    val got = TextAnalysis.readabilityOf(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    val d1 = got(1L)
    assert(d1._2 == 6 && d1._3 == 2, s"$d1")
    // vowel runs of lower("hello world. this is easy, yes!"):
    // hello(e,o)=2, world(o)=1, this(i)=1, is(i)=1, easy(ea)=1 (y is not
    // in [aeiou]), yes(e)=1 -> 7
    assert(d1._4 == 7, s"syllable runs: $d1")
    assert(d1._5 == 3.0 && d1._6 == 7.0 / 6.0)
    assert(d1._7 == 206.835 - 1.015 * 3.0 - 84.6 * (7.0 / 6.0))
    assert(got(2L)._3 == 1L, "unpunctuated text is one sentence segment")
    assert(got(3L) == ((3L, 0L, 0L, 0L, 0.0, 0.0, 0.0, 0.0)))
    // the polysyllabic monster must grade harder than the easy one
    assert(got(4L)._8 > got(1L)._8)
    val real = TextAnalysis.readability(spark, Sf0001)
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)].collect()
    assert(real.nonEmpty && real.forall(r => r._2 >= 0 && r._3 >= 0))
  }

  test("text_mtld: equals an independent sequential replay, ranks diversity correctly") {
    // independent walk, same constants — the sequential oracle trick
    def replay(tokens: Seq[String]): (Long, Double) = {
      var factors = 0L; var t = 0L; var types = Set.empty[String]
      tokens.take(TextAnalysis.MtldMaxTokens).foreach { tok =>
        types += tok; t += 1
        if (types.size.toDouble / t.toDouble < TextAnalysis.MtldTtr) {
          factors += 1; t = 0; types = Set.empty
        }
      }
      val partial =
        if (t > 0) (1.0 - types.size.toDouble / t.toDouble) / (1.0 - TextAnalysis.MtldTtr)
        else 0.0
      val denom = factors.toDouble + partial
      val n     = math.min(tokens.length, TextAnalysis.MtldMaxTokens)
      // never-draining text (running TTR pinned at 1) carries at least
      // its full length of diversity — n, not a 0 that would rank pure
      // variety below boilerplate
      (factors, if (denom > 0.0) n.toDouble / denom else n.toDouble)
    }
    val docs = Seq(
      (1L, "the the the the the the the the"),                 // repetitive
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),   // all distinct
      (3L, "a b a b c a d e f g h a b"),                       // mixed
      (4L, ""))                                                // empty: dropped
    val got = TextAnalysis.mtldOf(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(4L))
    docs.filter(_._2.nonEmpty).foreach { case (id, text) =>
      val toks = text.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq
      val (f, m) = replay(toks)
      assert(got(id) == ((id, toks.length.toLong, f, m)), s"doc $id: ${got(id)} vs ($f, $m)")
    }
    // repetitive text must score strictly below fully-diverse text
    assert(got(1L)._4 < got(2L)._4)
    // real data: n_tokens capped, mtld non-negative
    val real = TextAnalysis.mtld(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r._2 <= TextAnalysis.MtldMaxTokens && r._4 >= 0.0))
  }

  test("text_rake: hand-computed degree/frequency scores on a two-doc fixture") {
    // stopwords {the, a, and, of, to, in}; doc 1 yields phrases
    // "quick brown fox" (len 3) and "lazy dog" (len 2), doc 2 "quick dog"
    val docs = Seq(
      (1L, "the quick brown fox and the lazy dog"),
      (2L, "quick dog")).toDF("doc_id", "text")
    val got = TextAnalysis.rakeOf(docs)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    // freq: quick 2, dog 2, brown/fox/lazy 1; deg: quick 3+2=5, dog
    // 2+2=4, brown/fox 3, lazy 2 -> wscores 2.5, 2, 3, 3, 2 (all exact)
    assert(got("quick brown fox") == (("quick brown fox", 1L, 2.5 + 3.0 + 3.0)))
    assert(got("quick dog") == (("quick dog", 1L, 2.5 + 2.0)))
    assert(got("lazy dog") == (("lazy dog", 1L, 2.0 + 2.0)))
    assert(got.size == 3)
    // real data: capped output, scores positive and ranked
    val real = TextAnalysis.rake(spark, Sf0001)
      .as[(String, Long, Double)].collect()
    assert(real.nonEmpty && real.length <= TextAnalysis.RakeTopN)
    assert(real.forall(r => r._3 > 0.0 && r._2 >= 1))
    assert(real.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("text_vocab_coverage: monotone curve, exact edge cases") {
    val rows = TextAnalysis.vocabCoverage(spark, Sf0001)
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == TextAnalysis.CoverageNs)
    rows.foreach { case (n, used, cov, tot, vs, c) =>
      assert(used == math.min(n, vs), s"top-$n used $used of vocab $vs")
      assert(cov <= tot && c == cov.toDouble / tot.toDouble)
      if (n >= vs) assert(cov == tot && c == 1.0, s"full vocab must cover all")
    }
    // coverage non-decreasing in N
    assert(rows.map(_._6).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("events_fano: Poisson-regular fixture = 1 - 1/mean... exact dispersion arithmetic") {
    import java.sql.Timestamp
    def ev(t: String, h: Int, i: Int) = (new Timestamp(h * 3600000L + i), t, 0.0)
    // "flat": exactly 4 events every hour for 6 hours -> variance 0, fano 0
    val flat = for (h <- 0 until 6; i <- 0 until 4) yield ev("flat", h, i)
    // "burst": 12 events in hour 0, then nothing until an anchor in hour
    // 5 -> span 6, counts (12,0,0,0,0,1)
    val burst = (0 until 12).map(ev("burst", 0, _)) :+ ev("burst", 5, 0)
    val got = Events.fanoOf((flat ++ burst).toDF("ts", "event_type", "value"))
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("flat") == (("flat", 6L, 6L, 24L, 4.0, 0.0, 0.0)), s"${got("flat")}")
    val b = got("burst")
    // mean 13/6; E[c^2] = (144+1)/6; var = E[c^2]-mean^2 (exact chain)
    val mean = 13.0 / 6.0; val ex2 = 145.0 / 6.0
    assert(b == (("burst", 6L, 2L, 13L, mean, ex2 - mean * mean,
      (ex2 - mean * mean) / mean)), s"$b")
    assert(b._7 > 1.0, "a burst must be over-dispersed")
    // real data: spans cover active hours, fano non-negative
    val real = Events.fano(spark, Sf0001)
      .as[(String, Long, Long, Long, Double, Double, Double)].collect()
    assert(real.nonEmpty)
    real.foreach { case (t, span, active, n, m, v, f) =>
      assert(span >= active && m > 0.0 && v >= 0.0 && f >= 0.0, s"$t")
    }
  }

  test("events_survival_km: hand-computed curve with censoring, real-data monotonicity") {
    import java.sql.Timestamp
    def ev(t: String, u: Long, h: Int) = (new Timestamp(h * 3600000L), t, u)
    // type "a", horizon 72h, gmax anchored at h=1000 by type "z":
    //  u1,u2: lifetime 10h observed; u3: 20h observed; u5: 0h observed;
    //  u4: 990h, last event 10h from the edge -> CENSORED
    val rows =
      Seq(ev("a", 1, 0), ev("a", 1, 10), ev("a", 2, 0), ev("a", 2, 10),
        ev("a", 3, 0), ev("a", 3, 20), ev("a", 4, 0), ev("a", 4, 990),
        ev("a", 5, 5), ev("z", 9, 1000))
    val got = Events.survivalKmOf(rows.toDF("ts", "event_type", "user_id"))
      .as[(String, Long, Long, Double, Double, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    // mirror the fold's exact IEEE step order
    val s0 = 1.0 * (4.0 / 5.0)  // t=0:  d=1 of n=5
    val s1 = s0 * (2.0 / 4.0)   // t=10: d=2 of n=4
    val s2 = s1 * (1.0 / 2.0)   // t=20: d=1 of n=2
    val s3 = s2 * (1.0 / 1.0)   // t=990: censor-only step, curve flat
    assert(got("a") == (("a", 5L, 4L, s2, s2, 10L, s3)), s"${got("a")}")
    // the censored-only type: curve never moves, median never reached
    assert(got("z") == (("z", 1L, 0L, 1.0, 1.0, -1L, 1.0)))
    // real data: S non-increasing over horizons, probabilities in [0,1],
    // median only when the curve actually crossed 1/2
    val real = Events.survivalKm(spark, Sf0001)
      .as[(String, Long, Long, Double, Double, Long, Double)].collect()
    assert(real.nonEmpty)
    real.foreach { case (t, n, d, s24, s72, med, fin) =>
      assert(n >= d && d >= 0, s"$t: counts")
      assert(s24 >= s72 && s72 >= fin && fin >= 0.0 && s24 <= 1.0, s"$t: monotone")
      assert(med == -1L || fin <= 0.5 + 1e-12 || s72 <= 0.5 + 1e-12 || med >= 0, s"$t: median")
    }
  }

  test("stats_kruskal: H >= 0, tie correction inflates, k=2 collapses to Mann-Whitney z^2") {
    val (n, k, dof, h, hc) = Stats.kruskal(spark, Sf0001)
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(n > 0 && dof == k - 1 && h >= 0.0)
    assert(hc >= h, "the tie correction divides by C <= 1")
    // algebraic identity: restricted to two groups, tie-corrected H
    // equals the Mann-Whitney z² (same midranks, same tie mass)
    val two = Stats.kruskalOf(graft.Tables.events(spark, Sf0001)
      .filter(col("event_type").isin(Stats.KsGroupA, Stats.KsGroupB)))
      .as[(Long, Long, Long, Double, Double)].collect().head
    val z = Stats.mannWhitney(spark, Sf0001)
      .select("z_stat").as[Double].collect().head
    assert(math.abs(two._5 - z * z) < 1e-6,
      s"k=2 H_c ${two._5} != z^2 ${z * z}")
  }

  test("stats_cohens_d: full pair grid, welch-consistent means, g shrinks d") {
    val rows = Stats.cohensD(spark, Sf0001)
      .as[(String, String, Long, Long, Double, Double, Double, Double)].collect()
    val types = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
    assert(rows.length == types.length * (types.length - 1) / 2, "not the full pair grid")
    rows.foreach { case (ta, tb, na, nb, ma, mb, d, g) =>
      assert(ta < tb && na > 1 && nb > 1)
      // d carries the sign of the mean difference; g is the same sign
      // strictly shrunk toward zero (4(na+nb)-9 > 3 for any real pair)
      assert(math.signum(d) == math.signum(ma - mb) || d == 0.0, s"$ta/$tb sign")
      assert(math.abs(g) < math.abs(d) || d == 0.0, s"$ta/$tb |g| !< |d|")
      assert(g * d >= 0.0, s"$ta/$tb g flipped sign")
    }
    // the welch pair's means come from the same decimal-sum path
    val (_, _, meanA, meanB, _, _) = Stats.welchT(spark, Sf0001)
      .as[(Long, Long, Double, Double, Double, Double)].collect().head
    val wp = rows.find(r => Set(r._1, r._2) == Set(Stats.KsGroupA, Stats.KsGroupB)).get
    val (gotA, gotB) = if (wp._1 == Stats.KsGroupA) (wp._5, wp._6) else (wp._6, wp._5)
    assert(gotA == meanA && gotB == meanB, "welch/cohens mean mismatch")
  }

  test("stats_cramers_v: 1 under perfect association, 0 under independence, chi2-consistent") {
    // perfect 2x2 association: type A only in hour 1, type B only in hour 2
    val assoc = (Seq.fill(10)(("A", 1L)) ++ Seq.fill(10)(("B", 2L)))
      .toDF("event_type", "h")
    val va = Stats.cramersVOf(Stats.chi2CellsOf(assoc))
      .as[(Double, Long, Long, Long, Double, Double)].collect().head
    assert(va._1 == 20.0 && va._2 == 20L && va._5 == 1.0, s"$va")
    // independence: uniform 2x2 grid -> chi2 = 0 -> V = 0 (and V_bc = 0)
    val indep = (for (t <- Seq("A", "B"); h <- Seq(1L, 2L); _ <- 1 to 5)
      yield (t, h)).toDF("event_type", "h")
    val vi = Stats.cramersVOf(Stats.chi2CellsOf(indep))
      .as[(Double, Long, Long, Long, Double, Double)].collect().head
    assert(vi._1 == 0.0 && vi._5 == 0.0 && vi._6 == 0.0, s"$vi")
    // real data: V recomputes bit-for-bit from the stats_chi2 row
    val (chi2, dof, n) = Stats.chi2(spark, Sf0001)
      .as[(Double, Long, Long)].collect().head
    val (c2, n2, r, c, v, vbc) = Stats.cramersV(spark, Sf0001)
      .as[(Double, Long, Long, Long, Double, Double)].collect().head
    assert(c2 == chi2 && n2 == n && (r - 1) * (c - 1) == dof)
    assert(v == math.sqrt((chi2 / n.toDouble) / math.min(r - 1.0, c - 1.0)))
    assert(v >= 0.0 && v <= 1.0 && vbc >= 0.0 && vbc <= 1.0)
  }

  test("events_holt: tracks a linear series exactly, drops single-hour types") {
    import java.sql.Timestamp
    // x_h = 10 + 2.5h on hours 0..9 — halves, so every step is exact in
    // binary and Holt's invariant (l_t = x_t, b_t = slope, zero SSE on a
    // line) must hold to the bit
    val rows = (0 to 9).map { h =>
      (new Timestamp(h * 3600000L), "lin", 10.0 + 2.5 * h)
    } :+ ((new Timestamp(0L), "solo", 42.0))
    val got = Events.holtOf(rows.toDF("ts", "event_type", "value"))
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(!got.contains("solo"), "a 1-hour series cannot seed a trend")
    val (_, n, level, trend, f1, f3, sse) = got("lin")
    assert(n == 10L && level == 32.5 && trend == 2.5 && sse == 0.0)
    assert(f1 == 35.0 && f3 == 40.0)
    // real data: every type present with >= 2 hours, non-negative SSE
    val real = Events.holt(spark, Sf0001)
      .as[(String, Long, Double, Double, Double, Double, Double)].collect()
    assert(real.nonEmpty && real.forall(r => r._2 >= 2 && r._7 >= 0.0))
  }

  test("text_bigram_kn: hand-computed Kneser-Ney fixture, proper NLL bounds on sf0.001") {
    // corpus: doc1 = "a b a c", doc2 = "a b d"
    // bigram types: ab(2) ba(1) ac(1) bd(1); T=4
    // left  w1=a: c1=3 nfol=2 | w1=b: c1=2 nfol=2
    // right nprec: every type's w2 (b,a,c,d) is preceded by exactly 1 type
    val docs = Seq((1L, "a b a c"), (2L, "a b d")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramKnOf(docs)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    def p(c2: Double, nfol: Double, nprec: Double, c1: Double): Double =
      (math.max(c2 - TextAnalysis.KnDiscount, 0.0) +
        TextAnalysis.KnDiscount * nfol * (nprec / 4.0)) / c1
    def nll(pr: Double): java.math.BigDecimal =
      new java.math.BigDecimal(-math.log(pr)).setScale(6, java.math.RoundingMode.HALF_UP)
    val (ab, ba, ac, bd) =
      (nll(p(2, 2, 1, 3)), nll(p(1, 2, 1, 2)), nll(p(1, 2, 1, 3)), nll(p(1, 2, 1, 2)))
    // doc1 bigrams {ab, ba, ac}; doc2 {ab, bd}
    assert(got(1L)._2 == 3L && got(2L)._2 == 2L)
    assert(got(1L)._3 == ab.add(ba).add(ac).doubleValue() / 3.0,
      s"doc1 mean: got ${got(1L)._3}")
    assert(got(1L)._4 == ba.max(ac).max(ab).doubleValue())
    assert(got(2L)._3 == ab.add(bd).doubleValue() / 2.0)
    assert(got(2L)._4 == bd.doubleValue())
    // the discounted mass makes every smoothed prob < the MLE c2/c1 when
    // the continuation share is below 1 — seen bigrams pay for unseen
    assert(p(2, 2, 1, 3) < 2.0 / 3.0 && p(1, 2, 1, 2) < 1.0 / 2.0)
    // sf0.001: P(w2|w1) <= 1 by the interpolation identity, so NLL >= 0
    val real = TextAnalysis.bigramKn(spark, Sf0001)
      .as[(Long, Long, Double, Double)].collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r._3 >= 0.0 && r._4 >= r._3),
      "mean NLL must be non-negative and bounded by the max")
  }

  test("curate_l_diversity: levels partition the QI groups and rows, pct sums to 1") {
    val ev = graft.Tables.events(spark, Sf0001)
    val rows = Curation.lDiversity(spark, Sf0001).collect()
    val domain = ev.select("event_type").distinct().count()
    rows.foreach { r =>
      val l = r.getAs[Long]("l")
      assert(l >= 1L && l <= domain, s"diversity level $l outside [1, $domain]")
    }
    // the level histogram partitions both the QI-group set and the rows
    val nQi = ev.select(hour(col("ts")), floor(col("value") / 25.0))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_groups")).sum == nQi)
    assert(rows.map(_.getAs[Long]("n_rows")).sum == ev.count())
    assert(math.abs(rows.map(_.getAs[Double]("pct_rows")).sum - 1.0) < 1e-12)
  }

  test("events_attribution: window pick equals an independent join+argmax formulation") {
    val att = Events.attribution(spark, Sf0001).collect()
      .map(r => r.getAs[String]("channel") -> r.getAs[Long]("n_conv")).toMap
    val ev = graft.Tables.events(spark, Sf0001)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
    val touches = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id"), col("ts").as("tts"), col("event_id").as("tid"),
        col("event_type").as("channel"))
    // independent path: join every purchase to ALL its prior touches and
    // take the (ts, event_id)-max — same winner the one-pass window picks
    // a non-prior touch is nulled out (not filtered) so a purchase whose
    // only touches come later still yields a 'direct' group
    val isPrior = col("tts") < col("pts") ||
      (col("tts") === col("pts") && col("tid") < col("pid"))
    val viaJoin = purchases
      .join(touches, Seq("user_id"), "left")
      .groupBy("user_id", "pts", "pid")
      .agg(max_by(when(isPrior, col("channel")),
        when(isPrior, struct(col("tts"), col("tid")))).as("channel"))
      .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_conv"))
      .collect()
      .map(r => r.getAs[String]("channel") -> r.getAs[Long]("n_conv")).toMap
    assert(att == viaJoin, s"window=$att join=$viaJoin")
    assert(att.values.sum ==
      ev.filter(col("event_type") === "purchase").count())
  }

  test("sessionize invariants: events partition exactly into sessions") {
    val total = Tables.events(spark, Sf0001).count()
    val sessions = graft.ops.Events.sessionize(spark, Sf0001)
      .select("n_events", "start_us", "end_us")
      .as[(Long, Long, Long)].collect()
    assert(sessions.map(_._1).sum == total, "session sizes must sum to the event count")
    assert(sessions.forall { case (_, s, e) => s <= e }, "session start must not exceed end")
  }
}
