package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestBase, Tables}

/** Properties of the curation operators the row-level oracle can't state:
  * the packing invariants (coverage, overflow bound, partitioning
  * independence) that make seq_pack's shards safe to feed a trainer.
  */
class CurationSpec extends AnyFunSuite with SparkTestBase {

  test("source_js_divergence: symmetric-positive, bounded by ln2, full pair grid") {
    import spark.implicits._
    val rows = Curation.jsDivergence(spark, Sf0001)
      .as[(String, String, Double, Double)].collect()
    val srcs = rows.flatMap(r => Seq(r._1, r._2)).distinct
    assert(rows.length == srcs.length * (srcs.length - 1) / 2, "not the full pair grid")
    rows.foreach { case (a, b, nats, bits) =>
      assert(a < b, s"$a/$b not canonical")
      // JS is non-negative and bounded by ln 2 (bits in [0, 1]); the
      // per-token 1e-9 quantization can only dent, never exceed, either
      assert(nats >= -1e-6 && nats <= Curation.Ln2 + 1e-6, s"$a/$b nats=$nats")
      assert(bits >= -1e-6 && bits <= 1.0 + 1e-6, s"$a/$b bits=$bits")
      assert(math.abs(bits - nats / Curation.Ln2) < 1e-12)
    }
    // sources draw from one synthetic distribution family — divergences
    // must be small but strictly positive (distinct samples)
    assert(rows.forall(_._3 > 0.0), "identical distributions are implausible")
  }
  import spark.implicits._

  test("doc_global_ids: contiguous 1..n in key order, equal to the window twin") {
    import org.apache.spark.sql.expressions.Window
    val got = Curation.globalIds(spark, Sf0001)
    val n   = Tables.documents(spark, Sf0001).count()
    // dense cover of 1..n: right count, right bounds, no duplicates
    val ids = got.select("global_id").as[Long].collect().sorted
    assert(ids.length == n && ids.head == 1L && ids.last == n && ids.distinct.length == n)
    // bit-equal to the single-partition window formulation it replaces
    val twin = Tables.documents(spark, Sf0001)
      .select(col("doc_id"),
        row_number().over(Window.orderBy("doc_id")).cast("long").as("global_id"))
    assert(got.except(twin).isEmpty && twin.except(got).isEmpty)
  }

  test("doc_global_ids: independent of input partitioning") {
    val base = Curation.globalIds(spark, Sf0001).collect().toSet
    val many = Tables.documents(spark, Sf0001).repartition(13)
    import spark.implicits.localSeqToDatasetHolder
    val viaRepart = many.select(col("doc_id")).orderBy("doc_id")
      .rdd.map(_.getLong(0)).zipWithIndex()
      .map { case (d, i) => (d, i + 1L) }.toDF("doc_id", "global_id")
    assert(viaRepart.collect().toSet == base)
  }

  test("seq_pack: shards cover every document exactly once") {
    val shards = Curation.seqPack(spark, Sf0001)
    val nDocs  = Tables.documents(spark, Sf0001).count()
    assert(shards.agg(sum("n_docs")).as[Long].head() == nDocs)
  }

  test("seq_pack: no shard exceeds capacity by more than one document") {
    // a doc that starts inside a shard's token window stays there, so a
    // shard holds at most capacity + (longest single doc) tokens; a doc
    // longer than the capacity legitimately owns its own oversized shard
    val maxDoc = Tables.documents(spark, Sf0001)
      .select(size(split(col("text"), "[^\\p{L}]+")).cast("long"))
      .as[Long].collect().max
    val worst = Curation.seqPack(spark, Sf0001)
      .agg(max("n_tokens")).as[Long].head()
    assert(worst <= Curation.PackCapacity + maxDoc,
      s"shard of $worst tokens exceeds capacity ${Curation.PackCapacity} + max doc $maxDoc")
  }

  test("seq_pack: shard ids are dense per lane and lane count is bounded") {
    val shards = Curation.seqPack(spark, Sf0001)
      .select("bucket", "shard_id").as[(Long, Long)].collect()
    val nDocs = Tables.documents(spark, Sf0001).count()
    assert(shards.map(_._1).distinct.length <= Curation.packLanes(nDocs))
    shards.groupBy(_._1).foreach { case (b, xs) =>
      val ids = xs.map(_._2).sorted
      assert(ids.head == 0 && ids.last == ids.length - 1,
        s"lane $b shard ids not dense: ${ids.mkString(",")}")
    }
  }

  test("seq_pack: lane count scales with corpus size, never a fixed ceiling") {
    // sf0.001 (500 docs) → 4 lanes; sf0.1 (5000 docs) → 40. A constant
    // lane count would cap the packing sort's parallelism at any scale.
    val small = Curation.seqPack(spark, Sf0001)
      .select("bucket").distinct().count()
    val large = Curation.seqPack(spark, "/root/testdata/sf0.1")
      .select("bucket").distinct().count()
    assert(small <= Curation.packLanes(500) && small > 1, s"small=$small")
    assert(large > small, s"lane count did not grow: $small vs $large")
  }

  test("embed_assign: literal and broadcast-join centroid paths agree bit-for-bit") {
    def rows(literal: Boolean) = Curation.assignImpl(spark, Sf0001, literal)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows(literal = true) == rows(literal = false))
  }

  test("embed_outliers: true bottom-k per cluster, via the bounded-heap exec") {
    val out = Curation.embedOutliers(spark, Sf0001)
    // the scale contract: per-centroid bottom-k runs through GroupedTopK,
    // not a K-task Window sort
    assert(out.queryExecution.executedPlan.toString.contains("GroupedTopK"),
      "embed_outliers must use the bounded-heap exec")
    val got = out.as[(Long, Long, Double, Long)].collect()
      .map { case (c, v, cos, rn) => (c, rn) -> (v, cos) }.toMap
    // brute recompute: bottom-k per centroid from the full assignment
    val brute = Curation.assignVectors(spark, Sf0001, literal = true)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._2).toSeq
      .flatMap { case (c, xs) =>
        xs.sortBy(x => (x._3, x._1)).take(Curation.OutlierK).zipWithIndex
          .map { case ((v, _, cos), i) => (c, i + 1L) -> (v, cos) }
      }.toMap
    brute.foreach { case ((c, rn), (v, cos)) =>
      assert(got.get((c, rn)).contains((v, cos)),
        s"centroid $c rank $rn: got ${got.get((c, rn))}, brute ($v, $cos)")
    }
    assert(got.size == brute.size)
  }

  test("curate_deletion: cascade counts match a direct FK recomputation, totals preserved") {
    val audit = Curation.deletionAudit(spark, Sf0001)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val cust = graft.Tables.customer(spark, Sf0001)
    val ord  = graft.Tables.orders(spark, Sf0001)
    val li   = graft.Tables.lineitem(spark, Sf0001)
    // direct recompute: collect the deleted key sets and count driver-side
    val delC = cust.filter(
      graft.functions.TextHash.hash60(col("c_custkey").cast("string")) % 100 < Curation.DelPct)
      .select("c_custkey").as[Long].collect().toSet
    val delO = ord.select("o_orderkey", "o_custkey").as[(Long, Long)].collect()
      .filter(o => delC(o._2)).map(_._1).toSet
    val delL = li.select("l_orderkey").as[Long].collect().count(delO)
    assert(audit("customer")._1 == delC.size)
    assert(audit("orders")._1 == delO.size)
    assert(audit("lineitem")._1 == delL)
    // deleted + kept must always reconstruct the full table
    assert(audit("customer")._1 + audit("customer")._2 == cust.count())
    assert(audit("orders")._1 + audit("orders")._2 == ord.count())
    assert(audit("lineitem")._1 + audit("lineitem")._2 == li.count())
    // the request band is nonempty and strictly partial at fixture scale
    assert(delC.nonEmpty && delC.size < cust.count())
  }

  test("corpus_mixture: probabilities normalize, weights are sqrt(tokens)") {
    val rows = Curation.mixture(spark, Sf0001)
      .select("n_tokens", "weight", "p_sample", "epochs")
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nt, w, p, ep) =>
      // weight is sqrt(tokens) quantized to the decimal(38,6) grid
      assert(math.abs(w - math.sqrt(nt.toDouble)) <= 5e-7, s"weight $w vs sqrt($nt)")
      assert(p > 0 && p < 1 && ep > 0)
    }
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9, "p_sample must normalize")
    // temperature flattening: sampling rate per token is higher for the
    // smallest source than the largest (the whole point of α = 0.5)
    val byTok  = rows.sortBy(_._1)
    assert(byTok.head._4 >= byTok.last._4, "smallest source must repeat at least as much")
  }

  test("embed_kmeans_iter: literal and broadcast-join paths agree bit-for-bit") {
    def rows(literal: Boolean) = Curation.kmeansIterImpl(spark, Sf0001, literal)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val lit = rows(literal = true)
    assert(lit.size == Curation.KCentroids * 64, s"expected K x dims rows, got ${lit.size}")
    assert(lit == rows(literal = false))
  }

  test("embed_kmeans_iter: new centroids are member means (spot-checked vs assignment)") {
    // every (centroid, dim) mean must lie within the member min/max for
    // that dimension — a cheap containment property that catches
    // assignment/update mismatches without recomputing the means
    val assign = Curation.assignVectors(spark, Sf0001,
      literal = true).select("vec_id", "centroid")
    val bounds = Tables.embeddings(spark, Sf0001)
      .join(assign, "vec_id")
      .select(col("centroid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("centroid"), (col("pos") + 1).cast("long").as("dim"))
      .agg(min(col("x").cast("double")).as("lo"), max(col("x").cast("double")).as("hi"))
    val bad = Curation.kmeansIter(spark, Sf0001)
      .join(bounds, Seq("centroid", "dim"))
      .filter(col("mean_val") < col("lo") - lit(1e-9) || col("mean_val") > col("hi") + lit(1e-9))
      .count()
    assert(bad == 0, s"$bad centroid dims outside member bounds")
  }

  test("source_overlap: intersections bounded by set sizes, jaccard in (0, 1]") {
    val rows = Curation.sourceOverlap(spark, Sf0001)
      .select("source_a", "source_b", "n_a", "n_b", "n_inter", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty, "fixture sources should share at least some trigrams")
    rows.foreach { case (a, b, na, nb, ni, j) =>
      assert(a < b, s"pair ($a, $b) not canonically ordered")
      assert(ni >= 1 && ni <= math.min(na, nb), s"($a, $b): n_inter $ni outside [1, min($na, $nb)]")
      assert(j > 0 && j <= 1, s"($a, $b): jaccard $j outside (0, 1]")
    }
    // at most one row per unordered source pair
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
  }

  test("curate_dsir: target-language documents score higher on average") {
    // the operator's whole purpose: docs whose hashed-bigram profile looks
    // like the target slice must get higher importance weight
    val w = Curation.dsir(spark, Sf0001)
      .join(Tables.documents(spark, Sf0001).select("doc_id", "lang"), "doc_id")
      .select(col("lang") === Curation.DsirTargetLang, col("mean_log_ratio"))
      .as[(Boolean, Double)].collect()
    val (tgt, rest) = w.partition(_._1)
    assert(tgt.nonEmpty && rest.nonEmpty)
    val mt = tgt.map(_._2).sum / tgt.length
    val mr = rest.map(_._2).sum / rest.length
    assert(mt > mr, f"target mean log ratio $mt%.4f not above non-target $mr%.4f")
  }

  test("curate_dsir: deterministic across shuffle-partition counts") {
    val a = Curation.dsir(spark, Sf0001)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    withSQLConf("spark.sql.shuffle.partitions" -> "13") {
      val b = Curation.dsir(spark, Sf0001)
        .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
      assert(a == b)
    }
  }

  test("seq_pack: deterministic across reruns and shuffle-partition counts") {
    val a = Curation.seqPack(spark, Sf0001)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    withSQLConf("spark.sql.shuffle.partitions" -> "13") {
      val b = Curation.seqPack(spark, Sf0001)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(a == b)
    }
  }

  test("embed_pca: unit norm, PSD eigenvalue, matches a JVM power iteration") {
    val rows = Curation.pcaTop(spark, Sf0001)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    val v      = rows.map(_._2)
    val eigval = rows.head._3
    // the iterate quantizes matrix-vector terms onto the decimal(38,12)
    // grid, so the final normalization is unit only to ~d·1e-9
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-6, "loadings not unit norm")
    assert(eigval >= -1e-9, s"covariance Rayleigh quotient negative: $eigval")
    // independent reimplementation: collect the covariance grid and run
    // the same number of plain-double power iterations JVM-side; the
    // quantized distributed iterate must align with it (direction, not
    // bits — the JVM twin skips the decimal grid on purpose)
    val cov = Curation.covariance(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect()
    val d = v.length
    val c = Array.ofDim[Double](d, d)
    cov.foreach { case (i, j, _, x) => c(i.toInt - 1)(j.toInt - 1) = x; c(j.toInt - 1)(i.toInt - 1) = x }
    var w = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to Curation.PcaIterations) {
      val y = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * w(j)).sum)
      val n = math.sqrt(y.map(x => x * x).sum)
      w = y.map(_ / n)
    }
    val cos = v.zip(w).map { case (a, b) => a * b }.sum
    assert(math.abs(cos) > 0.9999, s"distributed vs JVM iterate cosine $cos")
    val lamJvm = (0 until d).map(i => (0 until d).map(j => w(i) * c(i)(j) * w(j)).sum).sum
    assert(math.abs(eigval - lamJvm) < 1e-6 * math.max(1.0, math.abs(lamJvm)),
      s"eigval $eigval vs JVM $lamJvm")
  }

  test("embed_pca: driver-side iterate == distributed twin, bit for bit") {
    // the catalog path collects the dims-bounded grid and mirrors the
    // engines' double->decimal(38,12) semantics in BigDecimal; the
    // all-joins twin must agree on every bit or the mirror is wrong
    val a = Curation.pcaTop(spark, Sf0001)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    val b = Curation.pcaTopDistributed(spark, Sf0001)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("embed_pca: deterministic across shuffle-partition counts") {
    val a = Curation.pcaTop(spark, Sf0001)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    withSQLConf("spark.sql.shuffle.partitions" -> "13") {
      val b = Curation.pcaTop(spark, Sf0001)
        .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
      assert(a == b)
    }
  }

  test("text_bm25: dense map-join scorer == sparse postings-join scorer, bit for bit") {
    // the two regimes of the exact BM25 pair (see Curation.bm25 scaladoc)
    // must be interchangeable: identical quantized-long sums, identical
    // top-k under the same (score desc, doc_id asc) tiebreak
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val dense  = rows(Curation.bm25(spark, Sf0001))
    val sparse = rows(Curation.bm25Postings(spark, Sf0001))
    assert(dense.nonEmpty)
    assert(dense == sparse)
  }

  test("source_overlap_kmv: bounded-state estimate tracks the exact Jaccard matrix") {
    val est = Curation.kmvOverlap(spark, Sf0001)
      .select("source_a", "source_b", "k_union", "n_both", "est_jaccard")
      .as[(String, String, Long, Long, Double)].collect()
    val exact = Curation.sourceOverlap(spark, Sf0001)
      .select("source_a", "source_b", "jaccard")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // every exact pair has a sketched row and vice versa
    assert(est.map(r => (r._1, r._2)).toSet == exact.keySet)
    // the estimator path must be exercised: vocabularies exceed k, so the
    // union top-k saturates at exactly k
    assert(est.forall(_._3 == Curation.KmvK),
      s"expected saturated k_union=${Curation.KmvK}, got ${est.map(_._3).distinct.toSeq}")
    // KMV error is O(1/sqrt(k)) ~ 0.09 at k=128; allow 3 sigma-ish slack
    for ((a, b, _, _, e) <- est) {
      val x = exact((a, b))
      assert(math.abs(e - x) <= 0.15, f"pair ($a,$b): est $e%.3f vs exact $x%.3f")
    }
    // and on aggregate the estimate is genuinely informative, not noise:
    // mean absolute error well under half the error bound
    val mae = est.map { case (a, b, _, _, e) => math.abs(e - exact((a, b))) }.sum / est.length
    info(f"kmv mean |est - exact| = $mae%.4f over ${est.length} pairs")
    assert(mae <= 0.05, f"mean absolute error $mae%.4f too high")
  }

  test("curate_pref_pairs: per-source quality extrema, distinct ids, non-negative margin") {
    val pairs = Curation.preferencePairs(spark, Sf0001)
      .as[(String, Long, Long, Double, Double, Double)].collect()
    assert(pairs.nonEmpty)
    val q = graft.ops.TextAnalysis.quality(spark, Sf0001)
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    val bySrc = graft.Tables.documents(spark, Sf0001)
      .select("source", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // every multi-doc source forms exactly one pair
    assert(pairs.map(_._1).toSet == bySrc.filter(_._2.length >= 2).keySet)
    for ((src, chosen, rejected, cs, rs, margin) <- pairs) {
      assert(chosen != rejected, s"$src pairs a doc with itself")
      assert(cs == q(chosen) && rs == q(rejected))
      assert(margin == cs - rs && margin >= 0.0)
      // chosen/rejected are the true extrema under the documented ties
      val docs = bySrc(src)
      assert(chosen == docs.minBy(d => (-q(d), d)), s"$src chosen not argmax")
      assert(rejected == docs.minBy(d => (q(d), -d)), s"$src rejected not argmin")
    }
  }

  test("curate_pareto: constructed tie geometry — duplicates stay, same-score shorter falls") {
    val pts = Seq(
      (1L, 0.9, 100L),  // frontier
      (2L, 0.9, 100L),  // exact duplicate of 1 — dominates neither, stays
      (3L, 0.9, 90L),   // same score, strictly shorter — dominated by 1
      (4L, 0.8, 200L),  // frontier (longest at its score and below)
      (5L, 0.8, 150L),  // dominated by 4 (same score, shorter)
      (6L, 0.95, 50L),  // frontier (highest score)
      (7L, 0.7, 200L)   // dominated by 4 (lower score, equal length)
    ).toDF("doc_id", "qs", "n_chars")
    val got = Curation.paretoFrontOf(pts)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 4L, 6L), s"got $got")
  }

  test("curate_pareto: equals the brute-force dominance set on sf0.001") {
    val front = Curation.paretoFront(spark, Sf0001)
      .as[(Long, Double, Long)].collect()
    val pts = graft.ops.TextAnalysis.quality(spark, Sf0001)
      .select("doc_id", "quality_score")
      .join(graft.Tables.documents(spark, Sf0001).select("doc_id", "n_chars"), "doc_id")
      .select(col("doc_id"),
        col("quality_score").cast("decimal(38,6)").cast("double").as("qs"),
        col("n_chars"))
      .as[(Long, Double, Long)].collect()
    val brute = pts.filter { case (_, q, c) =>
      !pts.exists { case (_, q2, c2) =>
        q2 >= q && c2 >= c && (q2 > q || c2 > c)
      }
    }
    assert(front.nonEmpty && front.length < pts.length,
      "frontier must select a strict, non-empty subset")
    assert(front.toSet == brute.toSet,
      s"window-grid frontier != brute force (${front.length} vs ${brute.length})")
    // frontier rows carry their true source values
    val byId = pts.map(p => p._1 -> p).toMap
    assert(front.forall(f => byId(f._1) == f))
  }

  test("sim_rrf_fusion: fused ranking equals a full driver recompute on sf0.001") {
    val got = Curation.rrfFusion(spark, Sf0001)
      .select("q", "d", "rrf", "rn")
      .as[(Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    // semantic branch ranks straight from the engine's pinned brute path
    val sem = Similarity.topkBrute(spark, Sf0001)
      .select("va", "vb", "rn").as[(Long, Long, Long)].collect()
      .map { case (q, d, r) => (q, d) -> r }.toMap
    // lexical branch recomputed from scratch on the driver with the same
    // op order (tokenize, tf/df/dl, quantized-long impacts, top-5)
    val docs = graft.Tables.documents(spark, Sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> t.split(graft.text.Tokenize.WordPattern).filter(_.nonEmpty)
    }.toMap
    val tf = toks.map { case (id, ts) =>
      id -> ts.groupBy(identity).view.mapValues(_.length.toLong).toMap
    }
    val dl    = tf.view.mapValues(_.values.sum).toMap
    val n     = dl.size.toDouble
    val avgdl = dl.values.sum.toDouble / dl.size.toDouble
    val dfm = tf.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size.toLong).toMap
    def impact(t: String, d: Long): Long = {
      val idf = ((n - dfm(t).toDouble) + 0.5) / (dfm(t).toDouble + 0.5)
      val sat = (tf(d)(t).toDouble * (Curation.BmK1 + 1)) /
        (tf(d)(t).toDouble + Curation.BmK1 *
          ((1 - Curation.BmB) + Curation.BmB * (dl(d).toDouble / avgdl)))
      math.floor((idf * sat) * 1000000.0).toLong
    }
    val qIds = docs.map(_._1).filter(_ < Similarity.NumQueryVecs)
    val lex = qIds.flatMap { q =>
      docs.map(_._1).filter(_ != q).flatMap { d =>
        val shared = toks(q).toSet.intersect(tf(d).keySet)
        if (shared.isEmpty) None else Some((d, shared.toSeq.map(impact(_, d)).sum))
      }.sortBy { case (d, s) => (-s, d) }.take(Similarity.TopK)
        .zipWithIndex.map { case ((d, _), i) => (q, d) -> (i + 1L) }
    }.toMap
    // fuse and rank exactly as documented
    val want = qIds.flatMap { q =>
      val cands = (lex.keys ++ sem.keys).filter(_._1 == q).map(_._2).toSeq.distinct
      cands.map { d =>
        val r = lex.get((q, d)).map(r => 1.0 / (Curation.RrfC + r)).getOrElse(0.0) +
          sem.get((q, d)).map(r => 1.0 / (Curation.RrfC + r)).getOrElse(0.0)
        (d, r)
      }.sortBy { case (d, r) => (-r, d) }.take(Similarity.TopK)
        .zipWithIndex.map { case ((d, r), i) => (q, d, r, i + 1L) }
    }.toSet
    assert(got.toSet == want,
      s"fused output != driver recompute (${got.length} vs ${want.size} rows)")
  }

  test("sim_rrf_fusion: each fused list has one row per (q, d) on sf0.001") {
    // the union + grouped max fusion equals the outer join on (q, d) only
    // while neither list repeats a pair; a repeat would collapse silently
    val (lex, sem) = Curation.rrfLists(spark, Sf0001)
    for ((name, list) <- Seq("lex" -> lex, "sem" -> sem)) {
      val rows = list.select("q", "d").as[(Long, Long)].collect()
      assert(rows.nonEmpty, s"$name list is empty")
      val dups = rows.groupBy(identity).collect { case (k, v) if v.length > 1 => k }
      assert(dups.isEmpty, s"$name list repeats (q, d): ${dups.take(5).mkString(", ")}")
    }
  }

  test("curate_t_closeness: 0 on a mirror group, hand-computed drift, leak l-diversity misses") {
    import java.sql.Timestamp
    def ev(h: Int, t: String) = (new Timestamp(h * 3600000L), t, 1.0)
    // two identical groups: each mirrors the global distribution exactly,
    // so t = 0 to the bit (p and q are the same correctly-rounded ratios)
    val twin = Seq(ev(0, "A"), ev(0, "A"), ev(0, "B"),
      ev(1, "A"), ev(1, "A"), ev(1, "B"))
    val zeros = Curation.tClosenessOf(twin.toDF("ts", "event_type", "value"))
      .select("h", "gsz", "t_dist", "compliant")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(zeros.toSet == Set((0L, 3L, 0.0, true), (1L, 3L, 0.0, true)), s"$zeros")
    // drifted pair: global A = 5/6, B = 1/6; group 0 is (2/3, 1/3), group
    // 1 is pure A — l-diversity's blind spot (skewed groups), hand-walked
    // through the same 1e-9 floor grid
    val mixed = Seq(ev(0, "A"), ev(0, "A"), ev(0, "B"))
    val pureA = Seq(ev(1, "A"), ev(1, "A"), ev(1, "A"))
    val got = Curation.tClosenessOf((mixed ++ pureA).toDF("ts", "event_type", "value"))
      .select("h", "gsz", "t_dist", "compliant")
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    val qA = 5.0 / 6.0; val qB = 1.0 / 6.0
    def tOf(pA: Double, pB: Double): Double =
      ((math.floor(math.abs(pA - qA) * 1e9) +
        math.floor(math.abs(pB - qB) * 1e9)) / 1e9) * 0.5
    // with 2 types TV collapses to |pA - qA|, so BOTH groups land at 1/6
    // (the pure group and the mixed one sit symmetrically around q) —
    // the hand equalities below pin that, including the zero cell
    assert(got(0L)._3 == tOf(2.0 / 3.0, 1.0 / 3.0), s"mixed group: ${got(0L)}")
    assert(got(1L)._3 == tOf(1.0, 0.0), s"pure group: ${got(1L)}")
    // real data: t in [0,1], flag consistent with the threshold
    val real = Curation.tCloseness(spark, Sf0001)
      .select("t_dist", "compliant").as[(Double, Boolean)].collect()
    assert(real.nonEmpty)
    assert(real.forall { case (t, c) =>
      t >= 0.0 && t <= 1.0 && c == (t <= Curation.TCloseT)
    })
  }

  test("kmv overlap: exact 1.0 on identical sources, exact 0.0 on disjoint ones") {
    import graft.text.Tokenize
    // three sources: A and B share every document verbatim; C is disjoint
    val docs = (1 to 300).flatMap { i =>
      Seq(("A", s"alpha doc $i shares every word with beta $i"),
          ("B", s"alpha doc $i shares every word with beta $i"),
          ("C", s"gamma corpus entry $i distinct vocabulary item x$i y$i z$i"))
    }.toDF("source", "text")
    val toks = docs
      .select(col("source"), Tokenize.tokenCol(col("text")).as("raw"))
      .select(col("source"), filter(col("raw"), _ =!= "").as("toks"))
    val got = Curation.kmvOverlapOf(toks)
      .select("source_a", "source_b", "est_jaccard")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // identical sketches: every union member is in both -> estimate 1.0
    assert(got(("A", "B")) == 1.0, s"identical sources estimated ${got(("A", "B"))}")
    // disjoint shingle sets: no union member in both -> estimate 0.0
    assert(got(("A", "C")) == 0.0 && got(("B", "C")) == 0.0,
      s"disjoint sources estimated ${got(("A", "C"))} / ${got(("B", "C"))}")
  }

  test("source_setalg_kmv: estimates track exact cardinalities; identities hold on edges") {
    import graft.text.Tokenize
    // real fixture: compare against the exact per-source/union counts the
    // full-vocabulary sourceOverlap computes
    val est = Curation.kmvSetAlg(spark, Sf0001)
      .as[(String, String, Double, Double, Double, Double, Double, Double)]
      .collect()
    val exact = Curation.sourceOverlap(spark, Sf0001)
      .select("source_a", "source_b", "n_a", "n_b", "n_inter")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(est.nonEmpty && est.map(r => (r._1, r._2)).toSet == exact.keySet)
    for ((a, b, ea, eb, eu, ei, eao, ebo) <- est) {
      val (na, nb, ni) = exact((a, b))
      val nu = na + nb - ni
      // KMV relative error is O(1/sqrt(k)) ~ 9% at k=128; 3-sigma slack
      assert(math.abs(ea - na) <= 0.3 * na, s"($a,$b) |A|: est $ea exact $na")
      assert(math.abs(eb - nb) <= 0.3 * nb, s"($a,$b) |B|: est $eb exact $nb")
      assert(math.abs(eu - nu) <= 0.3 * nu, s"($a,$b) |A∪B|: est $eu exact $nu")
      // intersection inherits both jaccard and union error; wider band,
      // absolute floor for near-empty intersections
      assert(math.abs(ei - ni) <= 0.45 * nu.toDouble.max(1.0),
        s"($a,$b) |A∩B|: est $ei exact $ni")
      assert(eao >= 0.0 && ebo >= 0.0)
    }
    // the difference estimates stay informative in aggregate
    val maeDiff = est.map { case (a, b, _, _, _, _, eao, _) =>
      val (na, _, ni) = exact((a, b))
      math.abs(eao - (na - ni)) / math.max(1.0, (na - ni).toDouble)
    }.sum / est.length
    assert(maeDiff <= 0.2, f"mean relative |A\\B| error $maeDiff%.3f too high")
    // edge identities on crafted sources: identical -> inter==union==A,
    // zero difference; disjoint -> zero inter, difference == own size
    val docs = (1 to 300).flatMap { i =>
      Seq(("A", s"alpha doc $i shares every word with beta $i"),
          ("B", s"alpha doc $i shares every word with beta $i"),
          ("C", s"gamma corpus entry $i distinct vocabulary item x$i y$i z$i"))
    }.toDF("source", "text")
    val toks = docs
      .select(col("source"), Tokenize.tokenCol(col("text")).as("raw"))
      .select(col("source"), filter(col("raw"), _ =!= "").as("toks"))
    val edge = Curation.kmvSetAlgOf(toks)
      .as[(String, String, Double, Double, Double, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val ab = edge(("A", "B"))
    assert(ab._3 == ab._4 && ab._3 == ab._5 && ab._5 == ab._6,
      s"identical sources: $ab")
    assert(ab._7 == 0.0 && ab._8 == 0.0)
    val ac = edge(("A", "C"))
    assert(ac._6 == 0.0, s"disjoint intersection: ${ac._6}")
    assert(ac._7 == ac._3 && ac._8 == ac._4)
  }

  test("corpus_shards: hash order is a bijective permutation cut into full shards") {
    val out = Curation.shuffleShards(spark, Sf0001)
      .select("doc_id", "shuffle_key", "shuffle_pos", "shard_id", "pos_in_shard")
      .as[(Long, Long, Long, Long, Long)].collect()
    val n = out.length
    assert(n > 0)
    // positions are exactly 1..N — a permutation, no gaps or dupes
    assert(out.map(_._3).sorted.toSeq == (1L to n).toSeq)
    // position order IS (hash, doc_id) order
    val byPos = out.sortBy(_._3).map(r => (r._2, r._1)).toSeq
    assert(byPos == byPos.sorted, "shuffle_pos must follow (shuffle_key, doc_id) order")
    // shard arithmetic: derived exactly from the position
    for ((_, _, pos, sid, off) <- out) {
      assert(sid == (pos - 1) / Curation.ShardSize)
      assert(off == (pos - 1) % Curation.ShardSize)
    }
    // every shard but the last is full; the permutation fills in order
    val sizes = out.groupBy(_._4).view.mapValues(_.length).toMap
    val last  = sizes.keys.max
    for ((sid, c) <- sizes if sid != last)
      assert(c == Curation.ShardSize, s"shard $sid has $c docs")
    // the shuffle must actually permute: hash order != doc_id order
    assert(out.sortBy(_._3).map(_._1).toSeq != out.map(_._1).sorted.toSeq)
    // partition-layout independence of the range-partitioned rank
    val again = Curation.shuffleShards(spark, Sf0001)
      .select("doc_id", "shuffle_key", "shuffle_pos", "shard_id", "pos_in_shard")
      .repartition(7).as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq == out.sortBy(_._1).toSeq)
  }

  test("curate_token_budget: greedy quality prefix, exact running totals, budget exercised") {
    val out = Curation.tokenBudget(spark, Sf0001)
      .as[(Long, Double, Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    val sel = out.filter(_._5)
    // the boundary is exercised at fixture scale: neither empty nor all
    assert(sel.nonEmpty && sel.length < out.length,
      s"budget not exercised: ${sel.length}/${out.length}")
    // prefix property: ordered by (quality desc, id), the selected set is
    // exactly the prefix whose cumulative tokens stay within the budget
    val ordered = out.sortBy(r => (-r._2, r._1))
    var cum = 0L
    for (r <- ordered) {
      cum += r._3
      assert(r._4 == cum, s"cum mismatch for doc ${r._1}: ${r._4} != $cum")
      assert(r._5 == (cum <= Curation.TokenBudget), s"selection flag wrong for doc ${r._1}")
    }
    // partition-layout independence of the range-partitioned prefix sum
    val again = Curation.tokenBudget(spark, Sf0001)
      .repartition(7).as[(Long, Double, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(again.toSeq == out.sortBy(_._1).toSeq)
  }
}
