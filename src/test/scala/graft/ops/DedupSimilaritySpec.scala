package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Quality properties of the approximate dedup/ANN operators that the
  * DuckDB oracle gate can't express: recall against exact baselines,
  * in-memory corner cases, determinism across reruns.
  */
class DedupSimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("exact dedup flags copies, keeps first") {
    val df = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "unique"), (4L, "same text"))
      .toDF("doc_id", "text")
    // run the same plan shape as Dedup.exact over an in-memory frame
    val w = org.apache.spark.sql.expressions.Window.partitionBy("digest").orderBy("doc_id")
    val out = df
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .withColumn("is_dup", row_number().over(w) > 1)
      .as[(Long, String, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => r._1 -> r._3).toSeq ==
      Seq(1L -> false, 2L -> true, 3L -> false, 4L -> true))
  }

  test("span dedup: boilerplate injection is caught, clean docs stay clean") {
    // 40-token docs = 3 spans each (16+16+8). Docs 1/2 are identical
    // (every span recurs → dup_frac 1.0, flagged); docs 3/4 share only
    // their leading 16-token boilerplate span (1 of 3 spans → 0.33, just
    // over the 0.3 flag line); doc 5 is fully unique (0.0, clean).
    // letters only — the tokenizer splits on non-letter runs, so digit
    // suffixes would collapse every word to its seed
    def words(seed: String, n: Int) =
      (0 until n).map(i => s"$seed${('a' + i % 26).toChar}${('a' + i / 26).toChar}").mkString(" ")
    val shared = words("boiler", 16)
    val docs = Seq(
      (1L, words("twin", 40)),
      (2L, words("twin", 40)),
      (3L, shared + " " + words("alpha", 24)),
      (4L, shared + " " + words("beta", 24)),
      (5L, words("solo", 40))
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupOf(docs)
      .select("doc_id", "n_spans", "n_dup", "dup_frac", "flagged")
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3, r._5)).toSeq == Seq(
      (1L, 3L, 3L, true), (2L, 3L, 3L, true),
      (3L, 3L, 1L, true), (4L, 3L, 1L, true), (5L, 3L, 0L, false)))
    assert(out(0)._4 == 1.0 && out(4)._4 == 0.0)
  }

  test("repeated spans: shared run merges to ONE maximal span with exact geometry") {
    // K = 16 sliding. Docs 1/2 share a 40-token run (doc 1 at offset 10,
    // doc 2 at offset 0); the 25 matching shingle starts (40-16+1) must
    // merge into exactly one maximal span covering all 40 tokens. Doc 3
    // repeats its own 16-gram twice INTERNALLY but shares nothing across
    // docs -> no row (cross-document only). Doc 4 is unique -> no row.
    def words(seed: String, n: Int) =
      (0 until n).map(i => s"$seed${('a' + i % 26).toChar}${('a' + i / 26).toChar}").mkString(" ")
    val shared = words("boiler", 40)
    val selfRep = words("loop", 16)
    val docs = Seq(
      (1L, words("alpha", 10) + " " + shared + " " + words("alphatail", 10)),
      (2L, shared + " " + words("beta", 20)),
      (3L, selfRep + " " + words("mid", 8) + " " + selfRep),
      (4L, words("solo", 60))
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpansOf(docs)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(1L, 2L), s"cross-doc-only violated: $out")
    // doc 1: 60 toks, one span of 40; doc 2: 60 toks, one span of 40
    assert(out == Seq(
      (1L, 60L, 1L, 40L, 40.0 / 60),
      (2L, 60L, 1L, 40L, 40.0 / 60)), out.toString)
  }

  test("repeated spans: mixed-partner adjacency does NOT over-merge (maximal extension)") {
    // The ExactSubstr exactness case: doc 1 = t1..t17. Its K-gram at p=1
    // (t1..t16) is shared with doc 2, and at p=2 (t2..t17) with doc 3 —
    // but NO single document contains the full 17-token run, so the
    // (K+1)-gram at p=1 is not cross-doc repeated and the two positions
    // must stay SEPARATE maximal spans (a naive island merge would emit
    // one 17-token "span" that exists nowhere else). Coverage is the
    // interval UNION of the two overlapping spans = all 17 tokens.
    def words(seed: String, n: Int) =
      (0 until n).map(i => s"$seed${('a' + i % 26).toChar}${('a' + i / 26).toChar}").mkString(" ")
    val ts = (1 to 17).map(i => s"core${('a' + i).toChar}x")
    val docs = Seq(
      (1L, ts.mkString(" ")),
      (2L, ts.take(16).mkString(" ") + " " + words("btail", 16)),
      (3L, words("chead", 16) + " " + ts.drop(1).mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpansOf(docs)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 17L, 2L, 17L, 1.0),       // two maximal matches, union covers all
      (2L, 32L, 1L, 16L, 16.0 / 32), // t1..t16 shared with doc 1
      (3L, 32L, 1L, 16L, 16.0 / 32)  // t2..t17 shared with doc 1
    ), out.toString)
  }

  test("repeated spans: disjoint shared runs stay separate islands") {
    def words(seed: String, n: Int) =
      (0 until n).map(i => s"$seed${('a' + i % 26).toChar}${('a' + i / 26).toChar}").mkString(" ")
    // two 16-token boilerplate blocks separated by >=16 unique tokens in
    // both docs -> two maximal spans of 16 each, not one merged span
    val b1 = words("head", 16)
    val b2 = words("foot", 16)
    val docs = Seq(
      (1L, b1 + " " + words("alpha", 20) + " " + b2),
      (2L, b1 + " " + words("beta", 20) + " " + b2)
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpansOf(docs)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 52L, 2L, 32L, 32.0 / 52),
      (2L, 52L, 2L, 32L, 32.0 / 52)), out.toString)
  }

  test("span dedup: spans cover every token exactly once") {
    // sum of span counts x span width >= token count; n_spans = ceil(tokens/16)
    val spanCounts = Dedup.spanDedup(spark, Sf0001)
      .select("doc_id", "n_spans").as[(Long, Long)].collect().toMap
    val tokCounts = graft.Tables.documents(spark, Sf0001)
      .select(col("doc_id"),
        size(filter(split(col("text"), "[^\\p{L}]+"), _ =!= "")).cast("long"))
      .as[(Long, Long)].collect().toMap
    tokCounts.filter(_._2 > 0).foreach { case (id, nt) =>
      val expect = (nt + Dedup.SpanTokens - 1) / Dedup.SpanTokens
      assert(spanCounts(id) == expect, s"doc $id: ${spanCounts(id)} spans for $nt tokens")
    }
  }

  test("df-capped blocking: hot shingles bound candidate volume, rare-shingle pairs survive") {
    // Adversarial fixture for the exact-shingle family: 300 docs all
    // sharing one hot 40-token paragraph (its 38 trigrams have df = 302
    // > DfCap, so uncapped blocking would emit every one of the
    // 300*299/2 = 44,850 doc pairs through those keys), plus unique
    // filler per doc so every doc also carries rare shingles.
    // letter-only seeds — the tokenizer splits on non-letter runs
    def w(seed: String, n: Int) =
      (0 until n).map(i => s"$seed${('a' + i % 26).toChar}${('a' + i / 26 % 26).toChar}").mkString(" ")
    def uniq(i: Int) =
      "u" + ('a' + i % 26).toChar + ('a' + (i / 26) % 26).toChar + ('a' + (i / 676) % 26).toChar
    val hot = w("hot", 40)
    val docs = (
      (1 to 300).map(i => (i.toLong, hot + " " + w(uniq(i), 60))) ++ Seq(
        (301L, w("near", 80) + " ending one"),  // genuine near-dup pair:
        (302L, w("near", 80) + " ending two"),  //   rare shingles, J = 79/81
        (303L, hot),                            // pure-hot twins: J = 1.0 but
        (304L, hot),                            //   zero sub-cap shingles
        (305L, w("quote", 30)),                 // excerpt: fully contained
        (306L, w("quote", 30) + " " + w("longer", 120)),
        (307L, hot + " " + w("mix", 60)),       // identical twins sharing BOTH
        (308L, hot + " " + w("mix", 60)))       //   hot and rare shingles
      ).toDF("doc_id", "text")

    val sh = Dedup.docShinglesOf(docs)
    // hot paragraph really is over the cap; docs 1-300 are < 50% hot-trigram
    val maxDf = sh.groupBy("sh").count().agg(max("count")).as[Long].head()
    assert(maxDf > Dedup.DfCap, s"fixture max df $maxDf must exceed the cap")

    // candidate volume: exactly the three rare-shingle pairs, not ~45k
    val cands = Dedup.dfCappedCands(sh).as[(Long, Long)].collect().toSet
    assert(cands == Set((301L, 302L), (305L, 306L), (307L, 308L)),
      s"df-capped candidates should be the three rare-shingle pairs, got ${cands.size}")

    // the near-dup pair survives with its EXACT jaccard (recount is full)
    val ng = Dedup.ngramOf(docs).as[(Long, Long, Double)].collect()
    assert(ng.map(r => (r._1, r._2)).toSet == Set((301L, 302L), (307L, 308L)))
    val j12 = ng.find(_._1 == 301L).get._3
    assert(math.abs(j12 - 79.0 / 81.0) < 1e-12, s"jaccard $j12")
    // 307/308 are identical, so their EXACT jaccard is 1.0 — reachable
    // only if the fused recount adds the shared-HOT shingles back in
    // (rare-only counting would give ~0.44 and drop the pair entirely)
    assert(ng.find(_._1 == 307L).get._3 == 1.0, "i_hot remainder lost")

    // the excerpt survives containment with contain_a = 1.0 (the
    // near-dup pair qualifies too: 79/80 from either side)
    val ct = Dedup.containmentOf(docs)
      .select("da", "db", "contain_a").as[(Long, Long, Double)].collect()
    assert(ct.map(r => (r._1, r._2)).toSet ==
      Set((301L, 302L), (305L, 306L), (307L, 308L)))
    assert(ct.find(r => r._1 == 305L).get._3 == 1.0)
    assert(ct.find(r => r._1 == 307L).get._3 == 1.0)

    // pinned tradeoff: docs that are 100% hot-trigram (303/304, J = 1.0)
    // are invisible to capped blocking — by design; identical docs are
    // Dedup.exact's job, boilerplate-heavy ones spanDedup's
    assert(!cands.contains((303L, 304L)))
  }

  test("minhash recall: finds every exact-jaccard pair on sf0.001") {
    val exact = Dedup.ngram(spark, Sf0001).select("da", "db")
      .as[(Long, Long)].collect().toSet
    val mh = Dedup.minhash(spark, Sf0001).select("da", "db")
      .as[(Long, Long)].collect().toSet
    assert(mh.subsetOf(exact), "minhash emitted a pair exact jaccard rejects")
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val recall = mh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.85, s"minhash recall $recall below floor")
  }

  test("incremental dedup: verdicts derive from the full minhash pair set") {
    // the delta-restricted band join must reach exactly the delta-involving
    // subset of the full pipeline's verified pairs — no more (it generates
    // no snapshot×snapshot pairs by construction), no fewer (banding is
    // deterministic, so restricting one join side loses no collisions)
    val full = Dedup.minhash(spark, Sf0001).select("da", "db")
      .as[(Long, Long)].collect()
    val m = Dedup.DeltaMod
    val expect = full.flatMap { case (a, b) =>
      (if (b % m == 0) Seq(b -> a) else Nil) ++
        (if (a % m == 0 && b % m != 0) Seq(a -> b) else Nil)
    }.groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).min }
    val got = Dedup.incremental(spark, Sf0001)
      .as[(Long, Boolean, Long)].collect()
    assert(got.nonEmpty && got.exists(_._2), "fixture delta should contain dups")
    got.foreach { case (d, isDup, mp) =>
      assert(d % m == 0, s"non-delta doc $d in output")
      assert(isDup == expect.contains(d), s"verdict mismatch for $d")
      assert(mp == expect.getOrElse(d, -1L), s"match_id mismatch for $d")
    }
    assert(got.map(_._1).toSet == expect.keySet ++ got.map(_._1),
      "every delta doc appears exactly once")
  }

  test("simhash signatures are deterministic and 60-bit") {
    val pairs = Dedup.simhashSignatures(spark, Sf0001)
    val s1 = pairs.as[(Long, Long)].collect().sortBy(_._1).toSeq
    val s2 = Dedup.simhashSignatures(spark, Sf0001).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(s1 == s2, "simhash signatures not deterministic across runs")
    assert(s1.map(_._2).forall(v => v >= 0L && v < (1L << 60)), "signature outside 60-bit range")
  }

  test("ann lsh results carry exact cosine and appear in brute-force ranking") {
    val brute = Similarity.topkBrute(spark, Sf0001)
      .select("va", "vb", "cos").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val ann = Similarity.annLsh(spark, Sf0001)
      .select("va", "vb", "cos").as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty, "ann produced no candidates — LSH bucketing degenerate")
    ann.foreach { case (a, b, c) =>
      brute.get((a, b)).foreach(expected => assert(expected == c,
        s"ann cosine for ($a,$b) = $c but brute-force computed $expected"))
    }
    val perQuery = ann.groupBy(_._1)
    assert(perQuery.values.forall(_.length <= Similarity.TopK))
  }

  test("sim_mmr: equals an independent greedy recompute, diversity bites") {
    val got = Similarity.mmrRerank(spark, Sf0001)
      .as[(Long, Long, Long, Double, Double)].collect()
    val perQ = got.groupBy(_._1)
    assert(perQ.nonEmpty && perQ.values.forall(_.length == Similarity.MmrK))
    // independent driver-side greedy over the same pool and cosines
    val e = graft.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (e(a), e(b))
      var (d, nx, ny) = (0.0f, 0.0f, 0.0f)
      x.indices.foreach { i => d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      d / (math.sqrt(nx.toDouble).toFloat * math.sqrt(ny.toDouble).toFloat)
    }
    perQ.foreach { case (va, rows) =>
      val sorted = rows.sortBy(_._3)
      // picks distinct, first pick is the pool's relevance argmax
      assert(sorted.map(_._2).distinct.length == sorted.length, s"q$va dup picks")
      assert(sorted.head._4 == sorted.map(_._4).max, s"q$va first pick not max-rel")
      // each later pick's score is lambda*rel - mu*maxsim over the
      // PREVIOUS selections, and no selected-so-far candidate beats it
      // (verified against the engine's own emitted rel values)
      val relOf = rows.map(r => r._2 -> r._4).toMap
      sorted.sliding(2).foreach { case Array(_, cur) =>
        val prev = sorted.filter(_._3 < cur._3).map(_._2)
        val ms   = prev.map(p => cos(cur._2, p)).max
        val expect = Similarity.MmrLambda * cur._4 - Similarity.MmrMu * ms
        // 1e-6: the recompute's float norm order differs from the
        // engine's cosine at the last-ulp level; bit-parity is the
        // DuckDB oracle's job, this pins the greedy structure
        assert(math.abs(cur._5 - expect) < 1e-6,
          s"q$va pick ${cur._3}: score ${cur._5} vs recomputed $expect")
      }
    }
    // diversity actually bites: at least one query's picks differ from
    // the pure-relevance prefix (otherwise the penalty term is inert)
    val brute = Similarity.topkBrute(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect().groupBy(_._1)
    val diverged = perQ.exists { case (va, rows) =>
      val mmrPicks = rows.sortBy(_._3).map(_._2).take(Similarity.TopK).toSeq
      val relPicks = brute(va).sortBy(_._4).map(_._2).take(Similarity.TopK).toSeq
      mmrPicks != relPicks
    }
    assert(diverged, "MMR never diverged from pure relevance — penalty inert")
  }

  test("dedup_bias: slice drops reconcile with dedup_apply's survivor count") {
    val rows = Dedup.dedupBias(spark, Sf0001)
      .as[(String, String, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, lang, n, d, r) =>
      assert(d >= 0 && d <= n, s"$src/$lang counts")
      assert(r == d.toDouble / n.toDouble && r >= 0.0 && r <= 1.0, s"$src/$lang rate")
    }
    val survivors = Dedup.exactApply(spark, Sf0001).count()
    assert(rows.map(r => r._3 - r._4).sum == survivors,
      "per-slice survivors must sum to the dedup_apply corpus")
  }

  test("graph_homophily: edge accounting closes, fractions sum to 1") {
    val rows = Graph.homophilyNearDup(spark, Sf0001)
      .as[(String, String, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (la, lb, n, same, f) =>
      assert(la <= lb && n > 0, s"$la/$lb canonical order")
      assert(same == (if (la == lb) 1L else 0L))
      assert(f > 0.0 && f <= 1.0)
    }
    val totalPairs = Dedup.minhash(spark, Sf0001).count()
    assert(rows.map(_._3).sum == totalPairs, "every near-dup edge is classified")
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-9)
  }

  test("embed_triplet_audit: negatives equal hard-negative top-1, margins consistent") {
    val trip = Similarity.tripletAudit(spark, Sf0001)
      .as[(Long, Long, Long, Double, Long, Double, Double, Long)].collect()
    assert(trip.nonEmpty)
    val hn1 = Similarity.hardNegatives(spark, Sf0001)
      .filter($"rn" === 1L)
      .select("va", "vb", "cos").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    trip.foreach { case (va, _, posVb, posCos, negVb, negCos, margin, ok) =>
      // the negative branch IS hard-negatives' rank 1
      assert(hn1(va) == ((negVb, negCos)), s"q$va negative mismatch")
      assert(margin == posCos - negCos, s"q$va margin")
      assert(ok == (if (margin >= Similarity.TripletMargin) 1L else 0L), s"q$va flag")
      assert(posVb != negVb, s"q$va pos==neg")
    }
  }

  test("sim_ndcg_audit: bounded by 1, recall-consistent, exact independent recompute") {
    val ndcg = Similarity.ndcgAudit(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val recallRows = Similarity.recallAudit(spark, Sf0001)
    // expected_coverage: the geometry-derived noise floor, constant per
    // SF, strictly below a sane measured recall (identical docs bucket
    // together far above random collision)
    val floor = Similarity.coverageFloor(
      Similarity.planesFor(graft.Tables.embeddingsCount(spark, Sf0001),
        Similarity.AnnTargetBucket),
      Similarity.NumTables)
    val covs = recallRows.select("expected_coverage").as[Double].collect().toSet
    assert(covs == Set(floor), s"expected_coverage $covs != derived floor $floor")
    assert(floor > 0.0 && floor < 1.0)
    val recall = recallRows
      .select("va", "n_true", "n_hit", "recall_at_k")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val meanRecall = recall.values.map(_._4).sum / recall.size
    assert(meanRecall > floor,
      s"mean recall $meanRecall at the random-collision floor $floor — index returns noise")
    assert(ndcg.nonEmpty && ndcg.keySet == recall.keySet)
    // same truth/ann inputs -> identical hit accounting, and a perfect
    // set in any order can't beat the ideal ranking
    ndcg.foreach { case (va, (_, nTrue, nHit, v)) =>
      assert((nTrue, nHit) == ((recall(va)._2, recall(va)._3)), s"q$va counts")
      assert(v >= 0.0 && v <= 1.0, s"q$va ndcg=$v")
      if (nHit == 0) assert(v == 0.0, s"q$va: no hits must score 0")
    }
    // independent recompute through the same quantized-discount path
    def disc(r: Long): BigDecimal =
      BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val truth = Similarity.topkBrute(spark, Sf0001)
      .select("va", "vb", "rn").as[(Long, Long, Long)].collect()
    val ann = Similarity.annLsh(spark, Sf0001)
      .select("va", "vb", "rn").as[(Long, Long, Long)].collect()
      .map { case (a, b, r) => (a, b) -> r }.toMap
    truth.groupBy(_._1).foreach { case (va, rows) =>
      val idcg = rows.map(r => disc(r._3)).sum
      val dcg  = rows.flatMap(r => ann.get((r._1, r._2)).map(disc)).sum
      val expect = dcg.toDouble / idcg.toDouble
      assert(ndcg(va)._4 == expect, s"q$va: ${ndcg(va)._4} vs $expect")
    }
  }

  test("embedding near-dup: LSH candidates recover the exact all-pairs top-20") {
    // the exact all-pairs ranking (the pre-round-3 catalog query) lives on
    // here as the recall oracle for the LSH-bucketed production query
    val e = Similarity.withNorm(graft.Tables.embeddings(spark, Sf0001))
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("norm").as("nb"))
    val exact = a.join(b, col("va") < col("vb"))
      .withColumn("cos", Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .orderBy(desc("cos"), asc("va"), asc("vb")).limit(20)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embedding(spark, Sf0001)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    assert(exact.size == 20 && lsh.size == 20)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    info(f"lsh top-20 recall vs exact all-pairs top-20: $recall%.3f")
    assert(recall >= 0.5, s"LSH bucketing lost too much of the exact top-20 (recall $recall)")
  }

  test("dedup_semantic: pairs are cluster-mates, cosines exact, top-20 of the pruned space") {
    val assign = Curation.assignVectors(spark, Sf0001, literal = true)
      .select("vec_id", "centroid").as[(Long, Long)].collect().toMap
    val got = Dedup.semantic(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == 20)
    for ((cid, va, vb, _) <- got) {
      assert(va < vb)
      assert(assign(va) == cid && assign(vb) == cid,
        s"pair ($va,$vb) not cluster-mates of $cid")
    }
    // the emitted ranking is exactly the within-cluster slice of the
    // brute-force pair ranking (cross-cluster pruning, nothing else)
    val e = Similarity.withNorm(graft.Tables.embeddings(spark, Sf0001))
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("norm").as("nb"))
    val want = a.join(b, col("va") < col("vb"))
      .withColumn("cos", Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .select("va", "vb", "cos").as[(Long, Long, Double)].collect()
      .filter { case (va, vb, _) => assign(va) == assign(vb) }
      .sortBy { case (va, vb, cos) => (-cos, va, vb) }
      .take(20).map { case (va, vb, cos) => (va, vb, cos) }.toSeq
    assert(got.map { case (_, va, vb, cos) => (va, vb, cos) }.toSeq == want)
  }

  test("embed_pq: full coverage, nonnegative error, codebook seeds self-encode at zero") {
    val n = graft.Tables.embeddings(spark, Sf0001).count()
    val got = Similarity.pq(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == n * Similarity.PqM, "one code per (vector, subspace)")
    for ((vec, sub, code, err) <- got) {
      assert(sub >= 0 && sub < Similarity.PqM)
      assert(code >= 0 && code < Similarity.PqK)
      assert(err >= -1e-12, s"negative quantization error at ($vec,$sub): $err")
    }
    // a codebook seed's own subvector is at distance zero from itself
    for ((vec, sub, code, err) <- got if vec < Similarity.PqK)
      assert(code == vec && math.abs(err) < 1e-9,
        s"seed $vec subspace $sub should self-encode (code=$code err=$err)")
  }

  test("sim_pq_topk: ADC ranking is the true compressed-domain order, recall reported") {
    val got = Similarity.pqTopk(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect()
    val perQ = got.groupBy(_._1)
    assert(perQ.size == Similarity.NumQueryVecs)
    for ((_, rows) <- perQ) assert(rows.map(_._4).sorted.toSeq == (1L to Similarity.TopK))
    // ADC must agree with recomputing Σ_sub d2(query_sub, codeword(code))
    // from the emitted PQ codes — the compressed-domain contract
    val codes = Similarity.pq(spark, Sf0001)
      .select("vec_id", "subspace", "code").as[(Long, Long, Long)].collect()
      .map { case (v, s, c) => (v, s) -> c }.toMap
    val e = graft.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    def sub(v: Seq[Float], j: Int) =
      v.slice(j * Similarity.PqSub, (j + 1) * Similarity.PqSub)
    def d2(a: Seq[Float], b: Seq[Float]): Double = {
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
      dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
    }
    for ((q, vec, adc, _) <- got.take(40)) {
      val want = (0 until Similarity.PqM).map { j =>
        BigDecimal(d2(sub(e(q), j), sub(e(codes((vec, j.toLong))), j)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(math.abs(adc - want) < 1e-8, s"ADC($q,$vec)=$adc != recomputed $want")
    }
    // recall vs the exact (uncompressed) L2 top-k — PQ with an 8-word
    // codebook is coarse; report it and require it beats zero
    val ids = e.keys.toSeq
    val exact = perQ.keys.map { q =>
      q -> ids.filter(_ != q)
        .sortBy(v => (d2(e(q).toSeq, e(v).toSeq), v)).take(Similarity.TopK).toSet
    }.toMap
    val hits = got.count { case (q, v, _, _) => exact(q)(v) }
    val recall = hits.toDouble / (Similarity.NumQueryVecs * Similarity.TopK)
    info(f"pq-adc top-${Similarity.TopK} recall vs exact L2: $recall%.3f")
    assert(recall > 0.0)
  }

  test("sim_ivfpq: equals an independent cell-prune + ADC reimplementation") {
    val e = graft.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    def dot(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def d2(a: Seq[Float], b: Seq[Float]) = dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
    def sub(v: Seq[Float], j: Int) = v.slice(j * Similarity.PqSub, (j + 1) * Similarity.PqSub)
    // coarse quantizer: best-first ranked cells per vector
    val cents = (0L until Similarity.IvfK).map(c => c -> e(c)).toMap
    def rankedCells(v: Long): Seq[Long] = {
      val nv = math.sqrt(dot(e(v), e(v)))
      cents.toSeq.map { case (c, ce) =>
        (dot(e(v), ce) / (nv * math.sqrt(dot(ce, ce))), c)
      }.sortBy { case (cos, c) => (-cos, c) }.map(_._2)
    }
    // PQ codes (argmin-L2 per subspace, code-ascending tie-break)
    def code(v: Long, j: Int): Long =
      (0L until Similarity.PqK).minBy(c => (d2(sub(e(v), j), sub(e(c), j)), c))
    val top1 = e.keys.map(v => v -> rankedCells(v).head).toMap
    val want = (0L until Similarity.NumQueryVecs).flatMap { q =>
      val probed = rankedCells(q).take(Similarity.NProbe).toSet
      val cands = e.keys.filter(v => v != q && probed(top1(v)))
      val scored = cands.toSeq.map { v =>
        val a = (0 until Similarity.PqM).map { j =>
          BigDecimal(d2(sub(e(q), j), sub(e(code(v, j).toLong), j)))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
        (v, a)
      }.sortBy { case (v, a) => (a, v) }.take(Similarity.TopK)
      scored.zipWithIndex.map { case ((v, a), i) => (q, v, a, (i + 1).toLong) }
    }.toSet
    val got = Similarity.ivfPq(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2, r._4)) == want.map(r => (r._1, r._2, r._4)),
      s"ivfpq pair/rank set diverged from the reimplementation")
    val wantAdc = want.map(r => (r._1, r._2) -> r._3).toMap
    for ((q, v, a, _) <- got)
      assert(math.abs(a - wantAdc((q, v))) < 1e-8, s"adc($q,$v)=$a != ${wantAdc((q, v))}")
  }

  test("sim_ivfpq_rerank: exact cosines, and recall dominates the ADC-only top-k") {
    val got = Similarity.ivfPqRerank(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect()
    val perQ = got.groupBy(_._1)
    assert(perQ.size == Similarity.NumQueryVecs)
    for ((_, rows) <- perQ) {
      assert(rows.map(_._4).sorted.toSeq == (1L to Similarity.TopK))
      // rank order IS exact-cosine order (vec_id tiebreak)
      val byRank = rows.sortBy(_._4).map(r => (-r._3, r._2)).toSeq
      assert(byRank == byRank.sorted, "rerank ranks must follow cos desc, vec_id asc")
    }
    // emitted cosines are the TRUE float cosines, not ADC approximations
    val e = graft.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    def dot(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cos(a: Long, b: Long) =
      dot(e(a), e(b)) / (math.sqrt(dot(e(a), e(a))) * math.sqrt(dot(e(b), e(b))))
    for ((q, v, c, _) <- got)
      assert(math.abs(c - cos(q, v)) < 1e-12, s"cos($q,$v)=$c != exact ${cos(q, v)}")
    // the shortlist-superset guarantee: any true-top-k member the ADC
    // shortlist retains MUST surface in the rerank top-k, so rerank
    // recall >= ADC-only recall — the property the rerank tier exists for
    val exact = perQ.keys.map { q =>
      q -> e.keys.filter(_ != q).toSeq
        .sortBy(v => (-cos(q, v), v)).take(Similarity.TopK).toSet
    }.toMap
    val adcHits = Similarity.ivfPq(spark, Sf0001)
      .as[(Long, Long, Double, Long)].collect()
      .count { case (q, v, _, _) => exact(q)(v) }
    val rrHits = got.count { case (q, v, _, _) => exact(q)(v) }
    val denom = (Similarity.NumQueryVecs * Similarity.TopK).toDouble
    info(f"ivfpq-rerank recall ${rrHits / denom}%.3f vs adc-only ${adcHits / denom}%.3f")
    assert(rrHits >= adcHits, s"rerank recall $rrHits < adc-only $adcHits")
  }

  test("sim_hard_negatives: cross-label only, ranked by exact cosine within LSH candidates") {
    val got = Similarity.hardNegatives(spark, Sf0001)
      .as[(Long, Int, Long, Int, Double, Long)].collect()
    assert(got.nonEmpty)
    // the defining invariant: never a positive (same-label) pair
    for ((q, lq, v, ln, _, _) <- got) assert(lq != ln, s"($q,$v) is a same-label pair")
    val perQ = got.groupBy(_._1)
    for ((_, rows) <- perQ) {
      assert(rows.map(_._6).sorted.toSeq == (1L to rows.length), "ranks must be 1..k contiguous")
      assert(rows.length <= Similarity.TopK)
      val byRank = rows.sortBy(_._6).map(r => (-r._5, r._3)).toSeq
      assert(byRank == byRank.sorted, "ranks must follow cos desc, vec_id asc")
    }
    // the emitted set is exactly the label-filtered rerank of the SAME
    // candidate pairs annLsh ranks: recompute from the ann query's pairs
    // is not possible post-topk, so pin hardness the direct way — each
    // emitted cosine is the true float cosine
    val e = graft.Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    def dot(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    for ((q, _, v, _, c, _) <- got) {
      val want = dot(e(q), e(v)) / (math.sqrt(dot(e(q), e(q))) * math.sqrt(dot(e(v), e(v))))
      assert(math.abs(c - want) < 1e-12, s"cos($q,$v)=$c != exact $want")
    }
  }

  test("embed_rp_audit: JL distortion concentrates around 1, layout-independent") {
    val rows = Similarity.rpAudit(spark, Sf0001)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length == Similarity.NumQueryVecs * (Similarity.NumQueryVecs - 1) / 2)
    for ((va, vb, od2, pd2, ratio) <- rows) {
      assert(od2 > 0, s"degenerate pair ($va,$vb)")
      assert(ratio == pd2.toDouble / (Similarity.RpK * od2))
      // per-pair JL distortion at k=16 is loose but bounded
      assert(ratio > 0.05 && ratio < 5.0, s"pair ($va,$vb) distortion $ratio")
    }
    val mean = rows.map(_._5).sum / rows.length
    info(f"mean JL ratio ${mean}%.3f over ${rows.length} pairs at k=${Similarity.RpK}")
    // expectation of the ratio is exactly 1; the mean over 190 pairs
    // concentrates well inside [0.7, 1.3]
    assert(mean > 0.7 && mean < 1.3, f"mean distortion $mean%.3f off the JL expectation")
    val again = Similarity.rpAudit(spark, Sf0001)
      .repartition(7).as[(Long, Long, Long, Long, Double)].collect()
      .sortBy(r => (r._1, r._2))
    assert(again.toSeq == rows.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("dedup_clusters_apply: survivors = corpus minus non-canonical cluster members") {
    val dropped = Dedup.clusters(spark, Sf0001)
      .filter(!col("is_canonical")).select("doc_id").as[Long].collect().toSet
    val all = graft.Tables.documents(spark, Sf0001)
      .select("doc_id").as[Long].collect().toSet
    val got = Dedup.clustersApply(spark, Sf0001)
      .select("doc_id").as[Long].collect().toSet
    assert(dropped.nonEmpty, "fixture should have near-dup clusters to drop")
    assert(got == all -- dropped)
    // every dropped doc's cluster still has a surviving representative
    val canon = Dedup.clusters(spark, Sf0001)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    for ((_, c) <- canon) assert(got(c), s"cluster canonical $c was dropped")
  }

  test("dedup_apply_quality: exactly one kept member per cluster, and it is the argmax") {
    val out = Dedup.clustersApplyQuality(spark, Sf0001)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(out.nonEmpty)
    val byCluster = out.groupBy(_._1)
    for ((c, ms) <- byCluster) {
      assert(ms.count(_._4) == 1, s"cluster $c kept ${ms.count(_._4)} members")
      val best = ms.maxBy(m => (m._3, -m._2))
      assert(best._4, s"cluster $c kept ${ms.filter(_._4).toSeq} but argmax is $best")
    }
    // the decision is quality-driven, not id-driven: membership matches
    // the CC labeling, and every cluster's keeper has >= the median
    // member score (trivially true for argmax — pinned to catch a
    // refactor that silently reverts to keep-first)
    val clusterOf = Dedup.clusters(spark, Sf0001)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    for ((cl, doc, _, _) <- out) assert(clusterOf(doc) == cl)
  }

  test("near-dup clusters: pairs land in one cluster, canonical is the min member") {
    val pairs = Dedup.minhash(spark, Sf0001).select("da", "db").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val cl    = Dedup.clusters(spark, Sf0001).as[(Long, Long, Boolean)].collect()
    val label = cl.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"pair ($a,$b) split across clusters")
    }
    cl.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid not labeled by its min member")
      assert(members.count(_._3) == 1 && members.find(_._3).get._1 == cid,
        s"cluster $cid canonical flag wrong")
    }
  }

  test("connected-components propagation round is an equi-join, never nested-loop") {
    // the full-catalog PlanAuditSpec sweep can't see inside dedup_clusters
    // (it executes eagerly, leaving only a checkpoint scan), so the
    // per-round join shape is pinned here directly
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("node", "label")
    val edges  = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val p = Dedup.propagateOnce(labels, edges).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("connected components release superseded checkpoint storage") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges  = (0L until 9L).map(i => (i, i + 1))
    Dedup.connectedComponents(edges.toDF("da", "db")).collect()
    val grown = spark.sparkContext.getPersistentRDDs.keySet -- before
    // a 10-node path converges in ~10 rounds; without per-round release
    // that is ~12 retained checkpoint generations — with it, only the
    // final labels (plus at most a straggler) survive
    assert(grown.size <= 3,
      s"${grown.size} checkpointed RDDs retained after CC — superseded generations not freed")
  }

  test("connected components: chain graph converges across multiple propagation rounds") {
    // a 10-node path has diameter 9 — min-label propagation needs several
    // rounds, exercising the loop beyond the fixture's mostly-pair
    // components; plus two isolated pairs to check cluster separation
    val edges = (0L until 9L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (200L, 201L))
    val cl = Dedup.connectedComponents(edges.toDF("da", "db"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(cl.length == 14)
    assert(cl.filter(_._1 <= 9L).forall(_._2 == 0L), "chain must collapse to cluster 0")
    assert(cl.filter(r => r._1 >= 100L && r._1 <= 101L).forall(_._2 == 100L))
    assert(cl.filter(_._1 >= 200L).forall(_._2 == 200L))
    assert(cl.count(_._3) == 3, "exactly one canonical per component")
  }

  test("planesFor keeps LSH bucket occupancy (candidate volume per row) constant") {
    for (n <- Seq(10000L, 1000000L, 1000000000L)) {
      val planes    = Similarity.planesFor(n)
      val occupancy = n.toDouble / (1L << planes)
      assert(occupancy <= 64.0 && occupancy > 16.0,
        s"n=$n planes=$planes occupancy=$occupancy outside (16, 64]")
    }
    assert(Similarity.planesFor(1000000000L) == 24)
    assert(Similarity.planesFor(100L) >= 1)
  }

  test("ann recall vs brute-force top-k is nonzero and reported") {
    val brute = Similarity.topkBrute(spark, Sf0001)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    val ann = Similarity.annLsh(spark, Sf0001)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    info(f"ann recall vs brute-force top-${Similarity.TopK}: $recall%.3f")
    assert(recall > 0.0)
    // the catalog's recall audit must report EXACTLY this set arithmetic
    val audit = Similarity.recallAudit(spark, Sf0001)
      .select("va", "n_true", "n_hit", "recall_at_k")
      .as[(Long, Long, Long, Double)].collect()
    assert(audit.map(_._1).toSet == brute.map(_._1).toSet)
    audit.foreach { case (va, nTrue, nHit, r) =>
      val t = brute.filter(_._1 == va)
      val hits = t.intersect(ann)
      assert(nTrue == t.size && nHit == hits.size,
        s"query $va: audit says $nHit/$nTrue, sets say ${hits.size}/${t.size}")
      assert(r == hits.size.toDouble / t.size)
    }
    // every query holds exactly k truth rows, so the pooled recall and
    // the per-query mean are the same rational number
    val meanRecall = audit.map(_._4).sum / audit.length
    assert(math.abs(meanRecall - recall) < 1e-9,
      s"pooled $recall vs per-query mean $meanRecall")
    info(f"per-query mean recall@${Similarity.TopK}: $meanRecall%.3f")
  }

  test("ivf: cosines exact, per-query k bounded, recall vs brute force reported") {
    val brute = Similarity.topkBrute(spark, Sf0001)
      .select("va", "vb", "cos").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val ivf = Similarity.ivf(spark, Sf0001)
      .select("va", "vb", "cos").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty, "ivf produced no candidates — cell assignment degenerate")
    ivf.foreach { case (a, b, c) =>
      brute.get((a, b)).foreach(expected => assert(expected == c,
        s"ivf cosine for ($a,$b) = $c but brute-force computed $expected"))
    }
    assert(ivf.groupBy(_._1).values.forall(_.length <= Similarity.TopK))
    val recall = ivf.map { case (a, b, _) => (a, b) }.toSet
      .intersect(brute.keySet).size.toDouble / brute.size
    info(f"ivf (K=${Similarity.IvfK}, nprobe=${Similarity.NProbe}) recall vs brute-force: $recall%.3f")
    assert(recall > 0.0)
  }

  test("LSH signatures fail loudly on embedding dimensionality drift") {
    // zip_with pads the shorter side with nulls, which would silently
    // zero every vote bit — the guard must surface the drift instead
    val tmp = java.nio.file.Files.createTempDirectory("graft-dimdrift").toString
    spark.range(4)
      .selectExpr("id AS vec_id", "transform(sequence(1, 8), i -> float(i)) AS embedding",
        "0 AS label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = intercept[Exception] {
      Similarity.signatures(spark, tmp).collect()
    }
    def root(t: Throwable): Throwable = if (t.getCause == null) t else root(t.getCause)
    assert((Option(e.getMessage).getOrElse("") + Option(root(e).getMessage).getOrElse(""))
      .contains("dimensionality"), e.toString)
  }

  test("embed_quantize: midpoint decode error is bounded by half a bin per dimension") {
    val rows = Similarity.quantize(spark, Sf0001)
      .select("dim", "lo", "hi", "n_vals", "avg_abs_err", "max_abs_err")
      .as[(Long, Double, Double, Long, Double, Double)].collect()
    assert(rows.length == Similarity.Dims, s"expected ${Similarity.Dims} dims, got ${rows.length}")
    rows.foreach { case (dim, lo, hi, n, avg, mx) =>
      assert(n > 0 && hi >= lo, s"dim $dim degenerate grid [$lo, $hi]")
      val halfBin = (hi - lo) / Similarity.QuantLevels / 2
      // x == hi lands exactly on the top bin's midpoint offset, so the
      // bound is tight; allow one ulp of slack for the rounding chain
      assert(mx <= halfBin * (1 + 1e-12) + 1e-15,
        s"dim $dim max err $mx exceeds half bin $halfBin")
      assert(avg <= mx, s"dim $dim avg $avg > max $mx")
    }
  }

  test("ivf: literal and broadcast-join centroid paths agree bit-for-bit") {
    // the K ~ sqrt(n) deployment switches assignment from codegen literals
    // to a broadcast join once K outgrows IvfLiteralBudget; the switch
    // must be invisible in the results — same cells, same cosine BITS
    def rows(literal: Boolean) = Similarity.ivfImpl(spark, Sf0001, literal)
      .select("va", "vb", "cos", "rn").as[(Long, Long, Double, Long)]
      .collect().sortBy(r => (r._1, r._4)).toSeq
    val lit = rows(literal = true)
    val join = rows(literal = false)
    assert(lit == join,
      s"paths diverge: ${lit.diff(join).take(3)} vs ${join.diff(lit).take(3)}")
  }
}
