package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Properties of the PageRank loop the row-level oracle can't state:
  * mass conservation, centrality ordering on a known topology, and
  * partitioning independence of the quantized iteration.
  */
class GraphSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("pagerank: rank mass is conserved across iterations") {
    // Σ ranks stays 1 up to the per-node grid quantization (each of the
    // n node ranks is on the decimal(38,12) grid, so the total drifts by
    // at most n·5e-13 per iteration)
    val ranks = Graph.pagerankNearDup(spark, Sf0001)
      .select("rank").as[Double].collect()
    assert(ranks.nonEmpty, "near-dup graph should be non-empty on the fixture")
    val tol = ranks.length * 5e-13 * Graph.PrIterations
    assert(math.abs(ranks.sum - 1.0) <= tol + 1e-12,
      s"rank mass ${ranks.sum} drifted from 1.0 beyond quantization tolerance $tol")
    assert(ranks.forall(_ > 0), "every node must keep positive rank")
  }

  test("pagerank: the hub of a star graph outranks every leaf") {
    val star = (1L to 8L).map(l => (0L, l)).toDF("da", "db")
    val ranks = Graph.pagerank(star).as[(Long, Double)].collect().toMap
    assert(ranks.size == 9)
    val hub = ranks(0L)
    (1L to 8L).foreach(l => assert(hub > ranks(l), s"hub $hub not above leaf ${ranks(l)}"))
    // leaves are symmetric — the quantized iteration must give them
    // IDENTICAL ranks, not merely close ones
    assert((1L to 8L).map(ranks).distinct.size == 1, "symmetric leaves diverged")
  }

  test("pagerank: deterministic across shuffle-partition counts") {
    val a = Graph.pagerankNearDup(spark, Sf0001)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    withSQLConf("spark.sql.shuffle.partitions" -> "13") {
      val b = Graph.pagerankNearDup(spark, Sf0001)
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
      assert(a == b)
    }
  }

  test("communities: two bridged triangles resolve to their cliques in 3 LPA rounds") {
    // cliques {1,2,3} and {4,5,6} with bridge 3-4. Hand-traced sync LPA
    // with the (count desc, label asc) rule: after round 3 the left
    // clique carries label 1 and the right carries 3 — the bridge never
    // merges them
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("da", "db")
    val out = Graph.communities(edges)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(r => r._1 -> r._2) ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    assert(out.forall(_._3 == 3L), s"community sizes: $out")
  }

  test("communities: deterministic across shuffle-partition counts on the fixture") {
    val a = Graph.communitiesCoPurchase(spark, Sf0001)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    withSQLConf("spark.sql.shuffle.partitions" -> "13") {
      val b = Graph.communitiesCoPurchase(spark, Sf0001)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(a == b)
    }
    assert(a.map(_._2).distinct.size > 1, "fixture should split into multiple communities")
  }

  test("louvain move: per-node local optimality over LPA labels, real refinement") {
    val out = Graph.louvainMoveCoPurchase(spark, Sf0001)
      .as[(Long, Long, Long, Double, Double, Boolean)].collect()
    assert(out.nonEmpty)
    val lpa = Graph.communitiesCoPurchase(spark, Sf0001)
      .select("p_partkey").as[Long].collect().toSet
    // one decision row per labeled node
    assert(out.map(_._1).toSet == lpa && out.length == lpa.size)
    for ((node, old, next, gain, stay, moved) <- out) {
      // the winning gain can never lose to staying put (own community is
      // always a candidate) — the local-optimality contract
      assert(gain >= stay, s"node $node: selected $gain < stay $stay")
      assert(moved == (old != next))
      if (!moved) assert(gain == stay, s"node $node stays but gain $gain != stay $stay")
    }
    // the round must do real work on the fixture: some nodes move, most
    // of a 3-round-LPA labeling is already locally stable
    val nMoved = out.count(_._6)
    info(s"louvain round moved $nMoved of ${out.length} nodes")
    assert(nMoved > 0, "no node moved — refinement step is a no-op")
    assert(nMoved < out.length, "every node moved — labels were noise")
  }

  test("common neighbors: a path graph predicts exactly its distance-2 pairs") {
    // path 1-2-3-4: non-edges with a shared neighbor are (1,3) via 2 and
    // (2,4) via 3; both middles have degree 2. (1,4) shares no neighbor.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("da", "db")
    val out = Graph.commonNeighbors(path)
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out.map(r => (r._1, r._2, r._3)).toSeq == Seq((1L, 3L, 1L), (2L, 4L, 1L)))
    val aa = BigDecimal(1.0 / math.log(2.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    out.foreach { case (_, _, cn, jacc, aaGot) =>
      assert(cn == 1L)
      assert(jacc == 1.0 / 2.0, s"jacc $jacc") // 1 / (1 + 2 - 1)
      assert(aaGot == aa, s"adamic-adar $aaGot != $aa")
    }
  }

  test("common neighbors: the near-dup graph is all cliques, so predictions are empty") {
    // verified near-dup pairs close transitively on the fixture — every
    // wedge is already an edge. This is WHY the catalog entry predicts
    // over the co-purchase graph instead; if this ever fails, the
    // near-dup graph grew open wedges and would make the better fixture.
    val mh = Dedup.minhash(spark, Sf0001).select("da", "db")
    assert(Graph.commonNeighbors(mh).isEmpty,
      "near-dup graph has open wedges now — consider it for the catalog entry")
  }

  test("common neighbors: predictions are never edges, scores are internally consistent") {
    val edges = Graph.coPurchaseEdges(spark, Sf0001)
      .as[(Long, Long)].collect().toSet
    assert(edges.nonEmpty)
    val out = Graph.commonNeighborsCoPurchase(spark, Sf0001)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(out.length == Graph.CnTopK)
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map {
      case (n, xs) => n -> xs.size.toLong
    }
    out.foreach { case (a, b, cn, jacc, aaGot) =>
      assert(a < b && !edges.contains((a, b)), s"($a,$b) is an existing edge")
      assert(cn >= 1 && cn <= math.min(deg(a), deg(b)), s"cn $cn out of bounds for ($a,$b)")
      assert(jacc == cn.toDouble / (deg(a) + deg(b) - cn), s"jacc mismatch for ($a,$b)")
      assert(aaGot > 0, s"nonpositive adamic-adar for ($a,$b)")
    }
  }

  test("common neighbors: hot-middle salted leg equals the all-rare formulation") {
    // r16 skew split: middles above CnHotDeg wedge through the salted
    // leg. Exercise it with a tiny threshold on a hub graph (hub degree
    // 40 plus cross links so predictions are non-trivial) and pin exact
    // equality — rows, scores, order — against the same computation run
    // entirely through the rare leg.
    import org.apache.spark.sql.functions.{col, greatest, least}
    val edges = ((1L to 40L).map(i => (0L, 100L + i)) ++ // hub 0, deg 40
      Seq((101L, 102L), (101L, 103L), (105L, 106L)))     // extra structure
      .toDF("da", "db")
      .select(least(col("da"), col("db")).as("da"), greatest(col("da"), col("db")).as("db"))
    val hot  = Graph.commonNeighborsSplit(edges, hotDeg = 4, saltK = 3)
      .collect().map(_.toString).toSeq
    val rare = Graph.commonNeighborsSplit(edges, hotDeg = Long.MaxValue, saltK = 3)
      .collect().map(_.toString).toSeq
    assert(hot.nonEmpty, "fixture produced no predictions")
    assert(hot == rare, s"salted hot leg diverges:\nhot=$hot\nrare=$rare")
  }

  test("clustering coefficient: triangle+pendant fixture, real-data brute parity") {
    import org.apache.spark.sql.functions.col
    // triangle 1-2-3 with pendant 4 on node 3: cc(1)=cc(2)=1 (their one
    // neighbor pair is closed), cc(3)=2*1/(3*2)=1/3, cc(4)=0 (deg<2)
    val p   = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("da", "db")
    val adj = p.union(p.select(col("db"), col("da"))).toDF("u", "m")
    val got = Graph.clusteringCoeffOf(p, adj)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 3L, 1L, 1.0 * 2.0 / (3.0 * 2.0))))
    assert(got(4L) == ((4L, 1L, 0L, 0.0)))
    // real co-purchase graph: cc in [0, 1] and exactly 2t/(d(d-1))
    val real = Graph.clusteringCoeffCoPurchase(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect()
    assert(real.nonEmpty)
    real.foreach { case (node, d, t, cc) =>
      if (d >= 2)
        assert(cc == t.toDouble * 2.0 / (d.toDouble * (d.toDouble - 1.0)), s"$node")
      else assert(cc == 0.0 && t == 0, s"$node")
      assert(cc >= 0.0 && cc <= 1.0, s"$node: $cc")
    }
  }

  test("kcore: a clique with pendant chains peels down to exactly the clique") {
    // 4-clique {1,2,3,4} + chain 4-5-6 + pendant 2-7: every chain node
    // has degree ≤ 2, so the 3-core is the clique with in-core degree 3
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (clique ++ Seq((4L, 5L), (5L, 6L), (2L, 7L))).toDF("da", "db")
    val out = Graph.kcore(edges).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kcore: the fixture reaches the peeling fixpoint within the fixed rounds") {
    // one extra round must change nothing — the fixed-round output IS
    // the true k-core on the fixture, not a partial peel
    val at = Graph.kcore(Graph.coPurchaseEdges(spark, Sf0001))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val more = Graph.kcore(Graph.coPurchaseEdges(spark, Sf0001),
      rounds = Graph.KcoreRounds + 1).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(at == more, "peeling had not converged within KcoreRounds")
    // and the survivors genuinely form a k-core: minimum in-core degree ≥ k
    if (at.nonEmpty) assert(at.map(_._2).min >= Graph.KcoreK)
  }

  test("assortativity: a star graph is exactly disassortative (r = -1)") {
    val star = (1L to 8L).map(l => (0L, l)).toDF("da", "db")
    val Array((n, r)) = Graph.assortativity(star).as[(Long, Double)].collect()
    assert(n == 16L) // both directions
    assert(math.abs(r - (-1.0)) < 1e-12, s"star assortativity $r != -1")
  }

  test("assortativity: deterministic across shuffle-partition counts on the fixture") {
    val a = Graph.assortativityCoPurchase(spark, Sf0001).as[(Long, Double)].collect().head
    withSQLConf("spark.sql.shuffle.partitions" -> "13") {
      val b = Graph.assortativityCoPurchase(spark, Sf0001).as[(Long, Double)].collect().head
      assert(a == b)
    }
    assert(a._2 >= -1.0 && a._2 <= 1.0)
  }

  test("bfs: hand-traced distances on a path graph, unreached nodes absent") {
    // path 1-2-3-4-5-6-7, seed {1}: dist(k) = k-1 up to the 4-round cap;
    // node 6 (5 hops) and 7 are beyond the horizon and must not appear
    val path  = (1L to 6L).map(k => (k, k + 1)).toDF("da", "db")
    val seeds = Seq(Tuple1(1L)).toDF("u")
    val got = Graph.bfs(path, seeds).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("bfs: multi-source takes the minimum over seeds") {
    // path 1..7 seeded at both ends: distances fold toward the middle
    val path  = (1L to 6L).map(k => (k, k + 1)).toDF("da", "db")
    val seeds = Seq(Tuple1(1L), Tuple1(7L)).toDF("u")
    val got = Graph.bfs(path, seeds).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 2L, 6L -> 1L, 7L -> 0L))
  }

  test("sssp: cheap detour beats the direct expensive edge") {
    // weighted triangle 1-3 (cost 10) vs 1-2-3 (cost 2+2): Bellman-Ford
    // must take the two-hop detour; plus a pendant 4 at cost 1 off node 3
    val wadj = Seq(
      (1L, 3L, 10L), (3L, 1L, 10L),
      (1L, 2L, 2L), (2L, 1L, 2L),
      (2L, 3L, 2L), (3L, 2L, 2L),
      (3L, 4L, 1L), (4L, 3L, 1L)).toDF("u", "m", "w")
    val got = Graph.sssp(wadj, Seq(Tuple1(1L)).toDF("u")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 5L), got.toString)
  }

  test("sssp: fixture distances match a driver-side Bellman-Ford at the same round cap") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"), col("l_partkey"))
    val edges = li.select(col("ok"), (col("ln") + 1).as("ln"), col("l_partkey").as("pa"))
      .join(li.select(col("ok"), col("ln"), col("l_partkey").as("pb")), Seq("ok", "ln"))
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("da"), greatest(col("pa"), col("pb")).as("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
      .as[(Long, Long, Long)].collect()
    val wadj = edges.flatMap { case (a, b, c) =>
      val w = 1000000L / c + 1
      Seq((a, (b, w)), (b, (a, w)))
    }.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2) }
    val seeds = graft.Tables.part(spark, Sf0001)
      .filter(col("p_brand") === Graph.BfsSeedBrand)
      .select("p_partkey").as[Long].collect().toSet
    var dist: Map[Long, Long] =
      wadj.keySet.filter(seeds).map(_ -> 0L).toMap
    for (_ <- 1 to Graph.SsspRounds) {
      val relaxed = dist.toSeq.flatMap { case (n, d) =>
        wadj.getOrElse(n, Array.empty[(Long, Long)]).toSeq
          .map { case (nb, w) => nb -> (d + w) }
      } ++ dist.toSeq
      dist = relaxed.groupBy(_._1).map { case (n, ds) => n -> ds.map(_._2).min }
    }
    val got = Graph.ssspCoPurchase(spark, Sf0001).as[(Long, Long)].collect().toMap
    assert(got == dist, s"sizes got=${got.size} want=${dist.size}")
  }

  test("bfs/sssp: a rounds value outside [0, MaxRounds] fails before any job runs") {
    import org.apache.spark.sql.functions.{col, lit, udf}
    // any job over these inputs fails its task: a SparkException, not the
    // IllegalArgumentException of the rounds check
    val ran   = udf((x: Long) => if (x >= 0) throw new IllegalStateException("a job ran") else x)
    val path  = spark.range(3).select(ran(col("id")).as("da"), (col("id") + 1).as("db"))
    val wadj  = path.toDF("u", "m").withColumn("w", lit(1L))
    val seeds = spark.range(1).select(ran(col("id")).as("u"))
    for (r <- Seq(-1, Graph.MaxRounds + 1); call <- Seq[Int => Unit](
        r => Graph.bfs(path, seeds, r), r => Graph.sssp(wadj, seeds, r))) {
      val e = intercept[IllegalArgumentException](call(r))
      assert(e.getMessage.contains(s"rounds must be in [0, ${Graph.MaxRounds}], got $r"))
    }
  }

  test("bfs: seeds outside the graph are ignored, inside-seed set nonempty on the fixture") {
    val got = Graph.bfsCoPurchase(spark, Sf0001).as[(Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.count(_._2 == 0L) > 0, "no zero-distance seed rows")
    assert(got.forall(r => r._2 >= 0L && r._2 <= Graph.BfsRounds))
  }

  test("modularity: two disconnected cliques score higher than one mixed clique") {
    // LPA resolves two disconnected triangles to two communities with no
    // cross edges -> strongly positive Q; a single clique collapses to
    // one community whose Q is exactly 0 (e_c = 2m, D_c = 2m)
    val twoCliques = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("da", "db")
    val Array((nc2, q2)) = Graph.modularity(twoCliques).as[(Long, Double)].collect()
    assert(nc2 == 2L, s"expected 2 communities, got $nc2")
    assert(math.abs(q2 - 0.5) < 1e-9, s"two-clique modularity $q2 != 0.5")
    val oneClique = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("da", "db")
    val Array((nc1, q1)) = Graph.modularity(oneClique).as[(Long, Double)].collect()
    assert(nc1 == 1L && math.abs(q1) < 1e-12, s"one-clique ($nc1, $q1)")
  }

  test("graph_ppr: bit-equal to a sequential reference on a known topology") {
    // plain-Scala reference with the SAME floor-integer-grid arithmetic:
    // any divergence in join/agg/quantization order shows up as a bit
    // difference here before the cross-engine oracle ever sees it
    def refPpr(pairs: Seq[(Long, Long)], iters: Int, d: Double): Map[Long, Double] = {
      val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val deg   = edges.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
      val nodes = deg.keys.toSeq
      val seeds = nodes
        .sortBy(n => (graft.functions.TextHash.hash60Jvm(n.toString), n))
        .take(Graph.PprSeeds).toSet
      val sMass = 1.0 / Graph.PprSeeds
      val s = nodes.map(n => n -> (if (seeds(n)) sMass else 0.0)).toMap
      var r = s
      for (_ <- 1 to iters) {
        r = edges.groupBy(_._2).map { case (dst, es) =>
          val m = es.map { case (src, _) =>
            BigInt(math.floor(r(src) / deg(src).toDouble * 1e12 + 0.5).toLong)
          }.sum
          dst -> math.floor(
            ((1 - d) * s(dst) + d * (m.toDouble / 1e12)) * 1e12 + 0.5) / 1e12
        }
      }
      r
    }
    // two components (chain + star) so restart mass must NOT leak across,
    // plus enough nodes that the 8-seed cap is a strict subset
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (6L, 8L), (6L, 9L), (6L, 10L), (11L, 12L))
    val got = Graph.ppr(pairs.toDF("da", "db")).as[(Long, Double)].collect().toMap
    val want = refPpr(pairs, Graph.PrIterations, Graph.PrDamping)
    assert(got.keySet == want.keySet)
    got.foreach { case (n, v) =>
      assert(v == want(n), s"node $n: spark=$v reference=${want(n)}")
    }
  }

  test("graph_ppr: restart mass stays on the grid-conserved total and seeds hold their floor") {
    val rows = Graph.pprNearDup(spark, Sf0001).as[(Long, Double)].collect()
    assert(rows.nonEmpty)
    val tol = rows.length * 5e-13 * Graph.PrIterations
    assert(math.abs(rows.map(_._2).sum - 1.0) <= tol + 1e-12,
      s"ppr mass ${rows.map(_._2).sum} drifted beyond $tol")
    assert(rows.forall(_._2 >= 0.0))
    // every seed keeps at least its own restart share (1-d)/|S|
    val seedFloor = (1 - Graph.PrDamping) / Graph.PprSeeds - 1e-12
    val seeds = rows.map(_._1)
      .sortBy(n => (graft.functions.TextHash.hash60Jvm(n.toString), n))
      .take(Graph.PprSeeds).toSet
    val seedRanks = rows.filter(r => seeds(r._1)).map(_._2)
    assert(seedRanks.nonEmpty && seedRanks.forall(_ >= seedFloor),
      s"a seed fell below its restart floor $seedFloor: ${seedRanks.min}")
    // personalization is real: seed mean rank exceeds the uniform share
    assert(seedRanks.sum / seedRanks.length > 1.0 / rows.length)
  }

  test("modularity: deterministic across shuffle-partition counts on the fixture") {
    val a = Graph.modularityCoPurchase(spark, Sf0001).as[(Long, Double)].collect().head
    withSQLConf("spark.sql.shuffle.partitions" -> "13") {
      val b = Graph.modularityCoPurchase(spark, Sf0001).as[(Long, Double)].collect().head
      assert(a == b)
    }
    assert(a._2 >= -1.0 && a._2 <= 1.0)
  }
}
