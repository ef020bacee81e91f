package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Ckpt
import graft.Tables

/** Iterative graph analytics over the near-duplicate pair graph — the
  * message-passing operator class next to [[Dedup.connectedComponents]]'s
  * label propagation.
  *
  * PageRank over the MinHash near-dup graph measures duplication
  * centrality: a document whose content recurs across many others (a
  * template, a mirrored page, syndicated boilerplate) accumulates rank
  * from every neighbor, which is exactly the doc a curation pipeline
  * wants to inspect first (keep one canonical copy, or drop the template
  * entirely). Web-graph PageRank is the classic quality prior in crawl
  * curation; re-using the iteration over the similarity graph gives the
  * same machinery a corpus-internal signal.
  *
  * Scale shape: the classic Spark PageRank loop — edges (with out-degree
  * attached) are materialized ONCE behind a `localCheckpoint`, then each
  * of the fixed [[PrIterations]] rounds is one equi-join (ranks against
  * edge sources) plus one partial-aggregated shuffle onto destination
  * nodes. Superseded rank generations release their checkpoint blocks, so
  * the loop holds at most two generations regardless of iteration count —
  * the same discipline as the connected-components loop.
  *
  * Determinism (oracle parity): per-edge contributions `rank/deg`
  * quantize onto the decimal(38,12) grid BEFORE the destination sum (the
  * catalog's order-free-sum rule), and each new rank quantizes back onto
  * the grid, so every iteration starts from bit-identical values in both
  * engines; the DuckDB oracle unrolls the same fixed iteration count as
  * chained CTEs. The symmetrized graph has no dangling nodes (every node
  * has out-degree ≥ 1), so no leaked-mass correction term is needed.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed iteration count (unrolled in the oracle) and damping factor. */
  val PrIterations = 5
  val PrDamping    = 0.85

  /** Catalog entry: PageRank over the MinHash-verified near-dup pairs
    * (the memoized snapshot — the MinHash pipeline is the dominant cost
    * and five graph/pipeline consumers need identical pairs).
    */
  def pagerankNearDup(s: SparkSession, dir: String): DataFrame = {
    val edgesDeg = ndEdgesDeg(s, dir)
    // counted per call, as [[pagerank]] does: graph_pagerank is its one
    // consumer, so a memo could only ever hit on a repeated run
    val n = edgesDeg.select("src").distinct().count()
    prLoop(edgesDeg, n, PrIterations, PrDamping)
      .select(col("node").as("doc_id"), col("rank"))
  }

  /** Memoized near-dup edges-with-degree table — the identical build
    * [[pagerank]] and [[ppr]] each ran (and checkpointed) privately per
    * invocation (r15, guide §2.4): symmetrize the memoized minhash pair
    * snapshot, attach out-degrees, one generation of blocks per session.
    */
  private def ndEdgesDeg(s: SparkSession, dir: String): DataFrame =
    Ckpt.cached(s, s"graph:nd-edgesdeg:$dir")(
      withDegrees(Dedup.minhashShared(s, dir).select(col("da"), col("db"))))

  /** (src, dst, deg): both directions of each pair (da, db), with src's
    * out-degree — the edge table of both rank loops.
    */
  private def withDegrees(prs: DataFrame): DataFrame = {
    val edges = prs
      .union(prs.select(col("db").as("da"), col("da").as("db")))
      .toDF("src", "dst")
    edges.join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
  }

  /** The PageRank rounds over a materialized edges-with-degree table.
    * No per-round checkpoints (r15): `ranks` appears exactly ONCE per
    * round (a join, no union), so the lineage is a LINEAR chain —
    * 2·iterations shuffles in one job, which is Spark's native
    * shuffle-file recovery story at any scale; the per-round eager
    * localCheckpoint bought nothing but one extra action + one |V|-row
    * block copy per round. Values are bit-identical: each round's
    * decimal(38,12) quantization is unchanged.
    */
  private def prLoop(edgesDeg: DataFrame, n: Long,
      iterations: Int, damping: Double): DataFrame = {
    var ranks = edgesDeg
      .select(col("src").as("node"))
      .distinct()
      .withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      ranks = ranks
        .join(edgesDeg, col("node") === col("src"))
        .select(col("dst"),
          (col("rank") / col("deg").cast("double")).cast("decimal(38,12)").as("c"))
        .groupBy(col("dst").as("node"))
        .agg((lit((1 - damping) / n) + lit(damping) * sum(col("c")).cast("double"))
          .cast("decimal(38,12)").cast("double").as("rank"))
    }
    ranks
  }

  /** PageRank over an undirected pair list (da, db):
    * `r_{i+1}(v) = (1-d)/n + d · Σ_{u~v} r_i(u)/deg(u)` for the fixed
    * iteration count. Returns (doc_id, rank) for every node in any pair.
    */
  def pagerank(pairList: DataFrame,
      iterations: Int = PrIterations, damping: Double = PrDamping): DataFrame = {
    val edgesDeg = Ckpt.scoped(pairList.toDF("da", "db"))(withDegrees(_).transform(Ckpt.apply))
    val n = edgesDeg.select("src").distinct().count()
    // materialize the final ranks so the edge-sized generation can be
    // freed before returning (fixture path; the catalog path scans the
    // session-memoized table instead and returns a lazy plan)
    val ranks = prLoop(edgesDeg, n, iterations, damping).transform(Ckpt.apply)
    Ckpt.free(edgesDeg)
    ranks.select(col("node").as("doc_id"), col("rank"))
  }

  /** Seed-set size for [[ppr]]: the [[PprSeeds]] nodes with the
    * smallest PRF hash — nonempty on any graph, bounded, deterministic.
    */
  val PprSeeds = 8

  /** Catalog entry: personalized PageRank over the near-dup graph (the
    * memoized pair snapshot, as in [[pagerankNearDup]]).
    */
  def pprNearDup(s: SparkSession, dir: String): DataFrame =
    pprLoop(ndEdgesDeg(s, dir), ndRestart(s, dir), PrIterations, PrDamping)
      .select(col("node").as("doc_id"), col("rank"))

  /** Memoized per-node restart-mass table for [[pprNearDup]] (node, s):
    * the seed top-k + left-join it used to rebuild and checkpoint per
    * invocation now lives one generation per session, like the edge
    * table it derives from.
    */
  private def ndRestart(s: SparkSession, dir: String): DataFrame =
    Ckpt.cached(s, s"graph:nd-restart:$dir")(restartMass(ndEdgesDeg(s, dir)))

  /** (node, s) for every node of an edges-with-degree table: restart
    * mass 1/[[PprSeeds]] on the seed nodes, 0 elsewhere.
    */
  private def restartMass(edgesDeg: DataFrame): DataFrame = {
    val nodes = edgesDeg.select("src").distinct()
    val seeds = nodes
      .orderBy(graft.functions.TextHash.hash60(col("src").cast("string")), col("src"))
      .limit(PprSeeds)
      .select(col("src").as("node"), lit(1).as("is_seed"))
    nodes.select(col("src").as("node"))
      .join(broadcast(seeds), Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed").isNotNull, lit(1.0 / PprSeeds)).otherwise(lit(0.0)).as("s"))
  }

  /** Personalized PageRank — the seed-anchored variant of [[pagerank]]
    * that powers graph-based data SELECTION rather than inspection:
    * restart mass is concentrated on a trusted seed set S instead of
    * spread uniformly, so `r(v)` measures v's proximity to the seeds
    * (TrustRank/harmonic-seed curation: score every crawl doc by random-
    * walk closeness to a vetted whitelist, keep the top mass). Iteration:
    * `r_{i+1}(v) = (1-d)·s(v) + d · Σ_{u~v} r_i(u)/deg(u)` with
    * `s = 1/|S|` on seeds, 0 elsewhere, `r_0 = s`.
    *
    * The seed set is the [[PprSeeds]] nodes with the smallest
    * (hash, node) — a PRF stand-in for the uploaded whitelist that is
    * nonempty on any graph and reproducible in the oracle. Its selection
    * is a top-k over the node list (TakeOrderedAndProject, no global
    * sort); the per-node restart column rides the SAME checkpointed
    * table the rank join already produces, so personalization adds zero
    * extra shuffles per round versus [[pagerank]] — one equi-join plus
    * one partial-aggregated destination sum, two checkpoint generations
    * max.
    *
    * Determinism: [[pagerank]]'s decimal(38,12) CAST is tie-hazardous
    * here — the 1/8 seed mass is dyadic, so iteration values (seed /
    * power-of-two degrees) land EXACTLY on half-grid boundaries, where
    * Spark (HALF_UP on the double's exact expansion) and DuckDB
    * (ties-to-even on `x·10¹²`) systematically disagree. This loop
    * quantizes with `floor(x·10¹² + 0.5)` instead: every step (divide,
    * multiply, add, floor) is a correctly-rounded IEEE operation on
    * identical inputs, so both engines compute the bit-identical
    * integer-grid value with NO dependence on a decimal rounding mode.
    * Contributions sum as exact integers (through decimal(38,0), so the
    * destination sum can't overflow at any in-degree), and `(1-d)`/`d`
    * are interpolated into the oracle as full-precision double literals.
    */
  def ppr(pairList: DataFrame,
      iterations: Int = PrIterations, damping: Double = PrDamping): DataFrame = {
    val edgesDeg = Ckpt.scoped(pairList.toDF("da", "db"))(withDegrees(_).transform(Ckpt.apply))
    val sv       = restartMass(edgesDeg).transform(Ckpt.apply)
    // materialize the final ranks so both input generations can be freed
    // (fixture path; the catalog path scans session-memoized tables)
    val ranks = pprLoop(edgesDeg, sv, iterations, damping).transform(Ckpt.apply)
    Ckpt.free(edgesDeg)
    Ckpt.free(sv)
    ranks.select(col("node").as("doc_id"), col("rank"))
  }

  /** The PPR rounds over materialized edges-with-degree and restart-mass
    * tables. No per-round checkpoints, same rationale as [[prLoop]]
    * (linear rank lineage — each round is one edge join + one
    * destination sum + one restart join); the floor-grid quantization is
    * unchanged, so values are bit-identical.
    */
  private def pprLoop(edgesDeg: DataFrame, sv: DataFrame,
      iterations: Int, damping: Double): DataFrame = {
    var ranks = sv.select(col("node"), col("s").as("rank"))
    for (_ <- 1 to iterations) {
      ranks = ranks
        .join(edgesDeg, col("node") === col("src"))
        .select(col("dst"),
          floor(col("rank") / col("deg").cast("double") * lit(1e12) + lit(0.5))
            .cast("decimal(38,0)").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).cast("double").as("m"))
        .join(sv, "node")
        .select(col("node"),
          (floor((lit(1 - damping) * col("s") +
              lit(damping) * (col("m") / lit(1e12))) * lit(1e12) + lit(0.5))
            .cast("double") / lit(1e12)).as("rank"))
    }
    ranks
  }

  /** Catalog entry: per-node triangle counts over the same near-dup
    * graph. A document's triangle count is the numerator of its local
    * clustering coefficient — high-triangle docs sit inside densely
    * mutually-similar duplicate clusters (template farms), versus
    * bridge/chain duplicates that pairwise matching alone can't tell
    * apart.
    */
  def trianglesNearDup(s: SparkSession, dir: String): DataFrame =
    // a cheap projection over the memoized minhash checkpoint — the
    // [[triangles]] ensure fast path scans those blocks directly
    // instead of re-materializing a second session-lived copy
    triangles(Dedup.minhashShared(s, dir).select(col("da"), col("db")))

  /** Per-node triangle counts from an ordered pair list (da < db).
    *
    * The classic ordered-wedge formulation: because every edge is stored
    * once with `da < db`, each triangle a<b<c is produced exactly once by
    * joining (a,b)⋈(b,c) and closing with (a,c) — no 6-way duplication
    * and no post-hoc distinct. Both joins are plain equi-joins (shuffle
    * hash/SMJ at scale, no cartesian); at 100 TB this is the standard
    * edge-iterator algorithm whose cost is Σ deg(u)·deg(v) over edges,
    * kept tractable here because near-dup graphs are sparse by
    * construction (LSH banding bounds candidate degree).
    *
    * The pair list is localCheckpoint'ed once: it feeds three scans, and
    * recomputing the MinHash pipeline per scan would triple the dominant
    * cost — UNLESS it is already a cheap projection over a materialized
    * checkpoint ([[graft.Ckpt.ensure]]), in which case the three
    * scans read those blocks directly and a second session-lived copy
    * would be pure waste (r13 advice: the old `cacheKey` path
    * re-materialized the whole memoized minhash table).
    */
  def triangles(pairList: DataFrame): DataFrame = {
    val pl = pairList.toDF("da", "db")
    triCounts(Ckpt.ensure(pl))
  }

  /** Per-node triangle counts over an ALREADY-MATERIALIZED ordered pair
    * list (the caller owns the checkpoint — the three scans below must
    * read blocks, not recompute a pipeline).
    */
  private def triCounts(p: DataFrame): DataFrame = {
    val tri = p.select(col("da").as("a"), col("db").as("b"))
      .join(p.select(col("da").as("b"), col("db").as("c")), "b")
      .join(p.select(col("da").as("a"), col("db").as("c")), Seq("a", "c"))
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Catalog entry: local clustering coefficient of every co-purchase
    * node — cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the fraction of a
    * node's neighbor pairs that are themselves connected (Watts &
    * Strogatz 1998). Over co-purchase this separates parts bought in
    * tight bundles (cc → 1: any two co-purchased partners are also
    * co-purchased) from hub parts bridging unrelated baskets (cc → 0) —
    * the per-node refinement of the global triangle count.
    *
    * Scale shape: the wedge-closing join is [[triCounts]] over the
    * memoized co-purchase checkpoint (Σ deg² bounded, degree flat
    * across SFs — the [[commonNeighbors]] argument); degrees come from
    * the memoized symmetrized adjacency; one left join stitches them.
    * Determinism: cc is a single IEEE divide of exact integers — no
    * quantization needed; deg < 2 nodes get cc = 0 (no neighbor pair
    * to close), mirroring the oracle's CASE.
    */
  def clusteringCoeffCoPurchase(s: SparkSession, dir: String): DataFrame =
    clusteringCoeffOf(coPurchaseEdges(s, dir).toDF("da", "db"), coPurchaseAdj(s, dir))

  /** The cc computation over a materialized ordered pair list + its
    * symmetrized adjacency (spec callers pass small fixtures).
    */
  private[ops] def clusteringCoeffOf(p: DataFrame, adj: DataFrame): DataFrame = {
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
    deg
      .join(triCounts(p).select(col("doc_id").as("u"), col("n_triangles")),
        Seq("u"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(
        col("u").as("p_partkey"), col("deg"), col("n_triangles").as("tri"),
        when(col("deg") >= 2,
          col("n_triangles").cast("double") * 2.0 /
            (col("deg").cast("double") * (col("deg").cast("double") - 1.0)))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** Result cap for [[commonNeighbors]] — the ranking is total (cn desc,
    * then pair id), so the cap compiles to TakeOrderedAndProject.
    */
  val CnTopK = 30

  /** Degree threshold splitting [[commonNeighbors]]' wedge middles into
    * the rare leg (plain join) and the hot leg (salted): a middle above
    * this owns > ~0.5M wedge rows through one join key. Both test SFs
    * sit far below it (max co-purchase degree 62 at sf0.1, flat across
    * SFs), so the hot leg is empty insurance locally and the split only
    * engages at genuine scale.
    */
  val CnHotDeg: Long = 1024
  /** Salt buckets for the hot leg — bounds one task's share of a hot
    * middle at ~deg²/K wedge rows.
    */
  val CnSaltK: Int = 32
  /** cn bound making the Adamic-Adar long-image sum provably wrap-free:
    * each term ≤ ceil(1e9 / ln 2) = 1,442,695,041, so sum ≤ cn · that
    * < 2^63 whenever cn ≤ 6e9. cn beyond this needs > 6e9 distinct
    * common neighbors — raise_error rather than silent wrap.
    */
  val CnAaMaxCn: Long = 6000000000L

  /** Unscaled long image of a decimal(18,9): d · 10⁹ as BIGINT. The
    * multiply is decimal(18,9) × decimal(10,0) → decimal(29,9) — inside
    * Spark's 38-digit budget, so NO precision adjustment and no rounding
    * anywhere; the cast truncates an exact integer. (A LongType literal
    * would promote to decimal(20,0) and push the product to 39 digits,
    * where Spark silently drops scale — hence the explicit decimal.)
    */
  private def unscaledLong9(d: Column): Column =
    (d * lit(new java.math.BigDecimal("1000000000"))).cast("long")

  /** Exact inverse of [[unscaledLong9]] after a long sum: sal · 10⁻⁹ as
    * decimal(38,9). decimal(28,0) × decimal(9,9) → precision 28+9+1 = 38,
    * scale 9 — again no adjustment, every step exact.
    */
  private def makeDecimal38s9(sal: Column): Column =
    sal.cast("decimal(28,0)") * lit(new java.math.BigDecimal("0.000000001"))

  /** Part co-purchase edges: distinct part pairs on CONSECUTIVE line
    * numbers of one order. Consecutive-only (a path per order, not the
    * within-order clique) keeps the edge count linear in lineitem — the
    * clique variant is Σ items² per order and, more importantly, gives
    * this graph genuinely open wedges for [[commonNeighbors]] to close
    * (the near-dup graph is all cliques by construction — its verified
    * pairs close transitively — so link prediction over it is vacuously
    * empty; pinned in GraphSpec).
    */
  def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    coPurchaseCounted(s, dir).select("da", "db")

  /** The co-purchase pair list WITH co-occurrence counts — the memoized
    * base [[coPurchaseEdges]] projects its distinct pairs from and
    * [[ssspCoPurchase]] derives its edge weights from. One lineitem
    * self-join + ONE aggregation now serves both surfaces (r15, guide
    * §2.4): `groupBy(da,db).count` produces exactly the distinct pair
    * set `.distinct()` did, plus the multiplicity sssp used to recompute
    * with a PRIVATE self-join + aggregation per invocation (~2 s/call at
    * sf0.1 — the top bench line). The count column is pruned out of the
    * distinct-pair projection by Catalyst, so existing consumers' plans
    * are unchanged downstream of the scan.
    */
  def coPurchaseCounted(s: SparkSession, dir: String): DataFrame =
    // Seven catalog queries (communities, modularity, common-neighbors,
    // BFS, SSSP, k-core, assortativity) all start from this edge list, so
    // it is one memoized entry: built once per session instead of seven
    // times, so graph queries do not each re-sample the self-join's
    // shuffle. It is |lineitem|-bounded and held as executor blocks.
    Ckpt.cached(s, s"graph:edges:$dir") {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"), col("l_partkey"))
      li.select(col("ok"), (col("ln") + 1).as("ln"), col("l_partkey").as("pa"))
        .join(li.select(col("ok"), col("ln"), col("l_partkey").as("pb")), Seq("ok", "ln"))
        .filter(col("pa") =!= col("pb"))
        .select(least(col("pa"), col("pb")).as("da"), greatest(col("pa"), col("pb")).as("db"))
        .groupBy("da", "db")
        .agg(count(lit(1)).as("c"))
    }

  /** Catalog entry: link prediction over the part co-purchase graph. */
  def commonNeighborsCoPurchase(s: SparkSession, dir: String): DataFrame =
    commonNeighbors(coPurchaseEdges(s, dir))

  /** Common-neighbor link prediction: for node pairs NOT already joined
    * by an edge but sharing ≥ 1 neighbor, emit the three classic scores —
    * common-neighbor count, neighborhood Jaccard, and Adamic-Adar
    * (Σ 1/ln deg(m) over shared neighbors m, which discounts promiscuous
    * middles). Over co-purchase this is the classic "customers who bought
    * X and Y also…" recommendation primitive.
    *
    * Scale shape: the wedge join is the same bounded self-join as
    * [[triangles]] — wedges ∝ Σ deg², and co-purchase degree is bounded
    * by part popularity (max 62 at sf0.1, flat across SFs), so wedge
    * volume grows linearly with the fact table; existing edges leave via
    * a hash anti-join; the cap compiles to TakeOrderedAndProject. Middle
    * degrees ≥ 2 by construction (a wedge middle has two distinct
    * neighbors), so ln(deg) never divides by zero. Adamic-Adar terms
    * quantize onto decimal(18,9) and cross the aggregate as their
    * unscaled long images, summed exactly (order-free-sum rule); the
    * ranking never consults a double.
    */
  def commonNeighbors(pairList: DataFrame): DataFrame =
    commonNeighborsSplit(pairList, CnHotDeg, CnSaltK)

  private[ops] def commonNeighborsSplit(
      pairList: DataFrame, hotDeg: Long, saltK: Int): DataFrame = {
    // ensure: the catalog path passes the memoized co-purchase scan —
    // re-checkpointing it copied |E| blocks per invocation AND leaked
    // the copy (the returned anti-join pins it); fixture callers still
    // materialize their raw pair lists
    val p = Ckpt.ensure(pairList.toDF("da", "db"))
    val adj = p.union(p.select(col("db"), col("da"))).toDF("u", "m")
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
    // attach the middle's Adamic-Adar term — ALREADY on the decimal grid
    // — to the EDGE stream (|E| rows) before wedging: joining after
    // would run the same join over the wedge stream (Σ deg² rows, ~30×
    // larger at sf0.1), and computing 1/ln(deg) + the decimal cast per
    // WEDGE row (the old form) paid the expensive non-codegen decimal
    // conversion Σ deg² times instead of |V| times (r15, guide §1.2
    // per-task work; identical decimal per middle ⇒ identical sums).
    // The deg ≥ 2 guard keeps 1/ln(1) = ∞ out of the decimal cast for
    // leaf vertices (they produce no wedge rows, so the NULL never
    // reaches an aggregate — the old per-wedge form only ever cast
    // middles with two neighbors).
    //
    // r16 (guide §1.2): the term crosses the Σ deg² wedge aggregation as
    // its UNSCALED LONG image — decimal(18,9) holds the identical 9-dp
    // rounded value (it is ≤ 1/ln 2) long-backed — so the hot partial
    // aggregate sums primitive longs instead of Decimal objects (the
    // wedge stage measured 66 s of task time at sf0.1, mostly Decimal
    // churn). MakeDecimal reassembles the EXACT decimal(38,9) sum after
    // the aggregate; the cn guard makes 64-bit wrap provably impossible
    // (sum ≤ cn · ceil(1e9 / ln 2)) and fails loudly rather than wrapping.
    val degAad = deg.select(col("u").as("m"), col("deg"),
      unscaledLong9(
        when(col("deg") >= 2, (lit(1.0) / log(col("deg"))).cast("decimal(18,9)")))
        .as("al"))
    val adjM  = adj.toDF("x", "m").join(degAad, "m")
    val sideA = adjM.select(col("x").as("a"), col("m"), col("deg"), col("al"))
    // the b-side of the RARE leg needs no degree attach or filter: the
    // join key m fixes the middle's class, so rare a-side rows only ever
    // meet b-side rows of rare middles — the unfiltered adjacency joins
    // without a second pass over the degree join. Only the hot leg's
    // b-side filters (a hot-middle row count, tiny by definition of hot).
    val sideB = adj.select(col("m"), col("u").as("b"))
    // the hot-middle list materializes as its OWN (tiny) exchange: at
    // every test SF it holds 0 rows, AQE's empty-relation propagation
    // then collapses BOTH semi-joined hot-leg subtrees at runtime — the
    // static plan keeps the two-leg skew shape while the empty leg costs
    // one 0-row stage instead of extra passes over the adjacency.
    val hotM = deg.filter(col("deg") > hotDeg).select(col("u").as("m"))
      .repartition(col("m"))
    val sideBHot = sideB.join(hotM, Seq("m"), "left_semi")
    // skew split (r15 verdict item 4, guide §2.5): one hot middle vertex
    // at 100 TB owns deg² wedge rows through a SINGLE join key, which
    // AQE's skew handling cannot split. Middles split by degree: the
    // rare leg joins exactly as before; hot middles' wedges spread over
    // saltK deterministic buckets (salt = pmod(xxhash64(a), K) on the
    // a-side, b-side replicated K ways), so no task owns more than
    // ~deg²/K of one middle. The legs are disjoint by middle and their
    // union is exactly the old wedge multiset, so the aggregate — and
    // every row after it — is unchanged.
    val wedRare = sideA.filter(col("deg") <= hotDeg).select("a", "m", "al")
      .join(sideB, "m")
      .filter(col("a") < col("b"))
      .select("a", "b", "al")
    val salts = array((0 until saltK).map(i => lit(i.toLong)): _*)
    val wedHot = sideA.join(hotM, Seq("m"), "left_semi") // ⟺ deg > hotDeg
      .select(col("a"), col("m"), col("al"),
        pmod(xxhash64(col("a")), lit(saltK.toLong)).as("salt"))
      .join(
        sideBHot.select(col("m"), explode(salts).as("salt"), col("b")),
        Seq("m", "salt"))
      .filter(col("a") < col("b"))
      .select("a", "b", "al")
    val scored = wedRare.unionByName(wedHot)
      .groupBy("a", "b")
      .agg(
        count(lit(1)).as("cn"),
        sum(col("al")).as("sal"))
      .select(col("a"), col("b"), col("cn"),
        makeDecimal38s9(
          when(col("cn") <= CnAaMaxCn, col("sal"))
            .otherwise(raise_error(lit(
              "commonNeighbors: cn outgrows the aa long-sum wrap guard"))))
          .as("aa_dec"))
    scored
      .join(p.select(col("da").as("a"), col("db").as("b")), Seq("a", "b"), "left_anti")
      .join(deg.select(col("u").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("degb")), "b")
      .select(
        col("a").as("da"), col("b").as("db"), col("cn"),
        (col("cn").cast("double") / (col("dega") + col("degb") - col("cn")).cast("double"))
          .as("jacc"),
        col("aa_dec").cast("double").as("aa"))
      .orderBy(desc("cn"), asc("da"), asc("db"))
      .limit(CnTopK)
  }

  /** Fixed LPA iteration count (unrolled in the oracle). */
  val LpaIterations = 3

  /** Memoized symmetrized adjacency of the co-purchase graph — shared by
    * the three LPA-family catalog entries. Built over the already-
    * checkpointed [[coPurchaseEdges]], so the union's double scan reads
    * materialized blocks; memoized itself ([[graft.Ckpt.cached]]) so
    * repeated gate/bench invocations reuse one generation of executor
    * blocks instead of checkpointing a fresh adjacency per call (r8
    * advice: the per-invocation checkpoints were never freeable — the
    * returned DataFrames scan them lazily).
    */
  private def coPurchaseAdj(s: SparkSession, dir: String): DataFrame =
    Ckpt.cached(s, s"graph:adj:$dir") {
      val p = coPurchaseEdges(s, dir).toDF("da", "db")
      // r16 (guide §2.4 — remove shuffles outright): materialize the
      // adjacency hash-partitioned AND sorted on m, the key every
      // iterative consumer joins on (LPA rounds, bfs/kcore peels,
      // louvain's k_ic). localCheckpoint preserves outputPartitioning
      // and outputOrdering through the LogicalRDD scan, so each of those
      // joins skips BOTH the |2E|-row exchange and its sort, per round,
      // per query — only the (tiny) frontier/label side still shuffles.
      // Row content is unchanged; placement is not semantics.
      p.union(p.select(col("db"), col("da"))).toDF("u", "m")
        .repartition(col("m"))
        .sortWithinPartitions("m")
    }

  /** Memoized row count of [[coPurchaseAdj]] (= directed edge count 2m),
    * the [[graft.Ckpt]] value entry `graph:adj-count:<dir>` —
    * modularity, louvain_move and kcore each ran it as a per-invocation
    * scalar action over the same immutable memoized blocks (r15).
    */
  private def coPurchaseAdjCount(s: SparkSession, dir: String): Long =
    Ckpt.cachedValue(s, s"graph:adj-count:$dir")(coPurchaseAdj(s, dir).count())

  /** Memoized LPA label assignment of the co-purchase graph: feeds
    * communities, modularity, AND louvain_move — one 3-round LPA per
    * session instead of one per catalog invocation.
    */
  private def coPurchaseLabels(s: SparkSession, dir: String): DataFrame =
    Ckpt.cached(s, s"graph:lpa:$dir")(lpaLabels(coPurchaseAdj(s, dir)))

  /** Catalog entry: communities of the part co-purchase graph. */
  def communitiesCoPurchase(s: SparkSession, dir: String): DataFrame =
    communitiesOf(coPurchaseLabels(s, dir))

  /** Synchronous label-propagation community detection (LPA): every node
    * starts as its own label and, each round, adopts the most frequent
    * label among its neighbors — ties break toward the SMALLEST label, so
    * the whole iteration is deterministic and the DuckDB oracle unrolls
    * the identical rounds. Fixed [[LpaIterations]] rounds (LPA converges
    * in a few rounds on modular graphs; a fixed count keeps the oracle
    * static and the result partition-independent). Emits each node's
    * community and the community size.
    *
    * Scale shape: each round is one equi-join of the edge list against
    * the current (node → label) table plus two partial-aggregated
    * shuffles (label counts, then the min-struct argmax) — the PageRank
    * cost model with an argmax instead of a weighted sum; the edge list
    * is checkpointed ONCE and re-scanned per round. The argmax never
    * consults arrival order: min(struct(−count, label)) is a total
    * order.
    */
  def communities(pairList: DataFrame): DataFrame = {
    val adj    = symAdj(pairList)
    // Checkpoint the label assignment: it feeds TWO consumers (the size
    // aggregation and the final join), and without materialization Spark
    // re-executes the whole 3-round LPA subtree — ~6 shuffles — once per
    // consumer (observed: 20 exchanges, zero reuse). With the checkpoint
    // the rounds run exactly once, mirroring modularity()'s discipline.
    val labels = lpaLabels(adj).transform(Ckpt.apply)
    Ckpt.free(adj) // labels are materialized; the adjacency is dead
    communitiesOf(labels)
  }

  private def communitiesOf(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels
      .join(sizes, "lbl")
      .select(col("node").as("p_partkey"), col("lbl").as("community"), col("community_size"))
  }

  /** Checkpointed symmetrized adjacency (u, m) from an ordered pair list —
    * the shared first step of every co-purchase iteration.
    */
  private def symAdj(pairList: DataFrame): DataFrame =
    Ckpt.scoped(pairList.toDF("da", "db")) { p =>
      p.union(p.select(col("db"), col("da"))).toDF("u", "m").transform(Ckpt.apply)
    }

  /** The LPA rounds of [[communities]], exposed so [[modularity]] can
    * score the same label assignment without re-stating the loop.
    */
  private def lpaLabels(adj: DataFrame): DataFrame = {
    var labels = adj.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to LpaIterations) {
      labels = adj
        .join(labels.select(col("node").as("m"), col("lbl")), "m")
        .groupBy(col("u").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct(negate(col("c")).as("nc"), col("lbl").as("lbl"))).as("b"))
        .select(col("node"), col("b.lbl").as("lbl"))
    }
    labels
  }

  /** Catalog entry: modularity of the LPA communities of the co-purchase
    * graph.
    */
  def modularityCoPurchase(s: SparkSession, dir: String): DataFrame =
    modularityOf(coPurchaseAdj(s, dir), coPurchaseLabels(s, dir),
      Some(coPurchaseAdjCount(s, dir)))

  /** Newman modularity of the [[communities]] label assignment:
    * `Q = Σ_c [ e_c/2m − (D_c/2m)² ]` where `e_c` counts DIRECTED
    * within-community edges, `D_c` sums member degrees, and `2m` is the
    * directed edge count — the standard one-number answer to "did LPA
    * find real structure or noise" (Q ≈ 0 for random labels, > 0.3 for
    * clearly modular graphs). Running it next to [[communities]] turns
    * the community query from a labeling into a measured claim.
    *
    * Scale shape: the within-community count attaches the node→label map
    * to BOTH endpoints of the edge stream (two |E|-row hash joins — the
    * assortativity pattern) and partial-aggregates per label; degree sums
    * are one more |E|-row aggregation. The label map is checkpointed once
    * and feeds both consumers. Determinism: counts and degree sums are
    * integers; each community's term is computed with the identical IEEE
    * double expression, quantized onto the decimal(38,12) grid BEFORE the
    * order-free final sum (the catalog rule).
    */
  def modularity(pairList: DataFrame): DataFrame = {
    val adj = symAdj(pairList)
    modularityOf(adj, lpaLabels(adj).transform(Ckpt.apply))
  }

  private def modularityOf(adj: DataFrame, labels: DataFrame,
      knownM2: Option[Long] = None): DataFrame = {
    // directed edges = 2m; one scalar action (memoized on catalog paths)
    val m2 = knownM2.getOrElse(adj.count()).toDouble
    val within = adj
      .join(labels.select(col("node").as("u"), col("lbl").as("lu")), "u")
      .join(labels.select(col("node").as("m"), col("lbl").as("lm")), "m")
      .filter(col("lu") === col("lm"))
      .groupBy(col("lu").as("lbl"))
      .agg(count(lit(1)).as("e_in"))
    val degSum = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .join(labels.select(col("node").as("u"), col("lbl")), "u")
      .groupBy("lbl")
      .agg(sum(col("deg")).as("d_sum"))
    val share = col("d_sum").cast("double") / lit(m2)
    degSum
      .join(within, Seq("lbl"), "left")
      .select(
        ((coalesce(col("e_in"), lit(0L)).cast("double") / lit(m2)) - share * share)
          .cast("decimal(38,12)").as("t"))
      .agg(
        count(lit(1)).as("n_communities"),
        sum(col("t")).cast("double").as("modularity"))
  }

  /** Catalog entry: one Louvain local-move round over the LPA labels of
    * the co-purchase graph.
    */
  def louvainMoveCoPurchase(s: SparkSession, dir: String): DataFrame =
    louvainMoveOf(coPurchaseAdj(s, dir), coPurchaseLabels(s, dir), coPurchaseAdjCount(s, dir))

  /** One SYNCHRONOUS Louvain local-move round (Blondel et al. 2008) —
    * the refinement step community pipelines run after a cheap seeding
    * like LPA: every node evaluates the modularity gain of joining each
    * NEIGHBORING community (its own included, self-degree excluded from
    * the candidate community's degree mass) and moves to the argmax,
    * ties to the smallest community id. Emits per node the old/new
    * label, the winning gain, the stay-put gain, and the move flag — so
    * the spec (and any pipeline) can verify per-node local optimality
    * (`gain ≥ stay_gain` by construction) and measure how much
    * refinement LPA left on the table. One round, applied
    * simultaneously: the full Louvain iterates this to a fixed point
    * sequentially; the synchronous form is the one that exists as pure
    * dataflow, and a fixed round count keeps both engines bit-equal.
    *
    * Scale shape: candidate generation is the |E|-row edge⋈label join
    * partial-aggregated onto (node, community) — identical to one LPA
    * round; community degree mass is one more |E|-row agg joined back
    * on the community key; the argmax is a struct-max groupBy. No
    * windows over the corpus, no pair table beyond the edge stream.
    * Determinism: all inputs are integer counts; the gain is one fixed
    * IEEE chain written identically in the oracle, and the (gain, −c)
    * struct-max mirrors ORDER BY gain DESC, c ASC.
    */
  private def louvainMoveOf(adj: DataFrame, labels: DataFrame, adjRows: Long): DataFrame = {
    val m2 = adjRows.toDouble // directed edges = 2m
    val own = labels.select(col("node").as("u"), col("lbl").as("own"))
    val kic = adj
      .join(labels.select(col("node").as("m"), col("lbl").as("c")), "m")
      .groupBy(col("u"), col("c"))
      .agg(count(lit(1)).as("k_ic"))
    // r16 (guide §2.4): deg(u) = Σ_c k_ic(u, c) exactly — every adjacency
    // row lands in exactly one (u, c) cell (labels are one row per node),
    // so the degree table re-aggregates the already-collapsed kic grid
    // instead of running a second full pass + exchange over the edge
    // stream.
    val deg = kic.groupBy("u").agg(sum(col("k_ic")).as("deg"))
    val tot = deg
      .join(labels.select(col("node").as("u"), col("lbl")), "u")
      .groupBy("lbl")
      .agg(sum(col("deg")).as("d_sum"))
    // the node's own community is always a candidate, even when no
    // neighbor shares it (k_ic = 0 — the "stay" option)
    val cand = kic
      .join(own, "u")
      .select("u", "c", "own", "k_ic")
      .unionByName(own.select(col("u"), col("own").as("c"), col("own"), lit(0L).as("k_ic")))
      .groupBy("u", "c", "own")
      .agg(max(col("k_ic")).as("k_ic"))
    val sel = when(col("c") === col("own"), col("deg")).otherwise(lit(0L))
    val gain = col("k_ic").cast("double") / lit(m2) -
      (col("deg").cast("double") * (col("d_sum") - sel).cast("double")) / (lit(m2) * lit(m2))
    cand
      .join(deg, "u")
      .join(tot.select(col("lbl").as("c"), col("d_sum")), "c")
      .select(col("u"), col("own"), col("c"), gain.as("g"))
      .groupBy("u", "own")
      .agg(
        max(struct(col("g"), (-col("c")).as("nc"))).as("b"),
        max(when(col("c") === col("own"), col("g"))).as("stay_gain"))
      .select(
        col("u").as("p_partkey"),
        col("own").as("old_community"),
        (-col("b.nc")).as("new_community"),
        col("b.g").as("gain"),
        col("stay_gain"),
        (col("own") =!= -col("b.nc")).as("moved"))
  }

  /** Seed predicate and fixed round count for [[bfs]] (unrolled in the
    * oracle). Four rounds reaches the fixture graphs' periphery; on a
    * longer-diameter graph the fixed count still defines a deterministic
    * ≤-4-hop neighborhood both engines agree on.
    */
  val BfsSeedBrand = "Brand#11"
  val BfsRounds    = 4

  /** Catalog entry: hop distance from the Brand#11 parts in the
    * co-purchase graph.
    */
  def bfsCoPurchase(s: SparkSession, dir: String): DataFrame =
    bfsOverAdj(coPurchaseAdj(s, dir),
      Tables.part(s, dir).filter(col("p_brand") === BfsSeedBrand)
        .select(col("p_partkey")))

  /** Multi-source BFS: minimum hop distance from a seed set, fixed round
    * count. Emits (node, dist) for every node within [[BfsRounds]] hops —
    * the neighborhood-expansion primitive behind "what co-occurs within k
    * hops of this product family" and, over a near-dup graph, "every doc
    * transitively similar to a flagged set within k steps".
    *
    * Scale shape: the frontier-free formulation — each round joins the
    * CURRENT distance table to the edge list and takes the grouped min of
    * (old, neighbor+1) — is one |reached|-row equi-join plus one
    * partial-aggregated shuffle per round, the PageRank cost model with
    * min instead of a weighted sum. Distances are integers, so oracle
    * parity needs no quantization; only the final round's distances are
    * checkpointed.
    */
  def bfs(pairList: DataFrame, seeds: DataFrame, rounds: Int = BfsRounds): DataFrame = {
    val adj = symAdj(pairList)
    val res = bfsOverAdj(adj, seeds, rounds)
    Ckpt.free(adj)
    res
  }

  /** The BFS rounds over an ALREADY-SYMMETRIZED adjacency — the catalog
    * path hands in the memoized [[coPurchaseAdj]] directly (r15, guide
    * §2.4: [[bfs]] used to re-symmetrize + re-checkpoint the identical
    * adjacency the LPA family already memoizes, one |E|-block copy per
    * invocation). Never frees its input (the caller owns it); like
    * [[sssp]], it checkpoints only the final round's distances.
    */
  private[ops] def bfsOverAdj(adj: DataFrame, seeds: DataFrame,
      rounds: Int = BfsRounds): DataFrame = {
    var dist = adj.select(col("u")).distinct()
      .join(seeds.toDF("u"), Seq("u"), "left_semi")
      .select(col("u").as("node"), lit(0L).as("dist"))
    for (_ <- 1 to rounds)
      dist = dist.select(col("node").as("m"), col("dist"))
        .join(adj, "m")
        .select(col("u").as("node"), (col("dist") + 1).as("dist"))
        .union(dist.select(col("node"), col("dist")))
        .groupBy("node")
        .agg(min(col("dist")).as("dist"))
    Ckpt(dist).select(col("node").as("p_partkey"), col("dist"))
  }

  /** Relaxation rounds for [[sssp]] (unrolled in the oracle). */
  val SsspRounds = 4

  /** Catalog entry: weighted shortest paths from the [[BfsSeedBrand]]
    * parts over the co-purchase graph, edge cost `1000000 div c + 1` for
    * co-occurrence count c — popular links are cheap, so the distance
    * ranks parts by how strongly they connect to the seed family through
    * high-traffic baskets (integer costs: oracle parity needs no
    * quantization anywhere).
    */
  def ssspCoPurchase(s: SparkSession, dir: String): DataFrame =
    sssp(coPurchaseWadj(s, dir),
      Tables.part(s, dir).filter(col("p_brand") === BfsSeedBrand)
        .select(col("p_partkey")))

  /** Memoized weighted adjacency for [[ssspCoPurchase]]: a symmetrized
    * projection over the memoized [[coPurchaseCounted]] pair table (the
    * private per-invocation lineitem self-join it used to run is gone —
    * r15, guide §2.4). Memoized itself so repeated gate/bench
    * invocations scan one generation of blocks instead of re-unioning
    * the pair scan per call (the [[coPurchaseAdj]] discipline).
    */
  private def coPurchaseWadj(s: SparkSession, dir: String): DataFrame =
    Ckpt.cached(s, s"graph:wadj:$dir") {
      val pc = coPurchaseCounted(s, dir)
      val w  = expr("1000000 div c + 1")
      pc.select(col("da").as("u"), col("db").as("m"), w.as("w"))
        .union(pc.select(col("db").as("u"), col("da").as("m"), w.as("w")))
        // pre-partitioned + sorted on the relaxation join key — see
        // coPurchaseAdj; each Bellman–Ford round joins shuffle-free on
        // the adjacency side
        .repartition(col("m"))
        .sortWithinPartitions("m")
    }

  /** Weighted single-source (multi-seed) shortest paths by Bellman–Ford
    * relaxation: each round joins the current distance table to the
    * weighted adjacency and takes the grouped min of
    * `(old, via-neighbor + edge cost)` — [[bfs]]'s frontier-free shape
    * with an edge-cost add in place of +1, so the cost model is identical
    * (one |reached|-row equi-join plus one partial-aggregated min shuffle
    * per round) and a fixed round count bounds the result to ≤
    * [[SsspRounds]]-edge paths, deterministically in both engines. All
    * arithmetic is long-integer: no float path sums, no quantization.
    */
  def sssp(wadj: DataFrame, seeds: DataFrame, rounds: Int = SsspRounds): DataFrame =
    // scoped: the catalog path hands in the MEMOIZED weighted adjacency —
    // already a checkpoint scan, neither copied nor freed here; fixture
    // callers' raw plans are materialized and freed
    Ckpt.scoped(wadj) { adj =>
      // Only the final round's distances are checkpointed: `dist` appears
      // twice per round (relax ∪ carry), so the logical plan doubles per
      // round, and AQE's runtime stage cache dedupes the duplicated
      // shuffles at the fixed round count.
      var dist = adj.select(col("u")).distinct()
        .join(seeds.toDF("u"), Seq("u"), "left_semi")
        .select(col("u").as("node"), lit(0L).as("dist"))
      for (_ <- 1 to rounds)
        dist = dist.select(col("node").as("m"), col("dist"))
          .join(adj, "m")
          .select(col("u").as("node"), (col("dist") + col("w")).as("dist"))
          .union(dist.select(col("node"), col("dist")))
          .groupBy("node")
          .agg(min(col("dist")).as("dist"))
      Ckpt(dist).select(col("node").as("p_partkey"), col("dist"))
    }

  /** Core order and fixed peel-round count for [[kcore]] (unrolled in
    * the oracle). The fixture graphs reach the peeling fixpoint well
    * inside this many rounds (pinned in GraphSpec), so the output IS the
    * k-core; on a pathological chain the fixed count still defines a
    * deterministic (partial-peel) result both engines agree on.
    */
  val KcoreK       = 3
  val KcoreRounds  = 6

  /** Catalog entry: 3-core of the part co-purchase graph — peels over
    * the memoized [[coPurchaseAdj]] (r15: [[kcore]] used to symmetrize +
    * checkpoint a private copy of the same adjacency per invocation).
    */
  def kcoreCoPurchase(s: SparkSession, dir: String): DataFrame =
    kcoreOverAdj(coPurchaseAdj(s, dir),
      knownCount = Some(coPurchaseAdjCount(s, dir)))

  /** k-core decomposition by iterative peeling: each round drops every
    * node with degree < k in the CURRENT surviving subgraph (plus its
    * edges), for a fixed round count. Emits surviving nodes with their
    * in-core degree. The k-core is the canonical "dense backbone"
    * extractor — over co-purchase it isolates the recurring product
    * clusters from one-off baskets; over a near-dup graph it isolates
    * template families from incidental pair matches.
    *
    * Scale shape: each round is one partial-aggregated degree count plus
    * two hash semi-joins of the edge list against the survivor set — no
    * all-pairs anything, cost ∝ surviving |E| per round. The edge list
    * is re-checkpointed per round so the loop holds two generations max
    * (the PageRank/LPA discipline); peeling only ever SHRINKS the edge
    * list, so later rounds cost less, not more. Degrees are integers —
    * no quantization needed for oracle parity.
    */
  def kcore(pairList: DataFrame, k: Int = KcoreK, rounds: Int = KcoreRounds): DataFrame = {
    val adj = symAdj(pairList)
    val res = kcoreOverAdj(adj, k, rounds)
    Ckpt.free(adj)
    res
  }

  /** The peel rounds over an ALREADY-SYMMETRIZED adjacency — the catalog
    * path hands in the memoized [[coPurchaseAdj]] (r15: no more private
    * per-invocation symmetrize + checkpoint). Never frees its input; the
    * generations IT creates are freed as they are superseded.
    */
  private[ops] def kcoreOverAdj(adjIn: DataFrame, k: Int = KcoreK,
      rounds: Int = KcoreRounds, knownCount: Option[Long] = None): DataFrame = {
    var adj      = adjIn
    var adjOwned = false // round-0 adjacency belongs to the caller
    // peeling only removes rows, so an unchanged edge count IS the
    // fixpoint witness: every later round recomputes the identical
    // subgraph. Early exit is value-identical to running the remaining
    // rounds (the oracle's unrolled rounds are no-ops past the fixpoint)
    // and saves ~half the sf1 wall time — the fixture and co-purchase
    // graphs converge in 2-3 of the 6 rounds. The count scans already-
    // materialized checkpoint blocks, not the lineage.
    var edgeCount = knownCount.getOrElse(adj.count())
    var r         = 0
    var converged = false
    while (r < rounds && !converged) {
      val keep = adj.groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("u")
      val next = adj
        .join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("m")), Seq("m"), "left_semi")
        .select("u", "m")
        .transform(Ckpt.apply)
      val nextCount = next.count()
      converged = nextCount == edgeCount
      edgeCount = nextCount
      if (adjOwned) Ckpt.free(adj)
      adj = next
      adjOwned = true
      r += 1
    }
    // materialize the NODE-sized result so the |E|-sized final adjacency
    // generation can be freed — a returned handle over adj would pin an
    // edge-sized block generation per invocation under gate/bench reruns
    val res = adj.groupBy("u").agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("p_partkey"), col("core_deg"))
      .transform(Ckpt.apply)
    if (adjOwned) Ckpt.free(adj)
    res
  }

  /** Language homophily of the near-dup graph — the metadata-level twin
    * of [[assortativity]]: what fraction of near-duplicate edges connect
    * SAME-language documents? Near-dups crossing languages are either
    * translations (a real signal worth routing to a parallel-corpus
    * pipeline) or tokenization/lang-ID failures — both things a curation
    * run wants surfaced per language pair, not averaged away. Emits the
    * canonicalized (lang_a ≤ lang_b) pair grid with edge counts and the
    * fraction of all near-dup edges.
    *
    * Scale shape: two equi-joins attach endpoint languages to the
    * |pairs| stream (bounded by genuine near-dup collisions, the
    * [[Dedup.minhash]] argument); the grid is language-pair bounded and
    * the 1-row total rides as a broadcast. Determinism: frac is one
    * IEEE divide of exact longs.
    */
  def homophilyNearDup(s: SparkSession, dir: String): DataFrame = {
    // SAME memoized snapshot as trianglesNearDup: a cheap projection
    // over the minhashShared checkpoint — both consumers scan its
    // blocks directly, no second session-lived copy (r13 advice)
    val p = Dedup.minhashShared(s, dir).select(col("da"), col("db"))
    val lang = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val grid = p
      .join(lang.select(col("doc_id").as("da"), col("lang").as("la")), "da")
      .join(lang.select(col("doc_id").as("db"), col("lang").as("lb")), "db")
      .select(
        least(col("la"), col("lb")).as("lang_a"),
        greatest(col("la"), col("lb")).as("lang_b"))
      .groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_edges"))
    val tot = grid.agg(sum(col("n_edges")).as("total"))
    grid
      .crossJoin(broadcast(tot))
      .select(
        col("lang_a"), col("lang_b"), col("n_edges"),
        (col("lang_a") === col("lang_b")).cast("long").as("same_lang"),
        (col("n_edges").cast("double") / col("total").cast("double")).as("frac"))
  }

  /** Catalog entry: degree assortativity of the part co-purchase graph. */
  def assortativityCoPurchase(s: SparkSession, dir: String): DataFrame =
    assortativity(coPurchaseEdges(s, dir))

  /** Degree assortativity: the Pearson correlation of (deg(u), deg(v))
    * over the directed edge list — positive means hubs link to hubs
    * (social-network shape), negative means hubs link to leaves
    * (hub-and-spoke). The classic one-number topology fingerprint
    * (Newman 2002) — for a curation pipeline it distinguishes a
    * template-dominated near-dup graph (star-like, negative) from an
    * organically duplicated one.
    *
    * Scale shape: one degree aggregation, two hash joins attaching
    * endpoint degrees to the edge stream (|E| rows), one global
    * partial-aggregated sum — no windows, no sorts. Determinism: all
    * five sums are over INTEGER degrees in decimal(38,0), so they are
    * exact in both engines; the final r is computed from those exact
    * sums with the identical IEEE double expression (sums stay below
    * 2^53 up to ~10^9-edge graphs per the degree bound documented on
    * [[commonNeighbors]]).
    */
  def assortativity(pairList: DataFrame): DataFrame = {
    val p = pairList.toDF("da", "db")
    val adj = p.union(p.select(col("db"), col("da"))).toDF("u", "m")
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
    val e = adj
      .join(deg, "u")
      .join(deg.select(col("u").as("m"), col("deg").as("degm")), "m")
      .select(
        col("deg").cast("decimal(38,0)").as("dx"),
        col("degm").cast("decimal(38,0)").as("dy"))
    def d(c: String) = col(c).cast("double")
    e.agg(
        count(lit(1)).as("n_edges"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(
        col("n_edges"),
        ((d("n_edges") * d("sxy") - d("sx") * d("sy")) /
          (sqrt(d("n_edges") * d("sxx") - d("sx") * d("sx")) *
            sqrt(d("n_edges") * d("syy") - d("sy") * d("sy"))))
          .as("assortativity"))
  }

  val queries: Map[String, Q] = Map(
    "graph_pagerank"  -> (pagerankNearDup _),
    "graph_ppr"       -> (pprNearDup _),
    "graph_triangles" -> (trianglesNearDup _),
    "graph_common_neighbors" -> (commonNeighborsCoPurchase _),
    "graph_communities" -> (communitiesCoPurchase _),
    "graph_louvain_move" -> (louvainMoveCoPurchase _),
    "graph_kcore"     -> (kcoreCoPurchase _),
    "graph_assortativity" -> (assortativityCoPurchase _),
    "graph_clustering_coeff" -> (clusteringCoeffCoPurchase _),
    "graph_homophily" -> (homophilyNearDup _),
    "graph_modularity" -> (modularityCoPurchase _),
    "graph_bfs"       -> (bfsCoPurchase _),
    "graph_sssp"      -> (ssspCoPurchase _)
  )

  /** The unrolled LPA label CTEs shared by the communities and modularity
    * oracles: defines `l0..l\$LpaIterations` over an existing `adj`.
    */
  private val duckLpaCtes: String =
    (1 to LpaIterations).map { i =>
      s"""c$i AS (SELECT a.u AS node, l.lbl AS lbl, count(*) AS c
           FROM adj a JOIN l${i - 1} l ON l.node = a.m GROUP BY 1, 2),
         l$i AS (SELECT node, lbl FROM (
           SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
           FROM c$i) WHERE rn = 1)"""
    }.mkString(",\n")

  /** Shared DuckDB CTE: the part co-purchase pair list + symmetrized
    * adjacency (mirrors [[coPurchaseEdges]]).
    */
  private val duckCoPurchaseCte: String =
    """pairs AS (
         SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS da,
           greatest(a.l_partkey, b.l_partkey) AS db
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
         WHERE a.l_partkey <> b.l_partkey),
       adj AS (SELECT da AS u, db AS m FROM pairs UNION ALL SELECT db, da FROM pairs)"""

  /** One unrolled oracle iteration: same expression order as the Spark
    * plan — base + d·(double of the decimal contribution sum), quantized
    * back to the grid.
    */
  private def prIterCte(i: Int): String =
    s"""r$i AS (SELECT e.dst AS node,
         CAST(CAST((1 - $PrDamping) / CAST(nn.cnt AS DOUBLE) + $PrDamping *
           CAST(sum(CAST(r.rank / CAST(e.deg AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
           AS DECIMAL(38,12)) AS DOUBLE) AS rank
       FROM r${i - 1} r JOIN ed e ON r.node = e.src, nn
       GROUP BY e.dst, nn.cnt)"""

  /** One unrolled personalized-PageRank oracle iteration: the same
    * floor-integer-grid quantization as the Spark loop — every step a
    * correctly-rounded IEEE op, the destination sum an exact integer —
    * with both damping factors interpolated as full-precision double
    * literals (the exact doubles the Spark plan multiplies by).
    */
  private def pprIterCte(i: Int): String = {
    val a = java.lang.Double.toString(1 - PrDamping)
    val d = java.lang.Double.toString(PrDamping)
    s"""p$i AS (SELECT e.dst AS node,
         CAST(floor((CAST('$a' AS DOUBLE) * sv.s + CAST('$d' AS DOUBLE) *
             (CAST(sum(CAST(floor(r.rank / CAST(e.deg AS DOUBLE) * 1e12 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 1e12)) * 1e12 + 0.5)
           AS DOUBLE) / 1e12 AS rank
       FROM p${i - 1} r JOIN ed e ON r.node = e.src JOIN sv ON sv.node = e.dst
       GROUP BY e.dst, sv.s)"""
  }

  val oracle: Map[String, String] = Map(
    "graph_ppr" -> {
      val iters = (1 to PrIterations).map(pprIterCte).mkString(",\n")
      val seedMass = java.lang.Double.toString(1.0 / PprSeeds)
      val h = graft.functions.TextHash.duckHash60Of("CAST(n.node AS VARCHAR)")
      s"""WITH ${Dedup.duckMinhashPairsCte},
         edges AS (SELECT da AS src, db AS dst FROM pairs
                   UNION ALL SELECT db, da FROM pairs),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
         nodes AS (SELECT src AS node FROM deg),
         seeds AS (SELECT n.node FROM nodes n ORDER BY $h, n.node LIMIT $PprSeeds),
         sv AS (SELECT n.node,
             CASE WHEN s.node IS NOT NULL THEN CAST('$seedMass' AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END AS s
           FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
         p0 AS (SELECT node, s AS rank FROM sv),
         $iters
         SELECT node AS doc_id, rank FROM p$PrIterations"""
    },
    "graph_pagerank" -> {
      val iters = (1 to PrIterations).map(prIterCte).mkString(",\n")
      s"""WITH ${Dedup.duckMinhashPairsCte},
         edges AS (SELECT da AS src, db AS dst FROM pairs
                   UNION ALL SELECT db, da FROM pairs),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
         nn AS (SELECT count(*) AS cnt FROM deg),
         r0 AS (SELECT src AS node, 1.0 / CAST(cnt AS DOUBLE) AS rank FROM deg, nn),
         $iters
         SELECT node AS doc_id, rank FROM r$PrIterations"""
    },
    "graph_communities" ->
      s"""WITH $duckCoPurchaseCte,
         l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj),
         $duckLpaCtes,
         sz AS (SELECT lbl, count(*) AS community_size FROM l$LpaIterations GROUP BY 1)
         SELECT node AS p_partkey, l.lbl AS community,
           CAST(community_size AS BIGINT) AS community_size
         FROM l$LpaIterations l JOIN sz ON sz.lbl = l.lbl""",
    "graph_louvain_move" ->
      s"""WITH $duckCoPurchaseCte,
         l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj),
         $duckLpaCtes,
         lab AS (SELECT node, lbl FROM l$LpaIterations),
         t0 AS (SELECT CAST(count(*) AS DOUBLE) AS m2 FROM adj),
         deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1),
         ctot AS (SELECT l.lbl, sum(d.deg) AS d_sum
                  FROM deg d JOIN lab l ON l.node = d.u GROUP BY 1),
         own AS (SELECT node AS u, lbl AS own FROM lab),
         kic AS (SELECT a.u, l.lbl AS c, count(*) AS k_ic
                 FROM adj a JOIN lab l ON l.node = a.m GROUP BY 1, 2),
         cand AS (SELECT u, c, own, max(k_ic) AS k_ic FROM (
             SELECT k.u, k.c, o.own, k.k_ic FROM kic k JOIN own o USING (u)
             UNION ALL
             SELECT u, own AS c, own, 0 AS k_ic FROM own)
           GROUP BY 1, 2, 3),
         scored AS (SELECT cand.u, cand.own, cand.c,
             CAST(k_ic AS DOUBLE) / m2 -
               CAST(deg AS DOUBLE) *
                 CAST(d_sum - (CASE WHEN cand.c = cand.own THEN deg ELSE 0 END) AS DOUBLE)
                 / (m2 * m2) AS gain
           FROM cand JOIN deg ON deg.u = cand.u
           JOIN ctot ON ctot.lbl = cand.c, t0)
         SELECT u AS p_partkey, own AS old_community, c AS new_community,
           gain,
           max(CASE WHEN c2_own THEN gain END)
             OVER (PARTITION BY u) AS stay_gain,
           c <> own AS moved
         FROM (SELECT *, c = own AS c2_own,
             row_number() OVER (PARTITION BY u ORDER BY gain DESC, c ASC) rn
           FROM scored)
         QUALIFY rn = 1""",
    "graph_modularity" ->
      s"""WITH $duckCoPurchaseCte,
         l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj),
         $duckLpaCtes,
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS m2 FROM adj),
         w AS (SELECT lu.lbl AS lbl, count(*) AS e_in
               FROM adj JOIN l$LpaIterations lu ON lu.node = adj.u
                        JOIN l$LpaIterations lm ON lm.node = adj.m
               WHERE lu.lbl = lm.lbl GROUP BY 1),
         ds AS (SELECT l.lbl AS lbl, sum(d.deg) AS d_sum
                FROM (SELECT u, count(*) AS deg FROM adj GROUP BY 1) d
                JOIN l$LpaIterations l ON l.node = d.u GROUP BY 1),
         terms AS (SELECT CAST(
             CAST(coalesce(w.e_in, 0) AS DOUBLE) / m2 -
             (CAST(ds.d_sum AS DOUBLE) / m2) * (CAST(ds.d_sum AS DOUBLE) / m2)
           AS DECIMAL(38,12)) AS t
           FROM ds LEFT JOIN w ON w.lbl = ds.lbl, tot)
         SELECT count(*) AS n_communities, CAST(sum(t) AS DOUBLE) AS modularity
         FROM terms""",
    "graph_bfs" -> {
      val rounds = (1 to BfsRounds).map { i =>
        s"""d$i AS (SELECT node, min(dist) AS dist FROM (
             SELECT a.u AS node, d.dist + 1 AS dist
             FROM d${i - 1} d JOIN adj a ON a.m = d.node
             UNION ALL SELECT node, dist FROM d${i - 1}) GROUP BY 1)"""
      }.mkString(",\n")
      s"""WITH $duckCoPurchaseCte,
         nodes AS (SELECT DISTINCT u FROM adj),
         seeds AS (SELECT p_partkey AS u FROM part WHERE p_brand = '$BfsSeedBrand'),
         d0 AS (SELECT n.u AS node, CAST(0 AS BIGINT) AS dist
                FROM nodes n JOIN seeds s ON s.u = n.u),
         $rounds
         SELECT node AS p_partkey, CAST(dist AS BIGINT) AS dist FROM d$BfsRounds"""
    },
    "graph_sssp" -> {
      val rounds = (1 to SsspRounds).map { i =>
        s"""d$i AS (SELECT node, min(dist) AS dist FROM (
             SELECT a.u AS node, d.dist + a.w AS dist
             FROM d${i - 1} d JOIN wadj a ON a.m = d.node
             UNION ALL SELECT node, dist FROM d${i - 1}) GROUP BY 1)"""
      }.mkString(",\n")
      s"""WITH pairs AS (
           SELECT least(a.l_partkey, b.l_partkey) AS da,
             greatest(a.l_partkey, b.l_partkey) AS db, count(*) AS c
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
           WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
         wadj AS (SELECT da AS u, db AS m, 1000000 // c + 1 AS w FROM pairs
                  UNION ALL SELECT db, da, 1000000 // c + 1 FROM pairs),
         nodes AS (SELECT DISTINCT u FROM wadj),
         seeds AS (SELECT p_partkey AS u FROM part WHERE p_brand = '$BfsSeedBrand'),
         d0 AS (SELECT n.u AS node, CAST(0 AS BIGINT) AS dist
                FROM nodes n JOIN seeds s ON s.u = n.u),
         $rounds
         SELECT node AS p_partkey, CAST(dist AS BIGINT) AS dist FROM d$SsspRounds"""
    },
    "graph_common_neighbors" ->
      s"""WITH pairs AS (
           SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS da,
             greatest(a.l_partkey, b.l_partkey) AS db
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
           WHERE a.l_partkey <> b.l_partkey),
         adj AS (SELECT da AS u, db AS m FROM pairs UNION ALL SELECT db, da FROM pairs),
         deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1),
         wed AS (SELECT x.u AS a, y.u AS b, x.m
                 FROM adj x JOIN adj y ON x.m = y.m AND x.u < y.u),
         sc AS (SELECT a, b, count(*) AS cn,
                  sum(CAST(1.0 / ln(d.deg) AS DECIMAL(38,9))) AS aa_dec
                FROM wed JOIN deg d ON d.u = wed.m GROUP BY 1, 2),
         ne AS (SELECT sc.* FROM sc LEFT JOIN pairs pr
                ON pr.da = sc.a AND pr.db = sc.b WHERE pr.da IS NULL)
         SELECT a AS da, b AS db, CAST(cn AS BIGINT) AS cn,
           CAST(cn AS DOUBLE) / CAST(x.deg + y.deg - cn AS DOUBLE) AS jacc,
           CAST(aa_dec AS DOUBLE) AS aa
         FROM ne JOIN deg x ON x.u = ne.a JOIN deg y ON y.u = ne.b
         ORDER BY cn DESC, da ASC, db ASC LIMIT $CnTopK""",
    // The unrolled peel keeps only NODE-sized survivor sets s1..sR per
    // round (the induced-subgraph degree is recomputed against the one
    // materialized edge list each time, never re-materialized): the r8
    // formulation materialized an edge-sized CTE per round, which
    // ENOSPC'd DuckDB's temp space at sf0.1. Equivalence: s_i = nodes
    // with degree >= K in the subgraph induced by s_{i-1}, and because
    // survivor sets only shrink, that induced subgraph IS the r8 e_i.
    "graph_kcore" -> {
      val rounds = (2 to KcoreRounds).map { i =>
        s"""s$i AS (SELECT adj.u FROM adj
             JOIN s${i - 1} a ON a.u = adj.u
             JOIN s${i - 1} b ON b.u = adj.m
             GROUP BY 1 HAVING count(*) >= $KcoreK)"""
      }.mkString(",\n")
      s"""WITH $duckCoPurchaseCte,
         s1 AS (SELECT u FROM adj GROUP BY 1 HAVING count(*) >= $KcoreK),
         $rounds
         SELECT adj.u AS p_partkey, count(*) AS core_deg
         FROM adj
         JOIN s$KcoreRounds a ON a.u = adj.u
         JOIN s$KcoreRounds b ON b.u = adj.m
         GROUP BY 1"""
    },
    "graph_assortativity" ->
      s"""WITH $duckCoPurchaseCte,
         deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1),
         e AS (SELECT CAST(dx.deg AS DECIMAL(38,0)) AS dx,
                 CAST(dm.deg AS DECIMAL(38,0)) AS dy
               FROM adj JOIN deg dx ON dx.u = adj.u JOIN deg dm ON dm.u = adj.m),
         s AS (SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
                 sum(dx * dx) AS sxx, sum(dy * dy) AS syy, sum(dx * dy) AS sxy
               FROM e)
         SELECT CAST(n AS BIGINT) AS n_edges,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
           (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
            sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS assortativity
         FROM s""",
    // wedge-closing triangle count + adjacency degree over the shared
    // co-purchase CTE; cc is one IEEE divide of exact integers
    "graph_clustering_coeff" ->
      s"""WITH $duckCoPurchaseCte,
         tri AS (SELECT p1.da AS a, p1.db AS b, p2.db AS c
                 FROM pairs p1
                 JOIN pairs p2 ON p2.da = p1.db
                 JOIN pairs p3 ON p3.da = p1.da AND p3.db = p2.db),
         corners AS (SELECT a AS u FROM tri
                     UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri),
         tc AS (SELECT u, count(*) AS tri FROM corners GROUP BY 1),
         deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1)
         SELECT deg.u AS p_partkey, CAST(deg.deg AS BIGINT) AS deg,
           CAST(coalesce(tc.tri, 0) AS BIGINT) AS tri,
           CASE WHEN deg.deg >= 2 THEN
             CAST(coalesce(tc.tri, 0) AS DOUBLE) * 2.0 /
               (CAST(deg.deg AS DOUBLE) * (CAST(deg.deg AS DOUBLE) - 1.0))
           ELSE 0.0 END AS cc
         FROM deg LEFT JOIN tc ON tc.u = deg.u""",
    // endpoint languages over the shared near-dup pair CTE; frac is one
    // IEEE divide of exact longs
    "graph_homophily" ->
      s"""WITH ${Dedup.duckMinhashPairsCte},
         lg AS (SELECT doc_id, lang FROM documents),
         grid AS (SELECT least(a.lang, b.lang) AS lang_a,
             greatest(a.lang, b.lang) AS lang_b,
             CAST(count(*) AS BIGINT) AS n_edges
           FROM pairs JOIN lg a ON a.doc_id = pairs.da
           JOIN lg b ON b.doc_id = pairs.db
           GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(n_edges) AS BIGINT) AS total FROM grid)
         SELECT lang_a, lang_b, n_edges,
           CAST(lang_a = lang_b AS BIGINT) AS same_lang,
           CAST(n_edges AS DOUBLE) / CAST(total AS DOUBLE) AS frac
         FROM grid CROSS JOIN tot""",
    "graph_triangles" ->
      s"""WITH ${Dedup.duckMinhashPairsCte},
         tri AS (SELECT p1.da AS a, p1.db AS b, p2.db AS c
                 FROM pairs p1
                 JOIN pairs p2 ON p2.da = p1.db
                 JOIN pairs p3 ON p3.da = p1.da AND p3.db = p2.db),
         corners AS (SELECT a AS doc_id FROM tri
                     UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri)
         SELECT doc_id, count(*) AS n_triangles FROM corners GROUP BY 1"""
  )
}
