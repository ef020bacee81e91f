package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextHash, VectorFunctions}

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  *  - `sim_topk`  : brute-force cosine top-k — the correctness baseline.
  *    The query set is broadcast; candidates stream through one scan, so
  *    the cost is |Q| x |N| with no shuffle of the big side. This is the
  *    right physical shape when |Q| is small even at billions of vectors.
  *  - `sim_ann_lsh`: random-hyperplane LSH — the scale path. Signatures
  *    bucket the vectors; only same-bucket candidates are scored. The
  *    hyperplanes are derived from [[TextHash.hash60]] parities and vector
  *    components are quantized to integers before voting, so signatures
  *    are exactly reproducible in the DuckDB oracle (and across runs /
  *    partitionings — no floating-point accumulation order anywhere in
  *    the signature).
  *
  * Cosine itself is a single left-to-right fold over the 64 dims in both
  * engines; empirically bit-identical (verified by the oracle gate).
  *
  * Background on distributed top-k similarity search: see PAPERS.md
  * (e.g. REPOSE, ICDE 2021 — partition-local candidate pruning before
  * global ranking, the same shape as the bucket-then-rank plan here).
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  val NumQueryVecs = 20
  val TopK         = 5
  /** LSH: `NumTables` independent hash tables of `NumPlanes` deterministic
    * hyperplanes each; candidates are the union over tables (standard
    * multi-table LSH — recall compounds across tables). Components are
    * quantized at 1e3 so signatures are exact integer arithmetic.
    */
  val NumPlanes = 6
  val NumTables = 4
  /** Target rows per bucket for [[annLsh]]'s derived plane count —
    * [[planesFor]](500, 8) = 6 = [[NumPlanes]], so the fixture geometry
    * is unchanged while occupancy stays constant as the table grows.
    */
  val AnnTargetBucket = 8

  private[ops] def withNorm(e: DataFrame): DataFrame =
    e.select(
      col("vec_id"),
      col("embedding"),
      sqrt(VectorFunctions.dotF(col("embedding"), col("embedding"))).as("norm"))

  private[ops] def cosine(ea: Column, eb: Column, na: Column, nb: Column): Column =
    VectorFunctions.dotF(ea, eb) / (na * nb)

  /** Brute-force exact top-k neighbors for the first `NumQueryVecs` ids. */
  def topkBrute(s: SparkSession, dir: String): DataFrame =
    bruteRanked(s, dir, TopK)

  /** The brute exact-cosine ranking at an arbitrary depth `k` — shared
    * by [[topkBrute]] (k = [[TopK]]) and [[mmrRerank]]'s candidate pool
    * (k = [[MmrPool]]).
    */
  private def bruteRanked(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = withNorm(Tables.embeddings(s, dir))
    val q = e
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("va"), col("embedding").as("ea"), col("norm").as("na"))
    val c = e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("norm").as("nb"))
    val w = Window.partitionBy("va").orderBy(desc("cos"), asc("vb"))
    broadcast(q)
      .join(c, col("va") =!= col("vb"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("va", "vb", "cos", "rn")
  }

  /** Deterministic random-hyperplane signatures, one bucket per (vector,
    * table): table t's plane j's weight for component i is ±1 from the
    * parity of hash60("i:j:t") (1-based i); components are quantized with
    * floor(x*1000) so the vote sum is exact integer arithmetic —
    * signatures are partition-order independent.
    */
  /** Embedding dimensionality of the fixture tables. */
  val Dims = 64

  /** Hyperplane weight vector for (table, plane), precomputed driver-side
    * with the *same* md5 formula the oracle evaluates in SQL — constants
    * ship as literals, so signature evaluation is pure integer arithmetic
    * per row: no md5, no explode, no shuffle. Independent of the
    * (tables, planes) config, so any caller's geometry draws from the
    * same family.
    */
  private def planeWeights(tbl: Int, j: Int): Seq[Long] =
    (1 to Dims).map { i =>
      if (TextHash.hash60Jvm(s"$i:$j:$tbl") % 2 == 1) 1L else -1L
    }

  /** Planes needed to hold expected bucket occupancy near `targetBucket`
    * rows for an n-row table: 2^planes buckets per table ≈ n/targetBucket.
    * Same-bucket candidate volume per table is ~n·occupancy/2, so keeping
    * occupancy constant keeps pair generation LINEAR in n; a fixed plane
    * count degenerates toward all-pairs (n²/2^planes) as n grows. The
    * catalog queries pin small geometries (4x6, 8x4) because their DuckDB
    * oracle SQL is static and the fixtures are 500-2000 vectors; a real
    * deployment sizes planes with this function (e.g. 24 planes for 1e9
    * vectors at occupancy ~60) and compounds recall with more tables.
    */
  def planesFor(n: Long, targetBucket: Int = 64): Int = {
    // integer-exact form of ceil(log2(n/targetBucket)): the smallest p
    // with 2^p buckets · targetBucket ≥ n. Both engines evaluate this
    // same integer recurrence (the DuckDB side as a min-over-range scalar
    // subquery), so the derived geometry can never diverge by a floating
    // log ULP at power-of-two boundaries.
    var p = 1
    while (p < 40 && (1L << p) * targetBucket < n) p += 1
    p
  }

  /** Bucketing geometry is a recall/selectivity dial: fewer planes =
    * wider buckets = higher recall per table; more tables compound
    * recall. `sim_ann_lsh` uses the default 4x6 (selective buckets, small
    * query set); `dedup_embedding` passes 8x4 (recall-heavy, whole-table
    * pair generation). Size `planes` via [[planesFor]] when the table is
    * not fixture-sized.
    */
  def signatures(s: SparkSession, dir: String,
      tables: Int = NumTables, planes: Int = NumPlanes): DataFrame = {
    // zip_with pads the shorter side with nulls, which would silently
    // zero every vote bit on a dimension mismatch — fail loudly instead.
    // The check lives inside the value path so column pruning can't
    // eliminate it.
    val emb = when(size(col("embedding")) === Dims, col("embedding"))
      .otherwise(raise_error(format_string(
        s"embedding dimensionality %s != $Dims for vec_id %s",
        size(col("embedding")).cast("string"), col("vec_id").cast("string"))))
    val xq = transform(emb, x => floor(x.cast("double") * 1000).cast("long"))
    // codegen'd exact long dot (r15, guide §1.2): the zip_with/aggregate
    // fold paid a lambda frame per element per (row, table, plane)
    def vote(tbl: Int, j: Int): Column =
      VectorFunctions.dotL(col("xq"), typedLit(planeWeights(tbl, j)))
    def bucket(tbl: Int): Column =
      (0 until planes)
        .map(j => when(vote(tbl, j) > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), xq.as("xq"))
      .select(
        col("vec_id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("tbl"), bucket(t).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** ANN top-k: candidates = union over hash tables of same-bucket pairs,
    * de-duplicated, then ranked by exact cosine. Recall vs. the
    * brute-force baseline is asserted in the test suite.
    */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, dir))
    val q = e
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("va"), col("embedding").as("ea"), col("norm").as("na"))
    val c = e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("norm").as("nb"))
    val w = Window.partitionBy("va").orderBy(desc("cos"), asc("vb"))
    lshCandidates(s, dir)
      .join(broadcast(q), "va")
      .join(c, "vb")
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .select("va", "vb", "cos", "rn")
  }

  /** LSH-bucketed (query, candidate) pairs shared by [[annLsh]] and
    * [[hardNegatives]]: union over hash tables of same-bucket pairs,
    * de-duplicated. Derived geometry, same discipline as
    * dedup_embedding: per-query candidate volume is tables · n/2^planes,
    * so planes must track n to keep it constant; [[AnnTargetBucket]] = 8
    * reproduces the original 6-plane fixture geometry at the 500-vector
    * gate.
    */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    val sig = signatures(s, dir, NumTables,
      planesFor(Tables.embeddingsCount(s, dir), AnnTargetBucket))
    sig
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("va"), col("tbl"), col("bucket"))
      .join(sig.select(col("vec_id").as("vb"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .filter(col("va") =!= col("vb"))
      .select("va", "vb")
      .distinct()
  }

  /** ANN recall audit — "measure, don't guess" applied to the index
    * itself: per query, how many of [[topkBrute]]'s exact top-k the
    * LSH path ([[annLsh]]) actually returned. recall@k is THE number an
    * ANN deployment is judged by (index geometry changes ship against a
    * recall target, not a vibe), and computing it as a catalog query
    * means the audit reruns under the same oracle gate as the operators
    * it audits — if either side drifts, the audit row fails too.
    *
    * Scale shape: both sides are the already-bounded top-k tables
    * (|Q|·k rows); the audit itself is one left equi-join plus a
    * per-query count — free next to the pipelines it measures. The
    * recall ratio is a quotient of two small exact integers: no
    * quantization needed.
    *
    * `expected_coverage` (round-12 verdict item 5) makes the row
    * self-documenting at every SF: the geometry-derived probability that
    * a RANDOM candidate collides with the query in ≥1 hash table,
    * 1 − (1 − 2^−planes)^tables — the noise floor of the index. A
    * recall_at_k near this floor means the buckets return noise (an
    * index regression); recall far above it is genuine locality. Both
    * engines derive it from the same [[planesFor]] cell geometry with
    * the power unrolled to repeated multiplication, so the doubles are
    * bit-identical under the hash compare.
    */
  def coverageFloor(planes: Int, tables: Int): Double = {
    val q = 1.0 - 1.0 / (1L << planes).toDouble
    1.0 - Seq.fill(tables)(q).product
  }

  def recallAudit(s: SparkSession, dir: String): DataFrame = {
    val planes = planesFor(Tables.embeddingsCount(s, dir), AnnTargetBucket)
    val truth  = topkBrute(s, dir).select(col("va"), col("vb"))
    val ann    = annLsh(s, dir).select(col("va"), col("vb"), lit(1).as("hit"))
    truth
      .join(ann, Seq("va", "vb"), "left")
      .groupBy("va")
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hit"))
      .select(
        col("va"), col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true").cast("double")).as("recall_at_k"),
        lit(coverageFloor(planes, NumTables)).as("expected_coverage"))
  }

  /** MMR geometry: candidate-pool depth, selections per query, and the
    * relevance/diversity mix. `MmrMu` is its OWN literal, not computed
    * as 1−λ: `1 − 0.7` is 0.30000000000000004 in IEEE, and both engines
    * must score with the identical constant.
    */
  val MmrPool   = 12
  val MmrK      = 6
  val MmrLambda = 0.7
  val MmrMu     = 0.3

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    * — the diversity-aware selection every RAG retriever runs after ANN:
    * from each query's exact top-[[MmrPool]] pool, greedily pick
    * [[MmrK]] results maximizing `λ·rel(q,d) − μ·max_{s∈selected}
    * cos(d,s)`, so near-duplicate hits (which a corpus full of near-dups
    * produces constantly) stop crowding out coverage. Emits the picks
    * with their selection order, relevance, and the score that won the
    * round.
    *
    * Scale shape: everything after the brute ranking is bounded by the
    * |Q|·pool candidate table and its |Q|·pool² pairwise-cosine grid;
    * the greedy rounds are [[MmrK]]−1 unrolled argmaxes over those
    * bounded tables (per-round checkpoint, previous generation freed —
    * the kcore loop discipline; the pool/cc checkpoints free once the
    * final selection materializes). Determinism: rel and cc are the
    * established exact-cosine values, the score is a fixed-order IEEE
    * expression of them with vb as total tiebreak, and the oracle
    * unrolls the identical rounds.
    */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    // r16 (verdict item 6): the greedy selection is per-query independent
    // over a ≤ MmrPool-row pool, so the whole unrolled loop — five
    // join+window+union rounds, three eager localCheckpoints, ~25 jobs
    // over tables of a few hundred rows — collapses into ONE
    // [[graft.functions.MmrSelect]] expression over each query's
    // collected pool (see that scaladoc for the term-by-term bit-parity
    // argument). Shape: the brute pool ranking, one join attaching
    // (embedding, norm) to the |Q|·pool candidate rows (no broadcast
    // hint: the candidates grow with |Q|, and AQE broadcasts the small
    // side on its own once it has measured it), a
    // |Q|-group collect, and an explode — no materialization anywhere.
    // collect_list order is partition-dependent, but the selection is
    // argmax-based with total tiebreaks, so its output is order-invariant.
    val cand = bruteRanked(s, dir, MmrPool)
      .select(col("va"), col("vb"), col("cos").as("rel"))
    val e = withNorm(Tables.embeddings(s, dir))
    val pool = e
      .select(col("vec_id").as("vb"), col("embedding").as("eb"), col("norm").as("nb"))
      .join(cand, "vb")
      .groupBy("va")
      .agg(collect_list(struct(col("vb"), col("rel"), col("eb"), col("nb"))).as("pool"))
    pool
      .select(col("va"),
        explode(GraftSqlShims.column(graft.functions.MmrSelect(
          GraftSqlShims.expression(col("pool")), MmrK, MmrLambda, MmrMu))).as("p"))
      .select(col("va"), col("p.vb").as("vb"), col("p.pick").as("pick"),
        col("p.rel").as("rel"), col("p.score").as("score"))
  }

  /** NDCG@k of the LSH ANN against the exact brute-force ranking — the
    * rank-WEIGHTED companion of [[recallAudit]]: recall treats a true
    * neighbor surfaced at rank 1 and rank k identically, while NDCG
    * discounts each hit by 1/log₂(rank+1) (Järvelin & Kekäläinen 2002),
    * so an index that returns the right set in the wrong order scores
    * below one that ranks them as the exact search would. Binary
    * relevance (membership in the true top-k); ideal DCG is the truth
    * list's own discount sum, so ndcg ∈ [0, 1] with 1 = exact-order
    * agreement.
    *
    * Scale shape: both inputs are the already-bounded |Q|·k top-k
    * tables; one equi-join + two grouped sums. Determinism: each
    * discount quantizes to decimal(38,9) before the order-free decimal
    * sum (log₂ is StrictMath vs libm — the llrTop last-ulp rule); the
    * final ratio is one IEEE divide of the two decimal-cast doubles.
    */
  def ndcgAudit(s: SparkSession, dir: String): DataFrame = {
    def disc(r: Column): Column =
      (lit(1.0) / log2(r.cast("double") + lit(1.0))).cast("decimal(38,9)")
    val truth = topkBrute(s, dir).select(col("va"), col("vb"), col("rn").as("tr"))
    val ann   = annLsh(s, dir).select(col("va"), col("vb"), col("rn"))
    val idcg = truth.groupBy("va")
      .agg(sum(disc(col("tr"))).as("idcg"), count(lit(1)).as("n_true"))
    val dcg = truth.join(ann, Seq("va", "vb"))
      .groupBy("va")
      .agg(sum(disc(col("rn"))).as("dcg"), count(lit(1)).as("n_hit"))
    idcg
      .join(dcg, Seq("va"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(
        col("va"), col("n_true"), col("n_hit"),
        (coalesce(col("dcg"), lit(0).cast("decimal(38,9)")).cast("double") /
          col("idcg").cast("double")).as("ndcg_at_k"))
  }

  /** Margin threshold for [[tripletAudit]]: a triplet is training-ready
    * when cos(anchor, positive) exceeds cos(anchor, hard negative) by at
    * least this much — under it, the pair sits inside the loss margin
    * and carries gradient.
    */
  val TripletMargin = 0.2

  /** Triplet-margin audit for contrastive training — the QA pass over
    * the (anchor, positive, hard-negative) triplets an embedding
    * fine-tune consumes: for each query anchor, the nearest SAME-label
    * candidate (the positive a sampler would pick) and the nearest
    * DIFFERENT-label candidate (the hard negative, [[hardNegatives]]'
    * top-1), with the margin between them and whether it clears
    * [[TripletMargin]]. Anchors whose margin is negative are mislabeled
    * or boundary cases — exactly the rows a data pipeline routes to
    * review before training on them.
    *
    * Scale shape: both branches ride the shared LSH-bucketed candidate
    * join (bounded, never all-pairs); each is a WindowGroupLimit top-1;
    * one |Q|-bounded equi-join stitches them. Determinism: cosines are
    * the established exact values, the margin is one IEEE subtract,
    * ties break on candidate id.
    */
  def tripletAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(
      col("vec_id"), col("embedding"), col("label"),
      sqrt(VectorFunctions.dotF(col("embedding"), col("embedding"))).as("norm"))
    val q = e
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("norm").as("na"), col("label").as("label_q"))
    val c = e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("norm").as("nb"), col("label").as("label_n"))
    val scored = lshCandidates(s, dir)
      .join(broadcast(q), "va")
      .join(c, "vb")
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
    val w = Window.partitionBy("va").orderBy(desc("cos"), asc("vb"))
    def top1(side: DataFrame): DataFrame = side
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val pos = top1(scored.filter(col("label_q") === col("label_n")))
      .select(col("va"), col("label_q"), col("vb").as("pos_vb"), col("cos").as("pos_cos"))
    val neg = top1(scored.filter(col("label_q") =!= col("label_n")))
      .select(col("va"), col("vb").as("neg_vb"), col("cos").as("neg_cos"))
    pos
      .join(neg, "va")
      .select(
        col("va"), col("label_q"), col("pos_vb"), col("pos_cos"),
        col("neg_vb"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"),
        when(col("pos_cos") - col("neg_cos") >= TripletMargin, 1L)
          .otherwise(0L).as("clears_margin"))
  }

  /** Hard-negative mining for contrastive training — each query
    * vector's top-k most-similar vectors with a DIFFERENT label: the
    * negatives nearest the decision boundary, which embedding-model
    * fine-tuning samples preferentially (the "hard" in hard negatives;
    * in-batch randoms are too easy to carry gradient signal). Same-label
    * rows (positives) and the query itself are excluded BEFORE ranking,
    * so `rn` is the rank among negatives — k hard negatives per query
    * even when the nearest neighbors are all positives.
    *
    * Scale shape: identical to [[annLsh]] — the shared LSH-bucketed
    * candidate join bounds the pair space, the label filter rides the
    * candidate stream (a column compare, no extra shuffle beyond the
    * two id-equi-joins), and the per-query top-k is a WindowGroupLimit.
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    // label rides the norm projection — one scan, no self-join
    val e = Tables.embeddings(s, dir).select(
      col("vec_id"), col("embedding"), col("label"),
      sqrt(VectorFunctions.dotF(col("embedding"), col("embedding"))).as("norm"))
    val q = e
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("norm").as("na"), col("label").as("label_q"))
    val c = e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("norm").as("nb"), col("label").as("label_n"))
    val w = Window.partitionBy("va").orderBy(desc("cos"), asc("vb"))
    lshCandidates(s, dir)
      .join(broadcast(q), "va")
      .join(c, "vb")
      .filter(col("label_q") =!= col("label_n"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .select("va", "label_q", "vb", "label_n", "cos", "rn")
  }

  /** IVF geometry: coarse centroids (the first `IvfK` vectors, the same
    * fixed-centroid convention as Curation.centroidAssign) and the number
    * of nearest cells each query probes.
    */
  val IvfK   = 8
  val NProbe = 2

  /** Past this many centroids the assignment switches from a literal
    * codegen projection to a broadcast join: K ~ sqrt(n) grows with the
    * corpus, and a million-centroid set neither fits a generated method
    * nor belongs on the driver as literals. Both paths are bit-identical
    * (asserted in SimilaritySpec).
    */
  val IvfLiteralBudget = 64

  /** IVF-style ANN — the other classic scale path next to LSH (see
    * PAPERS.md on inverted-file indexes): every vector is assigned to its
    * nearest coarse centroid (a pure scan-side projection — centroids ship
    * as literals, so there is NO join and no shuffle to build the index),
    * each query probes its [[NProbe]] nearest cells, and only vectors in
    * probed cells are reranked by exact cosine.
    *
    * Scale shape: the cell id is 8 bytes per vector; candidates per query
    * are ~NProbe·n/K rows reached through one equi-join on cell id. A real
    * deployment sizes K ~ sqrt(n) (so both the centroid set and the cell
    * occupancy grow as sqrt(n)); past [[IvfLiteralBudget]] centroids the
    * assignment runs as a broadcast join + per-vector re-aggregation
    * instead of a literal projection — same results bit-for-bit, the plan
    * shape downstream of the assignment is unchanged. Recall vs the
    * brute-force baseline is asserted in the test suite.
    */
  def ivf(s: SparkSession, dir: String): DataFrame =
    ivfImpl(s, dir, literal = IvfK <= IvfLiteralBudget)

  /** Tie-total best-first cell comparator — mirrors the oracle's ORDER BY
    * cos DESC, cid ASC (avoids sorting on a negated double, where -0.0 vs
    * 0.0 could diverge from SQL ordering).
    */
  private def cellCmp(l: Column, r: Column): Column =
    when(l("cos") > r("cos"), -1)
      .when(l("cos") < r("cos"), 1)
      .when(l("cid") < r("cid"), -1)
      .when(l("cid") > r("cid"), 1)
      .otherwise(0)

  private[ops] def ivfImpl(s: SparkSession, dir: String, literal: Boolean): DataFrame = {
    val assigned = ivfAssigned(s, dir, literal)
    val index = assigned
      .select(
        col("vec_id").as("vb"), col("embedding").as("eb"), col("norm").as("nb"),
        element_at(col("cells"), 1)("cid").as("cell"))
    val probes = assigned
      .filter(col("vec_id") < NumQueryVecs)
      .select(
        col("vec_id").as("va"), col("embedding").as("ea"), col("norm").as("na"),
        explode(slice(col("cells"), 1, NProbe)).as("pc"))
      .select(col("va"), col("ea"), col("na"), col("pc")("cid").as("cell"))
    val w = Window.partitionBy("va").orderBy(desc("cos"), asc("vb"))
    broadcast(probes)
      .join(index, "cell")
      .filter(col("va") =!= col("vb"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .select("va", "vb", "cos", "rn")
  }

  /** Every vector with its best-first ranked IVF cell array — the
    * coarse-quantizer assignment shared by [[ivfImpl]] and [[ivfPq]].
    */
  private def ivfAssigned(s: SparkSession, dir: String, literal: Boolean): DataFrame = {
    val e = withNorm(Tables.embeddings(s, dir))
    val assigned =
      if (literal) {
        // driver-literal centroids: K small enough that the K cosines
        // compile into one codegen'd projection — zero joins, zero
        // shuffles to build the index
        val cents: Seq[(Long, Seq[Float], Double)] = Tables
          .embeddings(s, dir)
          .filter(col("vec_id") < IvfK)
          .select("vec_id", "embedding")
          .collect()
          .map { r =>
            val v = r.getSeq[Float](1)
            // left-to-right double fold — bit-identical to FloatDotProduct
            // and DuckDB list_inner_product (oracle-parity requirement)
            val norm = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
            (r.getLong(0), v, norm)
          }
          .sortBy(_._1)
          .toSeq
        val ranked = array_sort(
          array(cents.map { case (cid, v, cnorm) =>
            struct(
              (VectorFunctions.dotF(col("embedding"), typedLit(v)) / (col("norm") * lit(cnorm)))
                .as("cos"),
              lit(cid).as("cid"))
          }: _*),
          cellCmp)
        e.select(col("vec_id"), col("embedding"), col("norm"), ranked.as("cells"))
      } else {
        // broadcast-join path: centroids stay distributed (never collected
        // to the driver); each vector meets the K-row broadcast, and the
        // ranked cell array is rebuilt per vector by a hash aggregation on
        // vec_id. collect_list order is nondeterministic, but the same
        // tie-total comparator makes the sorted array identical to the
        // literal path's.
        val cent = Tables
          .embeddings(s, dir)
          .filter(col("vec_id") < IvfK)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
          .withColumn("cnorm", sqrt(VectorFunctions.dotF(col("cemb"), col("cemb"))))
        e.crossJoin(broadcast(cent))
          .withColumn("ccos",
            VectorFunctions.dotF(col("embedding"), col("cemb")) / (col("norm") * col("cnorm")))
          .groupBy("vec_id")
          .agg(
            first(col("embedding")).as("embedding"),
            first(col("norm")).as("norm"),
            array_sort(collect_list(struct(col("ccos").as("cos"), col("cid"))), cellCmp)
              .as("cells"))
      }
    assigned
  }

  /** IVF-PQ search — the billion-vector production composition: the IVF
    * coarse quantizer prunes the candidate set to [[NProbe]] cells per
    * query, and candidates are then scored in the COMPRESSED domain
    * ([[pqTopk]]'s ADC lookup-table sum over their [[PqM]] byte codes) —
    * neither the full pair space nor the candidates' float vectors are
    * ever touched. This is exactly the shape FAISS-style engines deploy:
    * cell lists bound the scan, PQ codes bound memory/bandwidth, and an
    * exact-rerank tier (here [[ivf]] itself) sits above if needed.
    *
    * Determinism inherits from both parents: the cell ranking uses the
    * tie-total comparator, ADC cells quantize to decimal(38,9) before
    * the sum, and the per-query top-k is filter-then-cast
    * WindowGroupLimit.
    */
  def ivfPq(s: SparkSession, dir: String): DataFrame =
    ivfPqShortlist(s, dir, TopK)

  private def ivfPqShortlist(s: SparkSession, dir: String, limit: Int): DataFrame = {
    val assigned = ivfAssigned(s, dir, literal = IvfK <= IvfLiteralBudget)
    val index = assigned
      .select(col("vec_id"), element_at(col("cells"), 1)("cid").as("cell"))
    val probes = assigned
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("q_vec"), explode(slice(col("cells"), 1, NProbe)).as("pc"))
      .select(col("q_vec"), col("pc")("cid").as("cell"))
    val subs  = pqSubs(s, dir)
    val cw    = pqCodebook(subs)
    val codes = pq(s, dir).select(col("vec_id"), col("subspace"), col("code"))
    val d2q = VectorFunctions.dotF(col("qv"), col("qv")) -
      lit(2.0) * VectorFunctions.dotF(col("qv"), col("cv")) +
      VectorFunctions.dotF(col("cv"), col("cv"))
    val lut = subs
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("q_vec"), col("subspace"), col("sv").as("qv"))
      .join(cw, "subspace")
      .select(col("q_vec"), col("subspace"), col("code"), d2q.cast("decimal(38,9)").as("d2q"))
    val w = Window.partitionBy("q_vec").orderBy(asc("adcq"), asc("vec_id"))
    codes
      .join(index, "vec_id")
      .join(broadcast(probes), "cell")
      .filter(col("q_vec") =!= col("vec_id"))
      .join(broadcast(lut), Seq("q_vec", "subspace", "code"))
      .groupBy("q_vec", "vec_id")
      .agg(sum(col("d2q")).as("adcq"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= limit)
      .select(col("q_vec"), col("vec_id"), col("adcq").cast("double").as("adc"),
        col("rn").cast("long").as("rn"))
  }

  /** ADC shortlist size per query for [[ivfPqRerank]] — the standard
    * 3–10× over-retrieve that buys back the recall PQ compression
    * loses; 4×[[TopK]] keeps the rerank's float work bounded.
    */
  val RerankR = 4 * TopK

  /** IVF-PQ with an exact-cosine rerank tier — the third stage of the
    * production ANN stack ([[ivfPq]]'s own scaladoc points here): the
    * coarse quantizer prunes cells, ADC over byte codes ranks the
    * pruned candidates, and only each query's top [[RerankR]] ADC
    * survivors are re-scored against their TRUE float vectors. The
    * compressed tier touches no floats; the float tier touches only
    * Q·[[RerankR]] rows — the two-sided bound that lets a
    * billion-vector index serve exact-quality top-k from RAM.
    *
    * Scale shape: the shortlist is Q·R rows (broadcast-joined to the
    * query vectors); candidate float vectors arrive through ONE
    * equi-join on vec_id against the base table — no re-scan of the
    * PQ/IVF state, no pair table. Determinism: the ADC shortlist
    * inherits [[ivfPq]]'s decimal-quantized ranking; the final rerank
    * orders by exact IEEE cosine with the vec_id tiebreak.
    */
  def ivfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, dir))
    val qe = e
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("q_vec"), col("embedding").as("qa"), col("norm").as("na"))
    val cand = ivfPqShortlist(s, dir, RerankR).select("q_vec", "vec_id")
    val w = Window.partitionBy("q_vec").orderBy(desc("cos"), asc("vec_id"))
    cand
      .join(broadcast(qe), "q_vec")
      .join(e, "vec_id")
      .withColumn("cos", cosine(col("qa"), col("embedding"), col("na"), col("norm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .select(col("q_vec"), col("vec_id"), col("cos"), col("rn"))
  }

  /** Johnson–Lindenstrauss target dimensionality for [[rpAudit]]. */
  val RpK = 16

  /** Random-projection (JL) dimensionality reduction + distortion audit
    * — the third compression path next to PCA (data-driven, needs a
    * covariance pass) and PQ (codebook): a DATA-FREE ±1 projection
    * matrix (Achlioptas 2003) maps [[Dims]]→[[RpK]] in one scan, no
    * training state at all — the right tool when even the d² covariance
    * grid is too big or the matrix must be fixed before any data
    * arrives. Emits, for every query pair, the original and projected
    * squared distances and their ratio (expectation 1 under the JL
    * guarantee) — the audit a pipeline runs before trusting the
    * compressed space.
    *
    * Determinism discipline: components quantize to floor(x·1000)
    * integers and weights are ±1 from the shared md5 parity family, so
    * every projection and distance is EXACT integer arithmetic —
    * order-free, partition-independent, and bit-equal in the oracle
    * (the same trick as the LSH signature votes); only the final ratio
    * divides two exact longs into a double.
    *
    * Scale shape: the projection is a pure scan-side codegen fold (the
    * weight matrix ships as literals — no join, no shuffle, no driver
    * state beyond d·k booleans); the audit pairs are query-set-bounded.
    */
  def rpAudit(s: SparkSession, dir: String): DataFrame = {
    val wts: Seq[Seq[Long]] = (0 until RpK).map { j =>
      (1 to Dims).map { i =>
        if (TextHash.hash60Jvm(s"rp:$i:$j") % 2 == 1) 1L else -1L
      }
    }
    val xq = transform(col("embedding"), x => floor(x.cast("double") * 1000).cast("long"))
    val proj = array(wts.map(w =>
      VectorFunctions.dotL(col("xq"), typedLit(w))): _*)
    val p = Tables
      .embeddings(s, dir)
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id"), xq.as("xq"))
      .select(col("vec_id"), col("xq"), proj.as("pj"))
    val d2 = (a: Column, b: Column) => VectorFunctions.sqDistL(a, b)
    p.as("a")
      .join(p.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("va"),
        col("b.vec_id").as("vb"),
        d2(col("a.xq"), col("b.xq")).as("orig_d2"),
        d2(col("a.pj"), col("b.pj")).as("proj_d2"))
      .select(
        col("va"), col("vb"), col("orig_d2"), col("proj_d2"),
        (col("proj_d2").cast("double") / (lit(RpK.toDouble) * col("orig_d2"))).as("ratio"))
  }

  /** Levels of the scalar (int8) quantization grid: byte codes 0..255. */
  val QuantLevels = 255

  /** Scalar int8 quantization audit — the 4× memory cut that makes a
    * billion-vector ANN index fit executor RAM (float32 → uint8 per
    * dimension, the standard first step before IVF/PQ refinement; see
    * PAPERS.md on inverted-file indexes). Pass 1 fits the per-dimension
    * affine grid (min/max over the corpus — a partial-aggregated shuffle
    * onto at most [[Dims]] keys); pass 2 encodes every value onto the
    * 0..[[QuantLevels]] grid and reports per-dimension reconstruction
    * error at the code's bin midpoint.
    *
    * Scale shape: two scans, both embarrassingly parallel; the grid table
    * is bounded by the CONSTANT dimensionality, so broadcasting it back
    * onto the value stream is scale-safe by construction. Determinism:
    * encode/decode is a fixed chain of IEEE ops (sub, mul, div, floor,
    * abs) written identically in the oracle; the error mean goes through
    * the decimal(38,9) sum, and the error max compares doubles (exact).
    * Degenerate dimensions (max == min) encode to code 0 with zero error.
    */
  def quantize(s: SparkSession, dir: String): DataFrame = {
    def exploded = Tables
      .embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("dim"), col("x").cast("double").as("x"))
    val grid = exploded.groupBy("dim").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val span = col("hi") - col("lo")
    val code = least(floor((col("x") - col("lo")) * QuantLevels / span), lit(QuantLevels.toDouble))
    val recon = col("lo") + (code + lit(0.5)) * span / QuantLevels
    val err   = when(col("hi") > col("lo"), abs(col("x") - recon)).otherwise(lit(0.0))
    exploded
      .join(broadcast(grid), "dim")
      .select(col("dim"), col("lo"), col("hi"), err.as("err"))
      .groupBy("dim")
      .agg(
        first(col("lo")).as("lo"),
        first(col("hi")).as("hi"),
        count(lit(1)).as("n_vals"),
        (sum(col("err").cast("decimal(38,9)")).cast("double") / count(lit(1))).as("avg_abs_err"),
        max(col("err")).as("max_abs_err"))
  }

  /** Product-quantization geometry: [[Dims]] = [[PqM]] × [[PqSub]]
    * subspaces; [[PqK]] codewords per subspace, seeded from the first
    * [[PqK]] vectors' subvectors (the same seed discipline as
    * `embed_assign`'s centroids — production codebooks come from a
    * k-means run per subspace; the encode path below is identical
    * either way).
    */
  val PqM   = 4
  val PqK   = 8
  val PqSub = Dims / PqM

  /** Product-quantization encoding (Jégou et al. 2011) — the
    * memory-scale path for billion-vector ANN: each vector's [[PqM]]
    * subvectors quantize independently to their nearest codeword, so a
    * 64-float embedding compresses to [[PqM]] byte-sized codes (256×
    * smaller state for the IVF-PQ rerank tier). Emits per (vector,
    * subspace): the argmin-L2 code and the exact squared quantization
    * error — the operator a pipeline runs to build (and audit) the
    * compressed index.
    *
    * Scale shape: the codebook is [[PqM]]·[[PqK]] rows and BROADCASTS
    * onto the subvector stream (pinned in PlanAuditSpec); everything
    * else is a pure projection plus one partial-aggregated argmin keyed
    * on (vec_id, subspace) — no all-pairs anywhere. L2² expands to
    * `⟨x,x⟩ − 2⟨x,c⟩ + ⟨c,c⟩`, three [[graft.functions.FloatDotProduct]]
    * folds written identically in the oracle, so the argmin (and its
    * (d2, code) lexicographic tie-break) is bit-deterministic.
    */
  /** (vec_id, subspace, 16-float subvector) stream — the shared front of
    * [[pq]] (encode) and [[pqTopk]] (query-side lookup tables).
    */
  private def pqSubs(s: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("subspace"),
        col("embedding"))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        expr(s"slice(embedding, subspace * $PqSub + 1, $PqSub)").as("sv"))

  private def pqCodebook(subs: DataFrame): DataFrame =
    subs
      .filter(col("vec_id") < PqK)
      .select(col("vec_id").as("code"), col("subspace"), col("sv").as("cv"))

  def pq(s: SparkSession, dir: String): DataFrame = {
    val subs = pqSubs(s, dir)
    val cw   = pqCodebook(subs)
    val d2 = VectorFunctions.dotF(col("sv"), col("sv")) -
      lit(2.0) * VectorFunctions.dotF(col("sv"), col("cv")) +
      VectorFunctions.dotF(col("cv"), col("cv"))
    subs
      .join(broadcast(cw), "subspace")
      .withColumn("d2", d2)
      .groupBy("vec_id", "subspace")
      .agg(min(struct(col("d2"), col("code"))).as("m"))
      .select(col("vec_id"), col("subspace"), col("m.code").as("code"), col("m.d2").as("err"))
  }

  /** Asymmetric-distance (ADC) top-k over the PQ-compressed index — the
    * search half of [[pq]]: each query's exact subvector-to-codeword
    * distances form a tiny lookup table ([[NumQueryVecs]]·[[PqM]]·[[PqK]]
    * rows — BROADCAST), and every candidate's approximate distance is
    * then the sum of [[PqM]] table lookups keyed by its byte codes. The
    * float vectors are never touched on the candidate side: per
    * candidate the cost is [[PqM]] lookups on a [[PqM]]-byte code — the
    * property that makes billion-vector scans memory- and
    * bandwidth-feasible (IVF-PQ's rerank tier).
    *
    * Determinism: per-cell distances quantize onto decimal(38,9) before
    * the ADC sum (the catalog's exact-commutative-sum rule), so ranking
    * is bit-stable at any partitioning; per-query top-k is
    * filter-then-cast so it compiles to WindowGroupLimit.
    */
  def pqTopk(s: SparkSession, dir: String): DataFrame = {
    val subs  = pqSubs(s, dir)
    val cw    = pqCodebook(subs)
    // The codes⋈LUT broadcast join below expands |V|·M code rows into
    // |V|·M·|Q| scored pairs, so partition count must follow COMPUTE, not
    // input bytes: AQE sizes the stage by the few-MB code table and folds
    // the whole expansion + partial agg into ONE task (measured 6.8 s
    // single-task at sf1 by the one-task audit — the same byte-blind-coalesce
    // class as bm25's merge-scan and dedup_incremental's pair expansion).
    // A round-robin repartition with an explicit count is the one shuffle
    // AQE may not coalesce; it moves only the |V|·M-row code table.
    val codes = pq(s, dir).select(col("vec_id"), col("subspace"), col("code"))
      .repartition(s.sessionState.conf.numShufflePartitions)
    val qs = subs
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("q_vec"), col("subspace"), col("sv").as("qv"))
    val d2q = VectorFunctions.dotF(col("qv"), col("qv")) -
      lit(2.0) * VectorFunctions.dotF(col("qv"), col("cv")) +
      VectorFunctions.dotF(col("cv"), col("cv"))
    val lut = qs
      .join(cw, "subspace")
      .select(col("q_vec"), col("subspace"), col("code"),
        d2q.cast("decimal(38,9)").as("d2q"))
    codes
      .join(broadcast(lut), Seq("subspace", "code"))
      .groupBy("q_vec", "vec_id")
      .agg(sum(col("d2q")).as("adcq"))
      .filter(col("q_vec") =!= col("vec_id"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("q_vec").orderBy(asc("adcq"), asc("vec_id"))))
      .filter(col("rn") <= TopK)
      .select(col("q_vec"), col("vec_id"), col("adcq").cast("double").as("adc"),
        col("rn").cast("long").as("rn"))
  }

  val queries: Map[String, Q] = Map(
    "sim_ivfpq"      -> (ivfPq _),
    "sim_ivfpq_rerank" -> (ivfPqRerank _),
    "sim_pq_topk"    -> (pqTopk _),
    "embed_pq"       -> (pq _),
    "sim_topk"       -> (topkBrute _),
    "sim_ann_lsh"    -> (annLsh _),
    "sim_recall_audit" -> (recallAudit _),
    "sim_ndcg_audit"   -> (ndcgAudit _),
    "sim_mmr"          -> (mmrRerank _),
    "embed_triplet_audit" -> (tripletAudit _),
    "sim_hard_negatives" -> (hardNegatives _),
    "embed_rp_audit" -> (rpAudit _),
    "sim_ivf"        -> (ivf _),
    "embed_quantize" -> (quantize _)
  )

  // shared with Dedup's embedding oracle so the bucketing SQL can't drift
  private[ops] val duckNorm =
    """e AS (SELECT vec_id, embedding::DOUBLE[] emb,
            sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
            FROM embeddings)"""

  private[ops] def duckSigFor(tables: Int, planes: Int): String =
    s"""expl AS (SELECT vec_id, generate_subscripts(embedding, 1) i, unnest(embedding) x FROM embeddings),
       votes AS (SELECT vec_id, tbl, j,
           sum(CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) *
               (CASE WHEN ${TextHash.duckHash60Of(
        "CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':' || CAST(tbl AS VARCHAR)")} % 2 = 1 THEN 1 ELSE -1 END)) sv
         FROM expl
         CROSS JOIN (SELECT unnest(range(0, $planes)) j)
         CROSS JOIN (SELECT unnest(range(0, $tables)) tbl)
         GROUP BY 1, 2, 3),
       sig AS (SELECT vec_id, tbl,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list(CAST(CASE WHEN sv > 0 THEN 1 ELSE 0 END AS BIGINT) ORDER BY j DESC)),
             (a, b) -> a * 2 + b) bucket
         FROM votes GROUP BY vec_id, tbl)"""

  /** [[duckSigFor]] with the plane count DERIVED from the table's row
    * count — the SQL twin of [[planesFor]]: `geo.planes` is the smallest
    * p with 2^p · targetBucket ≥ count(*), evaluated as a min over an
    * integer range (no floating log, so it can never diverge from the
    * Scala side at a power-of-two boundary), and the per-plane vote rows
    * are masked to `j < geo.planes`. This keeps the dedup_embedding
    * oracle bit-green at EVERY scale factor, not just the one whose row
    * count the pinned geometry happens to match.
    */
  private[ops] def duckSigDynamic(tables: Int, targetBucket: Int): String =
    s"""geo AS (SELECT min(p) AS planes
         FROM (SELECT unnest(range(1, 41)) AS p),
              (SELECT count(*) AS c FROM embeddings)
         WHERE (1::BIGINT << p) * $targetBucket >= c),
       expl AS (SELECT vec_id, generate_subscripts(embedding, 1) i, unnest(embedding) x FROM embeddings),
       votes AS (SELECT vec_id, tbl, j,
           sum(CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) *
               (CASE WHEN ${TextHash.duckHash60Of(
        "CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':' || CAST(tbl AS VARCHAR)")} % 2 = 1 THEN 1 ELSE -1 END)) sv
         FROM expl
         CROSS JOIN (SELECT unnest(range(0, 40)) j)
         CROSS JOIN (SELECT unnest(range(0, $tables)) tbl)
         WHERE j < (SELECT planes FROM geo)
         GROUP BY 1, 2, 3),
       sig AS (SELECT vec_id, tbl,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list(CAST(CASE WHEN sv > 0 THEN 1 ELSE 0 END AS BIGINT) ORDER BY j DESC)),
             (a, b) -> a * 2 + b) bucket
         FROM votes GROUP BY vec_id, tbl)"""

  /** PQ CTE chain shared by the embed_pq and sim_pq_topk oracles (ends in
    * `best` — per (vector, subspace) argmin code rows at rn = 1).
    */
  private val duckPq =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] emb FROM embeddings),
       subs AS (SELECT vec_id, CAST(j AS BIGINT) AS subspace,
                  list_slice(emb, CAST(j * $PqSub + 1 AS INT), CAST((j + 1) * $PqSub AS INT)) AS sv
                FROM e, (SELECT unnest(range(0, $PqM)) AS j)),
       cw AS (SELECT vec_id AS code, subspace, sv AS cv FROM subs WHERE vec_id < $PqK),
       scored AS (SELECT s.vec_id, s.subspace, c.code,
                    list_inner_product(s.sv, s.sv) - 2 * list_inner_product(s.sv, c.cv)
                      + list_inner_product(c.cv, c.cv) AS d2
                  FROM subs s JOIN cw c ON s.subspace = c.subspace),
       best AS (SELECT vec_id, subspace, code, d2,
                  row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) rn
                FROM scored)"""

  /** IVF-PQ CTE chain shared by the sim_ivfpq and sim_ivfpq_rerank
    * oracles (extends [[duckPq]]; ends in `adc` — per (query, candidate)
    * decimal-summed ADC distances over probed cells).
    */
  private val duckIvfPqAdc =
    s"""$duckPq,
       en AS (SELECT vec_id, emb, sqrt(list_inner_product(emb, emb)) nrm FROM e),
       cent AS (SELECT vec_id cid, emb cemb, nrm cnrm FROM en WHERE vec_id < $IvfK),
       ranked AS (SELECT en.vec_id, cent.cid,
           row_number() OVER (PARTITION BY en.vec_id
             ORDER BY list_inner_product(en.emb, cent.cemb) / (en.nrm * cent.cnrm) DESC,
               cent.cid ASC) crn
         FROM en CROSS JOIN cent),
       cells AS (SELECT vec_id, cid AS cell FROM ranked WHERE crn = 1),
       probes AS (SELECT vec_id AS q_vec, cid AS cell FROM ranked
                  WHERE vec_id < $NumQueryVecs AND crn <= $NProbe),
       codes AS (SELECT vec_id, subspace, code FROM best WHERE rn = 1),
       qs AS (SELECT vec_id AS q_vec, subspace, sv AS qv FROM subs
              WHERE vec_id < $NumQueryVecs),
       lut AS (SELECT q_vec, c.subspace, c.code,
                 CAST(list_inner_product(qv, qv) - 2 * list_inner_product(qv, c.cv)
                   + list_inner_product(c.cv, c.cv) AS DECIMAL(38,9)) AS d2q
               FROM qs JOIN cw c ON qs.subspace = c.subspace),
       cand AS (SELECT p.q_vec, co.vec_id, co.subspace, co.code
                FROM probes p JOIN cells ce ON p.cell = ce.cell AND p.q_vec <> ce.vec_id
                JOIN codes co ON co.vec_id = ce.vec_id),
       adc AS (SELECT q_vec, vec_id, sum(d2q) AS adcq
               FROM cand JOIN lut USING (q_vec, subspace, code)
               GROUP BY 1, 2)"""

  val oracle: Map[String, String] = Map(
    "embed_pq" ->
      s"""WITH $duckPq
         SELECT vec_id, subspace, code, d2 AS err FROM best WHERE rn = 1""",
    "sim_ivfpq" ->
      s"""WITH $duckIvfPqAdc
         SELECT q_vec, vec_id, CAST(adcq AS DOUBLE) AS adc, rn FROM (
           SELECT q_vec, vec_id, adcq,
             row_number() OVER (PARTITION BY q_vec ORDER BY adcq ASC, vec_id ASC) rn
           FROM adc)
         WHERE rn <= $TopK""",
    "sim_ivfpq_rerank" ->
      s"""WITH $duckIvfPqAdc,
         short AS (SELECT q_vec, vec_id FROM (
             SELECT q_vec, vec_id,
               row_number() OVER (PARTITION BY q_vec ORDER BY adcq ASC, vec_id ASC) rn
             FROM adc)
           WHERE rn <= $RerankR)
         SELECT q_vec, vec_id, cos, rn FROM (
           SELECT s.q_vec, s.vec_id,
             list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) AS cos,
             row_number() OVER (PARTITION BY s.q_vec
               ORDER BY list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) DESC,
                 s.vec_id ASC) AS rn
           FROM short s JOIN en qa ON qa.vec_id = s.q_vec
           JOIN en qb ON qb.vec_id = s.vec_id)
         WHERE rn <= $TopK""",
    "sim_pq_topk" ->
      s"""WITH $duckPq,
         codes AS (SELECT vec_id, subspace, code FROM best WHERE rn = 1),
         qs AS (SELECT vec_id AS q_vec, subspace, sv AS qv FROM subs
                WHERE vec_id < $NumQueryVecs),
         lut AS (SELECT q_vec, c.subspace, c.code,
                   CAST(list_inner_product(qv, qv) - 2 * list_inner_product(qv, c.cv)
                     + list_inner_product(c.cv, c.cv) AS DECIMAL(38,9)) AS d2q
                 FROM qs JOIN cw c ON qs.subspace = c.subspace),
         adc AS (SELECT q_vec, vec_id, sum(d2q) AS adcq
                 FROM codes JOIN lut ON codes.subspace = lut.subspace
                   AND codes.code = lut.code
                 GROUP BY 1, 2)
         SELECT q_vec, vec_id, CAST(adcq AS DOUBLE) AS adc, rn FROM (
           SELECT q_vec, vec_id, adcq,
             row_number() OVER (PARTITION BY q_vec ORDER BY adcq ASC, vec_id ASC) rn
           FROM adc WHERE q_vec <> vec_id)
         WHERE rn <= $TopK""",
    "sim_topk" ->
      s"""WITH $duckNorm
         SELECT va, vb, cos, rn FROM (
           SELECT a.vec_id va, b.vec_id vb,
             list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS rn
           FROM e a JOIN e b ON a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id)
         WHERE rn <= $TopK""",
    "sim_ann_lsh" ->
      s"""WITH $duckNorm,
         ${duckSigDynamic(NumTables, AnnTargetBucket)},
         cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb
                  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id)
         SELECT va, vb, cos, rn FROM (
           SELECT va, vb,
             list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) AS cos,
             row_number() OVER (PARTITION BY va
               ORDER BY list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) DESC, vb ASC) AS rn
           FROM cand JOIN e qa ON qa.vec_id = va JOIN e qb ON qb.vec_id = vb)
         WHERE rn <= $TopK""",
    // truth/ann are the sim_topk and sim_ann_lsh oracles verbatim; the
    // audit is exact set arithmetic over their (va, vb) pairs
    "sim_recall_audit" ->
      s"""WITH $duckNorm,
         ${duckSigDynamic(NumTables, AnnTargetBucket)},
         truth AS (SELECT va, vb FROM (
             SELECT a.vec_id va, b.vec_id vb,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC,
                   b.vec_id ASC) AS rn
             FROM e a JOIN e b ON a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id)
           WHERE rn <= $TopK),
         cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb
                  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id),
         ann AS (SELECT va, vb FROM (
             SELECT va, vb,
               row_number() OVER (PARTITION BY va
                 ORDER BY list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) DESC,
                   vb ASC) AS rn
             FROM cand JOIN e qa ON qa.vec_id = va JOIN e qb ON qb.vec_id = vb)
           WHERE rn <= $TopK)
         SELECT t.va, count(*) AS n_true, count(a.vb) AS n_hit,
           CAST(count(a.vb) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_at_k,
           (SELECT 1.0 - ${Seq.fill(NumTables)(
             "(1.0 - 1.0 / CAST(1::BIGINT << planes AS DOUBLE))").mkString(" * ")}
            FROM geo) AS expected_coverage
         FROM truth t LEFT JOIN ann a ON a.va = t.va AND a.vb = t.vb
         GROUP BY 1""",
    // same truth/ann CTEs as sim_recall_audit, rank-discounted: each
    // 1/log2(rank+1) quantizes to decimal(38,9) before the order-free
    // sum (StrictMath-vs-libm log rule); ndcg is one IEEE divide
    "sim_ndcg_audit" ->
      s"""WITH $duckNorm,
         ${duckSigDynamic(NumTables, AnnTargetBucket)},
         truth AS (SELECT va, vb, rn FROM (
             SELECT a.vec_id va, b.vec_id vb,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC,
                   b.vec_id ASC) AS rn
             FROM e a JOIN e b ON a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id)
           WHERE rn <= $TopK),
         cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb
                  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id),
         ann AS (SELECT va, vb, rn FROM (
             SELECT va, vb,
               row_number() OVER (PARTITION BY va
                 ORDER BY list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) DESC,
                   vb ASC) AS rn
             FROM cand JOIN e qa ON qa.vec_id = va JOIN e qb ON qb.vec_id = vb)
           WHERE rn <= $TopK),
         ideal AS (SELECT va,
             sum(CAST(1.0 / log2(CAST(rn + 1 AS DOUBLE)) AS DECIMAL(38,9))) AS idcg,
             CAST(count(*) AS BIGINT) AS n_true
           FROM truth GROUP BY 1),
         got AS (SELECT t.va,
             sum(CAST(1.0 / log2(CAST(a.rn + 1 AS DOUBLE)) AS DECIMAL(38,9))) AS dcg,
             CAST(count(*) AS BIGINT) AS n_hit
           FROM truth t JOIN ann a ON a.va = t.va AND a.vb = t.vb
           GROUP BY 1)
         SELECT ideal.va, n_true, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
           CAST(coalesce(dcg, 0) AS DOUBLE) / CAST(idcg AS DOUBLE) AS ndcg_at_k
         FROM ideal LEFT JOIN got ON got.va = ideal.va""",
    // unrolled greedy MMR rounds over the exact-cosine pool — identical
    // argmax (score desc, vb asc) and the SAME lambda/mu literals as the
    // engine (mu is NOT 1-lambda: that differs in the last IEEE bit)
    "sim_mmr" -> {
      val rounds = (2 to MmrK).map { r =>
        s"""ms$r AS (SELECT cc.va, cc.v1 AS vb, max(cc.cc) AS maxsim
             FROM cc JOIN sel${r - 1} s ON s.va = cc.va AND s.vb = cc.v2
             GROUP BY 1, 2),
           s$r AS (SELECT va, vb, CAST($r AS BIGINT) AS pick, rel, score FROM (
               SELECT c.va, c.vb, c.rel,
                 $MmrLambda * c.rel - $MmrMu * m.maxsim AS score,
                 row_number() OVER (PARTITION BY c.va
                   ORDER BY ($MmrLambda * c.rel - $MmrMu * m.maxsim) DESC,
                     c.vb ASC) AS rn
               FROM cand c JOIN ms$r m ON m.va = c.va AND m.vb = c.vb
               WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} x
                 WHERE x.va = c.va AND x.vb = c.vb))
             WHERE rn = 1),
           sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)"""
      }.mkString(",\n")
      s"""WITH $duckNorm,
         cand AS (SELECT va, vb, rel FROM (
             SELECT a.vec_id va, b.vec_id vb,
               list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) AS rel,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC,
                   b.vec_id ASC) AS rn
             FROM e a JOIN e b ON a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id)
           WHERE rn <= $MmrPool),
         cc AS (SELECT a.va, a.vb AS v1, b.vb AS v2,
             list_inner_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm) AS cc
           FROM cand a JOIN cand b ON a.va = b.va AND a.vb <> b.vb
           JOIN e ea ON ea.vec_id = a.vb JOIN e eb ON eb.vec_id = b.vb),
         sel1 AS (SELECT va, vb, CAST(1 AS BIGINT) AS pick, rel, rel AS score FROM (
             SELECT va, vb, rel, row_number() OVER (PARTITION BY va
               ORDER BY rel DESC, vb ASC) AS rn FROM cand)
           WHERE rn = 1),
         $rounds
         SELECT va, vb, pick, rel, score FROM sel$MmrK"""
    },
    // the two top-1 branches of the hard-negatives CTE (same-label
    // positive, cross-label negative) stitched on the anchor; margin is
    // one IEEE subtract of the established exact cosines
    "embed_triplet_audit" ->
      s"""WITH $duckNorm,
         ${duckSigDynamic(NumTables, AnnTargetBucket)},
         cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb
                  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id),
         lab AS (SELECT vec_id, label FROM embeddings),
         scored AS (
           SELECT va, la.label AS label_q, vb, lb.label AS label_n,
             list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) AS cos
           FROM cand JOIN e qa ON qa.vec_id = va JOIN e qb ON qb.vec_id = vb
           JOIN lab la ON la.vec_id = va JOIN lab lb ON lb.vec_id = vb),
         pos AS (SELECT va, label_q, vb AS pos_vb, cos AS pos_cos FROM (
             SELECT va, label_q, vb, cos,
               row_number() OVER (PARTITION BY va ORDER BY cos DESC, vb ASC) AS rn
             FROM scored WHERE label_q = label_n)
           WHERE rn = 1),
         neg AS (SELECT va, vb AS neg_vb, cos AS neg_cos FROM (
             SELECT va, vb, cos,
               row_number() OVER (PARTITION BY va ORDER BY cos DESC, vb ASC) AS rn
             FROM scored WHERE label_q <> label_n)
           WHERE rn = 1)
         SELECT pos.va, label_q, pos_vb, pos_cos, neg_vb, neg_cos,
           pos_cos - neg_cos AS margin,
           CAST(CASE WHEN pos_cos - neg_cos >= $TripletMargin THEN 1 ELSE 0 END
             AS BIGINT) AS clears_margin
         FROM pos JOIN neg ON neg.va = pos.va""",
    "sim_hard_negatives" ->
      s"""WITH $duckNorm,
         ${duckSigDynamic(NumTables, AnnTargetBucket)},
         cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb
                  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id),
         lab AS (SELECT vec_id, label FROM embeddings)
         SELECT va, label_q, vb, label_n, cos, rn FROM (
           SELECT va, la.label AS label_q, vb, lb.label AS label_n,
             list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) AS cos,
             row_number() OVER (PARTITION BY va
               ORDER BY list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) DESC, vb ASC) AS rn
           FROM cand JOIN e qa ON qa.vec_id = va JOIN e qb ON qb.vec_id = vb
           JOIN lab la ON la.vec_id = va JOIN lab lb ON lb.vec_id = vb
           WHERE la.label <> lb.label)
         WHERE rn <= $TopK""",
    "embed_rp_audit" -> {
      val h = TextHash.duckHash60Of(
        "'rp:' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)")
      s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) xq
           FROM embeddings WHERE vec_id < $NumQueryVecs),
         pj AS (SELECT vec_id, j,
             sum(xq * (CASE WHEN $h % 2 = 1 THEN 1 ELSE -1 END)) v
           FROM ex CROSS JOIN (SELECT unnest(range(0, $RpK)) j)
           GROUP BY 1, 2),
         od AS (SELECT a.vec_id va, b.vec_id vb,
             sum((a.xq - b.xq) * (a.xq - b.xq)) od2
           FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
           GROUP BY 1, 2),
         pd AS (SELECT a.vec_id va, b.vec_id vb,
             sum((a.v - b.v) * (a.v - b.v)) pd2
           FROM pj a JOIN pj b ON a.j = b.j AND a.vec_id < b.vec_id
           GROUP BY 1, 2)
         SELECT va, vb, CAST(od2 AS BIGINT) AS orig_d2,
           CAST(pd2 AS BIGINT) AS proj_d2,
           CAST(pd2 AS DOUBLE) / (CAST($RpK AS DOUBLE) * od2) AS ratio
         FROM od JOIN pd USING (va, vb)"""
    },
    "sim_ivf" ->
      s"""WITH $duckNorm,
         cent AS (SELECT vec_id cid, emb cemb, nrm cnrm FROM e WHERE vec_id < $IvfK),
         ranked AS (SELECT e.vec_id, cent.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_inner_product(e.emb, cent.cemb) / (e.nrm * cent.cnrm) DESC, cent.cid ASC) crn
           FROM e CROSS JOIN cent),
         cells AS (SELECT vec_id vb, cid cell FROM ranked WHERE crn = 1),
         probes AS (SELECT vec_id va, cid cell FROM ranked
                    WHERE vec_id < $NumQueryVecs AND crn <= $NProbe)
         SELECT va, vb, cos, rn FROM (
           SELECT va, vb,
             list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) AS cos,
             row_number() OVER (PARTITION BY va
               ORDER BY list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) DESC, vb ASC) AS rn
           FROM probes p JOIN cells c ON p.cell = c.cell AND p.va <> c.vb
           JOIN e qa ON qa.vec_id = p.va JOIN e qb ON qb.vec_id = c.vb)
         WHERE rn <= $TopK""",
    "embed_quantize" ->
      s"""WITH ex AS (SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) dim,
             CAST(unnest(embedding) AS DOUBLE) x FROM embeddings),
         grid AS (SELECT dim, min(x) lo, max(x) hi FROM ex GROUP BY 1)
         SELECT dim, lo, hi, count(*) AS n_vals,
           CAST(sum(CAST(CASE WHEN hi > lo THEN
               abs(x - (lo + (least(floor((x - lo) * $QuantLevels / (hi - lo)), ${QuantLevels}.0) + 0.5)
                 * (hi - lo) / $QuantLevels))
             ELSE 0.0 END AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS avg_abs_err,
           max(CASE WHEN hi > lo THEN
               abs(x - (lo + (least(floor((x - lo) * $QuantLevels / (hi - lo)), ${QuantLevels}.0) + 0.5)
                 * (hi - lo) / $QuantLevels))
             ELSE 0.0 END) AS max_abs_err
         FROM ex JOIN grid USING (dim) GROUP BY 1, 2, 3"""
  )
}
