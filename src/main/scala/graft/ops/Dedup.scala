package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt
import graft.Tables
import graft.text.Tokenize
import graft.functions.{TextHash, VectorFunctions}

/** Document deduplication operators — the core of a training-data pipeline
  * at 100 TB. Five strategies, all as declarative plans:
  *
  *  - exact        : hash-groupBy on content digest, keep-first flagging
  *  - ngram        : exact n-gram-shingle Jaccard via inverted-index join
  *  - minhash      : MinHash signatures + LSH banding → candidates →
  *                   exact-Jaccard verification
  *  - simhash      : 60-bit SimHash + pigeonhole chunk blocking →
  *                   Hamming-distance verification
  *  - embedding    : cosine near-dup ranking over LSH-bucketed candidate
  *                   pairs (random-hyperplane signatures)
  *
  * Scale notes:
  *  - All five strategies reduce the O(n²) pair space through a
  *    key-equality join (digest, shingle, band signature, bit chunk,
  *    hyperplane bucket) — shuffle-partitionable, no cross join anywhere.
  *  - MinHash/SimHash use the md5-derived [[TextHash.hash60]] so the
  *    DuckDB oracle replicates the *exact* pipeline (same signatures, same
  *    candidates, same verdicts) — approximation without
  *    irreproducibility.
  *  - Every double division is a single IEEE op on exactly-computed
  *    integers, so results are partition- and engine-independent.
  *
  * API shape: each `(SparkSession, dir)` catalog entry is a thin binding
  * of a generic DataFrame-in form over the fixture tables — library
  * users call the `*Of(docs)` forms directly with any frame exposing
  * `doc_id LONG, text STRING` (plus `lang`/`source` where the scaladoc
  * says so); nothing in the operators reads the fixture layout.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Jaccard threshold shared by the ngram / minhash paths. */
  val JaccardThreshold = 0.5
  /** Shingle width (word n-grams). Trigrams, deliberately: the fixture's
    * vocabulary is ~31 words, so bigrams span only ~1k distinct keys and
    * the inverted-index join degenerates toward all-pairs; the trigram
    * space (~30k keys) keeps per-shingle document lists short — the
    * property that bounds candidate volume at 100 TB too.
    */
  val ShingleN = 3
  /** MinHash: 36 hash functions = 12 bands x 3 rows. Lanes are a
    * universal-hash family over one md5-derived base hash: lane j maps
    * h32 → (laneA(j)*h32 + laneB(j)) mod ModP. One md5 per shingle row
    * instead of 36 — the lane arithmetic is pure codegen'd integer math,
    * and the DuckDB oracle mirrors the same constants.
    */
  val NumHashes = 36

  /** Rows-per-band for an LSH banding scheme: the divisor `r` of the
    * hash budget whose S-curve midpoint `(1/b)^(1/r)` (b = hashes/r,
    * the similarity at which collision probability `1-(1-s^r)^b`
    * crosses ~50%) lands closest to the target Jaccard threshold —
    * ties break toward the SMALLER r (wider bands = higher recall; the
    * verify step removes the extra false positives exactly). This is
    * the banding-side twin of [[Similarity.planesFor]]: geometry as a
    * function of the detection target, not a magic constant. Unlike
    * planesFor it does NOT depend on n — the S-curve is set by the
    * threshold alone; what grows with the corpus is the hash budget
    * (more hashes sharpen the curve at constant b·r cost per doc).
    */
  def bandRowsFor(threshold: Double, hashes: Int = NumHashes): Int =
    (1 to hashes).filter(hashes % _ == 0).minBy { r =>
      val b = hashes / r
      (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), r)
    }

  /** 36 hashes band into 12 bands x 3 rows: [[bandRowsFor]] picks r = 3
    * for the 0.5 Jaccard target (midpoint (1/12)^(1/3) ≈ 0.44 — the
    * recall-side of the threshold, so genuine 0.5-pairs collide with
    * high probability and the exact-Jaccard verify discards the rest).
    * The static DuckDB oracle evaluates the same formula at the same
    * constants, so the two sites provably agree (ScaleSpec).
    */
  val BandRows: Int = bandRowsFor(JaccardThreshold, NumHashes)
  val ModP      = 2147483647L // Mersenne prime 2^31-1
  def laneA(j: Int): Long = 2L * j + 1
  def laneB(j: Int): Long = 7919L * j
  /** SimHash: 60-bit signatures (hash60 width), pairs within this Hamming
    * distance are near-dups; 4 chunks of 15 bits guarantee recall for
    * distance <= 3 by pigeonhole.
    */
  val HammingMax = 3
  val NumChunks  = 4
  /** Embedding near-dup LSH geometry: 8 tables x 4 planes — wider buckets
    * and more tables than `sim_ann_lsh`'s 4x6 because whole-table pair
    * generation needs recall on mid-similarity pairs (the fixture's top
    * pairs sit near cos 0.45, where collision odds per 6-plane bucket are
    * ~7%; 4 planes x 8 tables compounds to ~0.8, and to ~1.0 for genuine
    * near-dups at cos >= 0.9).
    *
    * The plane count is DERIVED from the table size at runtime
    * ([[Similarity.planesFor]] with [[EmbTargetBucket]]), so bucket
    * occupancy — and therefore candidate volume per row — stays constant
    * as the corpus grows instead of degenerating toward all-pairs. The
    * DuckDB oracle derives the SAME integer recurrence from `count(*)`
    * ([[Similarity.duckSigDynamic]]), so the two sides agree at EVERY
    * scale factor, not just the gate's. [[EmbPlanes]] evaluates the
    * formula at the correctness fixture's row count ([[FixtureEmbRows]]
    * = 500 at sf0.001/sf0.01) for specs that pin the fixture geometry.
    */
  val EmbTables = 8
  /** Target rows per LSH bucket for embedding near-dup pair generation. */
  val EmbTargetBucket = 32
  /** Embeddings row count of the driver's correctness fixtures (sf0.001
    * and sf0.01 both ship 500 vectors — TESTDATA.md). Only the static
    * oracle SQL depends on this; the Spark side counts the real table.
    */
  val FixtureEmbRows = 500L
  val EmbPlanes: Int = Similarity.planesFor(FixtureEmbRows, EmbTargetBucket)
  /** Target rows per cluster for SemDeDup cluster-then-rank; 500-vector
    * fixture → ceil(500/64) = 8 = [[Curation.KCentroids]], so the static
    * oracle's centroid set and the derived one coincide at the gate.
    */
  val SemTargetCluster = 64

  // ------------------------------------------------------------ building blocks

  // No explicit caching anywhere in these pipelines: each query reuses
  // the same DataFrame object for its repeated subtrees, so Spark plans
  // the duplicate scans as ReusedExchange — measured faster than
  // .cache() (which pays a serialize-and-store pass and pins executor
  // storage memory for the rest of the session).

  /** The dedup stages over one documents frame ([[Ckpt.Stages]]): a
    * catalog entry memoizes each under `dedup:<what>:<dir>`, a library
    * `*Of(docs)` call materializes each once for that call. Both run the
    * same assembly below; only the memo decision differs.
    */
  private def memo(s: SparkSession, dir: String): Ckpt.Stages =
    Ckpt.Stages(Tables.documents(s, dir), "dedup", dir)

  /** Distinct (doc, shingle-hash) pairs: shingles are hashed to 60-bit
    * longs BEFORE the distinct, so every downstream shuffle/join moves
    * 8-byte keys instead of ~30-char strings. The DuckDB oracle applies
    * the same hash pre-distinct, so the (astronomically unlikely, ~2^-61
    * per pair) hash collisions are mirrored exactly.
    *
    * The `shingles` stage: EIGHT catalog queries (ngram, containment ×2,
    * fuzzy ×2, minhash, incremental, and everything downstream of
    * minhash) start from this identical tokenize + hash + distinct over
    * the corpus, and each used to build and checkpoint its own
    * generation — at sf1 that is ~8 rebuilds of a 10⁸-row table per
    * catalog pass, and the per-query checkpoints were never freeable
    * (the returned frames scan them lazily). One memoized generation per
    * session now serves them all.
    */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame =
    shingles(memo(s, dir))

  private def shingles(h: Ckpt.Stages): DataFrame =
    h.stage("shingles")(docShinglesOf(h.in))

  /** LSH band-signature stage — shared by minhash, incremental, fuzzy,
    * and fuzzyCapped (the 36-lane MinHash aggregation is identical in
    * all four and was rebuilt per query).
    */
  private def bands(h: Ckpt.Stages): DataFrame = h.stage("bands")(bandsBuild(h))

  private def bandsBuild(h: Ckpt.Stages): DataFrame = bandSignatures(shingles(h))

  def docShinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Tokenize.tokenCol(col("text")).as("raw"))
      .select(col("doc_id"), filter(col("raw"), _ =!= "").as("toks"))
      .select(col("doc_id"), explode(TextHash.shingles(col("toks"), ShingleN)).as("shs"))
      .select(col("doc_id"), TextHash.hash60(col("shs")).as("sh"))
      .distinct()

  // the split regex is parity-critical: single definition for both engines
  private val WP = Tokenize.WordPattern

  private[ops] val duckShingles =
    s"""SELECT DISTINCT a.doc_id, ${TextHash.duckHash60Of("a.t || ' ' || b.t || ' ' || c.t")} AS sh FROM
         (SELECT doc_id, generate_subscripts(l, 1) i, unnest(l) t FROM
           (SELECT doc_id, list_filter(regexp_split_to_array(text, '$WP'), x -> x <> '') l
            FROM documents)) a
       JOIN
         (SELECT doc_id, generate_subscripts(l, 1) i, unnest(l) t FROM
           (SELECT doc_id, list_filter(regexp_split_to_array(text, '$WP'), x -> x <> '') l
            FROM documents)) b
       ON a.doc_id = b.doc_id AND b.i = a.i + 1
       JOIN
         (SELECT doc_id, generate_subscripts(l, 1) i, unnest(l) t FROM
           (SELECT doc_id, list_filter(regexp_split_to_array(text, '$WP'), x -> x <> '') l
            FROM documents)) c
       ON a.doc_id = c.doc_id AND c.i = a.i + 2"""

  /** Exact Jaccard on candidate pairs: |A∩B| via the pair table, sizes via
    * the [[shingleSizes]] stage.
    */
  private def verifyJaccardSized(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("da", "db", "jaccard")

  /** Per-shingle stats stage: document frequency and the min-doc
    * representative. Feeds the df-capped blocking of ngram/containment
    * AND containmentCapped's canonical election — three queries re-ran
    * the identical full-stream aggregation.
    */
  private def shingleDf(h: Ckpt.Stages): DataFrame = h.stage("shdf")(shingleDfBuild(h))

  private def shingleDfBuild(h: Ckpt.Stages): DataFrame =
    shingles(h).groupBy("sh")
      .agg(count(lit(1)).as("df"), min("doc_id").as("rep"))

  /** Per-doc shingle-set sizes stage — every exact-verify consumer
    * (minhash, incremental, ngram, containment ×2) needs the identical
    * doc-bounded table.
    */
  private def shingleSizes(h: Ckpt.Stages): DataFrame =
    h.stage("shsizes")(shingleSizesBuild(h))

  private def shingleSizesBuild(h: Ckpt.Stages): DataFrame =
    shingles(h).groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** Document-frequency cap for exact-shingle blocking ([[ngram]],
    * [[containment]]). Candidate pairs are generated only from shingles
    * appearing in at most DfCap documents; the full intersection is then
    * recounted over ALL shingles, so scores stay exact for every
    * candidate. Without the cap a single hot shingle (a stopword trigram
    * — "one of the" — with df ∝ corpus) emits df² pairs through one join
    * key: the worst case is corpus-quadratic and lands on one shuffle
    * partition. With it, every shingle row emits ≤ DfCap candidates, so
    * candidate volume is ≤ DfCap × |shingle rows| — linear in the corpus.
    *
    * Completeness bound (why capping loses ~nothing): a missed pair
    * shares NO sub-cap shingle, i.e. its entire intersection is hot
    * shingles. Jaccard ≥ t needs |A∩B| ≥ t·max(|A|,|B|), so BOTH docs
    * must be ≥ t hot-trigram by content (≥ 50% at t = 0.5); containment
    * ≥ 0.8 needs the contained doc to be ≥ 80% hot trigrams. Natural
    * documents that are 50–80% stopword-trigrams carry no dedup signal —
    * and such boilerplate is exactly what [[spanDedup]] targets. The
    * DuckDB oracles mirror the same cap, so the gate checks these
    * capped semantics bit-for-bit. At the test fixtures max df = 25
    * (sf0.1), so capped results equal uncapped ones exactly.
    */
  val DfCap = 128

  /** Blocking stage of the exact-shingle family: distinct candidate pairs
    * (da < db) generated ONLY from shingles with df ≤ [[DfCap]].
    */
  private[ops] def dfCappedCands(sh: DataFrame): DataFrame = {
    val rare = sh.join(
      sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= DfCap)
        .select("sh"),
      Seq("sh"), "left_semi")
    rare
      .select(col("doc_id").as("da"), col("sh"))
      .join(rare.select(col("doc_id").as("db"), col("sh")), "sh")
      .filter(col("da") < col("db"))
      .select("da", "db")
      .distinct()
  }

  /** Exact |A∩B| recount on blocked candidate pairs over the FULL shingle
    * table — the [[minhash]] (banded blocking) verification step. Cost ∝
    * candidates × doc size, never corpus².
    *
    * The candidate side is pinned wide ([[spreadVerify]] on da) before
    * the expansion join: cand is BYTES-small (id pairs) so AQE coalesces
    * it — down to ONE task for [[incremental]]'s delta-restricted pairs
    * at sf1 (2.6 s serialized, the only hit in the round-13 full-catalog
    * one-task audit, [[graft.Profile]]) — but the join EXPANDS each pair
    * by the doc's shingle count, so the stage's cost is CPU, not bytes:
    * the same byte-blind-coalescer class as the fuzzy Levenshtein stage.
    */
  private def interCounts(cand: DataFrame, sh: DataFrame): DataFrame =
    // "merge" hint (r15): under the bench session's shuffled-hash-join
    // preference the planner picked SHJ for these big-stream joins and
    // the recount measurably REGRESSED (capped containment 2.0 → 2.9 s at
    // sf0.1 — the shingle stream is a poor hash-build side); the hint
    // pins the sort-merge shape these joins already have under default
    // config, so Verify/sweep profiles are unchanged.
    spreadVerify(cand, "da")
      .join(sh.select(col("doc_id").as("da"), col("sh")).hint("merge"), "da")
      .join(sh.select(col("doc_id").as("db"), col("sh")).hint("merge"), Seq("db", "sh"))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("i"))

  /** The viable-independent blocking stages of [[cappedCounts]]: the
    * hot (df > cap) shingle stream, per-doc hot counts, per-doc sizes,
    * and the rare-pair shared counts — identical across ngram and both
    * containment variants, so each is one stage, built once per session
    * on the catalog path.
    */
  private final case class CappedBlocks(
      hot: DataFrame, hotN: DataFrame, sizes: DataFrame, iRare: DataFrame)

  private def cappedBlocks(h: Ckpt.Stages): CappedBlocks =
    CappedBlocks(
      hot(h),
      h.stage("hotn")(hotNBuild(h)),
      shingleSizes(h),
      h.stage("irare")(iRareBuild(h)))

  private def hot(h: Ckpt.Stages): DataFrame = h.stage("hot")(hotBuild(h))

  private def hotBuild(h: Ckpt.Stages): DataFrame =
    shingles(h).join(
      shingleDf(h).filter(col("df") > DfCap).select("sh"),
      Seq("sh"), "left_semi")

  private def hotNBuild(h: Ckpt.Stages): DataFrame =
    hot(h).groupBy("doc_id").agg(count(lit(1)).as("hn"))

  private def iRareBuild(h: Ckpt.Stages): DataFrame = {
    val rare = shingles(h).join(
      shingleDf(h).filter(col("df") <= DfCap).select("sh"),
      Seq("sh"), "left_semi")
    rare
      .select(col("doc_id").as("da"), col("sh"))
      .join(rare.select(col("doc_id").as("db"), col("sh")), "sh")
      .filter(col("da") < col("db"))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("i_rare"))
  }

  /** Fused df-capped blocking + exact intersection count for the
    * exact-shingle family — semantically identical to
    * `interCounts(dfCappedCands(sh), sh)` but one full recount cheaper:
    * the shared-RARE count falls out of the blocking self-join itself
    * (a `groupBy` where the unfused plan ran `distinct` and then
    * re-joined the whole shingle table twice), and only the shared-HOT
    * remainder is added back through a join against the hot postings —
    * per candidate that costs the few hot (stopword-trigram) shingles a
    * doc contains, not its whole shingle set. `i = i_rare + i_hot` is
    * the exact |A∩B|, split by the df boundary.
    */
  private def cappedCounts(
      b: CappedBlocks,
      viable: (Column, Column, Column) => Column): DataFrame = {
    val CappedBlocks(hot, hotN, sizes, iRare) = b
    // screen BEFORE the hot-remainder join: shared hot shingles are at
    // most min(|hotA|, |hotB|), so i ≤ i_rare + that bound. A candidate
    // whose upper bound can't reach the caller's threshold is exact-safe
    // to drop here — the hot join then costs ∝ near-threshold pairs
    // (~output volume), not ∝ all candidates. The threshold comparisons
    // reuse the callers' exact final expressions; correctly-rounded
    // division is monotone, so round(score(iub)) ≥ round(score(i))
    // and no passing pair is ever screened out.
    val screened = iRare
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .join(hotN.select(col("doc_id").as("da"), col("hn").as("ha")), Seq("da"), "left")
      .join(hotN.select(col("doc_id").as("db"), col("hn").as("hb")), Seq("db"), "left")
      .withColumn("iub",
        col("i_rare") + least(coalesce(col("ha"), lit(0L)), coalesce(col("hb"), lit(0L))))
      .filter(viable(col("iub"), col("na"), col("nb")))
      .select("da", "db", "i_rare")
    val iHot = screened
      .select("da", "db")
      // merge hints: see interCounts — the hot postings stream regressed
      // under the bench session's SHJ preference; pins the default shape
      .join(hot.select(col("doc_id").as("da"), col("sh")).hint("merge"), "da")
      .join(hot.select(col("doc_id").as("db"), col("sh")).hint("merge"), Seq("db", "sh"))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("i_hot"))
    screened
      .join(iHot, Seq("da", "db"), "left")
      .select(col("da"), col("db"),
        (col("i_rare") + coalesce(col("i_hot"), lit(0L))).as("i"))
  }

  // ------------------------------------------------------------------ exact

  /** Exact dedup: digest-partitioned keep-first. The canonical 100 TB
    * shape — one shuffle on the digest, no comparisons.
    */
  def exact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("digest").orderBy("doc_id")
    Tables
      .documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .withColumn("is_dup", (row_number().over(w) > 1).cast("boolean"))
      .select("doc_id", "digest", "is_dup")
  }

  /** The APPLY step of exact dedup — the deduplicated corpus itself, not
    * the audit: keep the lowest doc_id of every digest group and emit the
    * surviving rows. Aggregation on the digest (partial+final) then a
    * semi join on the kept ids — both shuffle-bounded, no window.
    */
  def exactApply(s: SparkSession, dir: String): DataFrame = {
    val keep = Tables
      .documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .groupBy("digest")
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    Tables
      .documents(s, dir)
      .join(keep, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "n_chars")
  }

  /** Dedup-bias audit: exact-dedup DROP RATES per (source, lang) slice —
    * the fairness check a curation pipeline runs after any dedup pass,
    * because deduplication is never uniform: a source whose docs are
    * syndicated/mirrored loses far more than an original-content source,
    * silently shifting the corpus mix. Per slice: docs, dropped
    * (non-canonical exact copies, keeper = min doc_id per digest — the
    * [[exactApply]] rule), and the drop rate.
    *
    * Scale shape: one digest aggregate (the exact-dedup shuffle) plus
    * one per-slice count — both partial-aggregated; the verdict join is
    * the digest-keyed left-semi inverted into a flag. Determinism: the
    * rate is one IEEE divide of exact longs.
    */
  def dedupBias(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val keep = docs
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .groupBy("digest")
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1L).as("keeper"))
    docs
      .join(keep, Seq("doc_id"), "left")
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (count(lit(1)) - count(col("keeper"))).as("n_dropped"))
      .select(
        col("source"), col("lang"), col("n_docs"), col("n_dropped"),
        (col("n_dropped").cast("double") / col("n_docs").cast("double"))
          .as("drop_rate"))
  }

  /** The APPLY step of NEAR-dup dedup — the surviving corpus after the
    * MinHash pipeline's clustering pass: every doc except non-canonical
    * cluster members (each near-dup cluster keeps its smallest doc_id,
    * the [[clusters]] canonical). Completes the near-dedup story
    * end-to-end the way [[exactApply]] does for exact dedup: detect →
    * cluster → drop, all as one declarative chain.
    *
    * Scale shape: the drop list is bounded by docs IN near-dup clusters
    * (typically a small corpus fraction); the final anti join is an
    * equi-join on doc_id — no content moves, and the checkpointed CC
    * loop is the same O(diameter)-round machinery [[clusters]] audits.
    */
  def clustersApply(s: SparkSession, dir: String): DataFrame = {
    val drop = clusters(s, dir)
      .filter(!col("is_canonical"))
      .select("doc_id")
    Tables
      .documents(s, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
  }

  /** Quality-aware near-dup APPLY — the production form of the cluster
    * decision: instead of keeping each cluster's smallest doc_id (an
    * arbitrary arrival-order proxy), keep its HIGHEST-quality member by
    * the [[TextAnalysis.quality]] composite score (ties → smallest id).
    * This is what real curation pipelines do: near-dup clusters usually
    * mix a clean canonical page with truncated/boilerplate-wrapped
    * copies, and "keep first" happily keeps the worst one. Emits every
    * clustered doc with its score and the keep decision, so the drop
    * set, the keep set, and the audit trail are all one filter away.
    *
    * Scale shape: the CC labels are already materialized (eager
    * checkpointed loop); the score join is doc-bounded, and the
    * per-cluster argmax is max(struct(score, -id)) — one
    * partial-aggregated shuffle on cluster_id, never a window over the
    * corpus. Cross-engine determinism: both engines build the score
    * with the identical IEEE op chain (the text_quality parity
    * argument), so argmax comparisons agree; exact ties (identical
    * texts — the common near-dup case) fall to the integer id.
    */
  def clustersApplyQuality(s: SparkSession, dir: String): DataFrame = {
    val cl = clusters(s, dir).select(col("doc_id"), col("cluster_id"))
    val q = graft.ops.TextAnalysis.qualityShared(s, dir)
      .select(col("doc_id"), col("quality_score"))
    // member feeds two consumers, but both shuffle it identically on
    // cluster_id, so ReusedExchange already materializes it once —
    // measured: adding a Ckpt here costs 0.4 s rather than saving any
    val member = cl.join(q, "doc_id")
    val best = member
      .groupBy("cluster_id")
      .agg(max(struct(col("quality_score").as("q"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("cluster_id"), (-col("b.nd")).as("keep_id"))
    member
      .join(best, "cluster_id")
      .select(col("cluster_id"), col("doc_id"), col("quality_score"),
        (col("doc_id") === col("keep_id")).as("kept"))
  }

  // ------------------------------------------------------------------ ngram

  /** Exact n-gram (word trigram, see ShingleN) Jaccard dedup via
    * df-capped inverted-index self-join: candidate pairs come only from
    * shingles with df ≤ [[DfCap]] (bounding pair volume linearly — see
    * the DfCap scaladoc for the completeness argument), then the full
    * intersection is recounted over all shingles so every emitted
    * Jaccard is exact.
    */
  /** Screen predicate shared by ngram's blocking and its exact final
    * filter: same expression shape as verifyJaccardSized's threshold, applied
    * to the intersection upper bound.
    */
  private val ngramViable = (iub: Column, na: Column, nb: Column) =>
    iub.cast("double") / (na + nb - iub) >= JaccardThreshold

  def ngram(s: SparkSession, dir: String): DataFrame = ngramOn(memo(s, dir))

  def ngramOf(docs: DataFrame): DataFrame = ngramOn(Ckpt.Stages(docs))

  private def ngramOn(h: Ckpt.Stages): DataFrame =
    verifyJaccardSized(cappedCounts(cappedBlocks(h), ngramViable), shingleSizes(h))

  /** Minimum directional containment for [[containment]]. */
  val ContainMin = 0.8

  /** Asymmetric containment dedup: `|A∩B| / |A|` (and `/|B|`) over the
    * same trigram-shingle inverted index as [[ngram]]. Jaccard misses
    * the excerpt case — a paragraph quoted inside a much longer doc has
    * tiny Jaccard but containment ≈ 1 from the short side — and excerpt
    * / quotation / template-inclusion detection is a curation pass of
    * its own. Same scale shape as ngram: df-capped blocking (see
    * [[DfCap]] — containment ≥ 0.8 through hot shingles alone would
    * need the contained doc to be 80% stopword-trigrams), full
    * intersection recounted on the candidates; sizes join back on
    * doc_id.
    */
  /** Either directional containment could clear the bar (same shape as
    * containment's exact final filter).
    */
  private val containViable = (iub: Column, na: Column, nb: Column) =>
    iub.cast("double") / na.cast("double") >= ContainMin ||
      iub.cast("double") / nb.cast("double") >= ContainMin

  def containment(s: SparkSession, dir: String): DataFrame = containmentOn(memo(s, dir))

  def containmentOf(docs: DataFrame): DataFrame = containmentOn(Ckpt.Stages(docs))

  private def containmentOn(h: Ckpt.Stages): DataFrame = {
    val b  = cappedBlocks(h)
    val ca = col("i").cast("double") / col("na").cast("double")
    val cb = col("i").cast("double") / col("nb").cast("double")
    cappedCounts(b, containViable)
      .join(b.sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(b.sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .select(col("da"), col("db"), ca.as("contain_a"), cb.as("contain_b"))
      .filter(col("contain_a") >= ContainMin || col("contain_b") >= ContainMin)
  }

  /** Family-mass-capped containment — the 100 TB-safe twin of
    * [[containment]], same discipline as [[fuzzyCapped]]: the all-pairs
    * screen is Ω(true-pair mass) = O(m²) in near-dup family size, so this
    * variant elects a canonical per rare shingle (min doc_id among the
    * ≤ [[DfCap]] docs carrying it) and recounts the FULL intersection
    * only for member↔canonical pairs. Candidate volume is ≤ the rare
    * shingle row count — linear in the corpus under any family-mass
    * distribution — and the emitted containments stay exact (the recount
    * runs over ALL shingles, as in [[containment]]). `skipped` audits,
    * per member db, the (shingle, mate) pairing slots not verified
    * (Σ over its rare shingles of df−2; mates shared through several
    * shingles count once per shingle).
    *
    * Output: (da, db, contain_a, contain_b, skipped), rows passing
    * either directional containment ≥ [[ContainMin]].
    */
  def containmentCapped(s: SparkSession, dir: String): DataFrame =
    containmentCappedOn(memo(s, dir))

  def containmentCappedOf(docs: DataFrame): DataFrame =
    containmentCappedOn(Ckpt.Stages(docs))

  private def containmentCappedOn(h: Ckpt.Stages): DataFrame = {
    val sh  = shingles(h)
    val rsz = shingleDf(h).filter(col("df") <= DfCap)
      .select(col("sh"), col("df").as("m"), col("rep"))
    val CappedBlocks(hot, hotN, sizes, iRare) = cappedBlocks(h)
    // one member pass: groupBy(da, db) is the candidate distinct, and the
    // per-pair skipped mass re-aggregates to the per-doc audit (the
    // fuzzyCapped discipline)
    val memb = sh.hint("merge").join(rsz, Seq("sh"))
      .filter(col("doc_id") =!= col("rep"))
      .groupBy(col("rep").as("da"), col("doc_id").as("db"))
      .agg(sum(col("m") - 2).as("part"))
    val cand = memb.select("da", "db")
    val skip = memb.groupBy("db").agg(sum(col("part")).as("skipped"))
    // r16: the exact recount rides the SAME memoized capped blocks as
    // ngram/containment instead of two full-shingle-stream sort-merge
    // joins (the plan's two largest exchanges + sorts, and the residual
    // SHJ-preference regression of r15). Exactness: |A∩B| splits by the
    // df boundary into |A∩B∩rare| + |A∩B∩hot|; every member↔canonical
    // candidate shares its electing rare shingle (da = rep carries it by
    // definition of rep, db is the member row), so the pair is PRESENT
    // in iRare and the inner join loses nothing. The iub screen before
    // the hot join is the cappedCounts argument verbatim:
    // i ≤ i_rare + min(hotA, hotB), division by positive sizes is
    // monotone, so a pair failing the screen can never pass the final
    // containment filter.
    val withRare = cand
      .join(iRare, Seq("da", "db"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .join(hotN.select(col("doc_id").as("da"), col("hn").as("ha")), Seq("da"), "left")
      .join(hotN.select(col("doc_id").as("db"), col("hn").as("hb")), Seq("db"), "left")
      .withColumn("iub",
        col("i_rare") + least(coalesce(col("ha"), lit(0L)), coalesce(col("hb"), lit(0L))))
      .filter(containViable(col("iub"), col("na"), col("nb")))
      .select("da", "db", "i_rare", "na", "nb")
    val iHot = withRare
      .select("da", "db")
      // merge hints: see interCounts — the hot postings stream regressed
      // under the bench session's SHJ preference; pins the default shape
      .join(hot.select(col("doc_id").as("da"), col("sh")).hint("merge"), "da")
      .join(hot.select(col("doc_id").as("db"), col("sh")).hint("merge"), Seq("db", "sh"))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("i_hot"))
    val i  = col("i_rare") + coalesce(col("i_hot"), lit(0L))
    val ca = col("i").cast("double") / col("na").cast("double")
    val cb = col("i").cast("double") / col("nb").cast("double")
    withRare
      .join(iHot, Seq("da", "db"), "left")
      .withColumn("i", i)
      .select(col("da"), col("db"), ca.as("contain_a"), cb.as("contain_b"))
      .filter(col("contain_a") >= ContainMin || col("contain_b") >= ContainMin)
      .join(skip, "db")
      .select("da", "db", "contain_a", "contain_b", "skipped")
  }

  /** Snapshot diff between two corpus versions — the audit a versioned
    * data pipeline emits with every release: which documents were
    * removed, which changed, which survived untouched. The "new
    * version" here is derived in-query (the [[exactApply]] survivors
    * with digit runs masked, i.e. the output of the dedup + PII-scrub
    * passes), so the diff is self-contained and oracle-checkable; in
    * production both sides are stored snapshots.
    *
    * Scale shape: one full outer join on the primary key, status from
    * null-ness + content-digest inequality — no content shipped through
    * the shuffle, only doc_id + md5.
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame =
    snapshotDiffOf(Tables.documents(s, dir))

  def snapshotDiffOf(docs: DataFrame): DataFrame = {
    val v1 = docs.select(col("doc_id"), md5(col("text")).as("digest"))
      .withColumnRenamed("digest", "d1")
    // version 2: exact-dedup survivors with digit runs masked
    val keep = docs
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .groupBy("digest")
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val v2 = docs
      .join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        md5(regexp_replace(col("text"), "[0-9]+", "<ID>")).as("digest"))
      .withColumnRenamed("digest", "d2")
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        when(col("d2").isNull, "removed")
          .when(col("d1") =!= col("d2"), "changed")
          .otherwise("unchanged")
          .as("status"))
  }

  // ---------------------------------------------------------------- minhash

  /** MinHash + LSH banding. K=36 md5-family hashes, 12 bands x 3 rows;
    * candidate pairs (any shared band signature) are verified with exact
    * Jaccard. The banding join is the scale path: signatures shuffle by
    * (band, sig), so the pair space is bounded by genuine collisions.
    */
  /** Banded-signature candidate pairs (da < db, distinct) from the
    * [[bands]] stage — the blocking shared by [[minhash]] (exact Jaccard
    * verify) and [[fuzzy]] (edit-distance verify).
    */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands
      .select(col("doc_id").as("da"), col("band"), col("sig"))
      .join(bands.select(col("doc_id").as("db"), col("band"), col("sig")), Seq("band", "sig"))
      .filter(col("da") < col("db"))
      .select("da", "db")
      .distinct()

  /** Per-doc LSH band signatures (doc_id, band, sig) — the blocking key
    * table behind [[bandPairs]] and the delta-restricted join of
    * [[incremental]].
    */
  private def bandSignatures(sh: DataFrame): DataFrame = {
    // all hash lanes as parallel aggregation columns — one pass over the
    // shingle table instead of a seeds crossJoin (36x the rows), and one
    // md5 per row with integer lane arithmetic instead of 36 md5 calls
    val based = sh.withColumn("h32", col("sh") % ModP)
    val mhAggs = (0 until NumHashes).map(j =>
      min((col("h32") * laneA(j) + laneB(j)) % ModP).as(s"mh_$j"))
    val mh = based.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
    val bandCols = (0 until NumHashes / BandRows).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws("-",
          (0 until BandRows).map(r => col(s"mh_${b * BandRows + r}").cast("string")): _*).as("sig"))
    }
    mh
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  def minhash(s: SparkSession, dir: String): DataFrame = minhashOn(memo(s, dir))

  private def minhashOn(h: Ckpt.Stages): DataFrame =
    verifyJaccardSized(interCounts(bandPairs(bands(h)), shingles(h)), shingleSizes(h))

  /** Memoized verified near-dup pair list — [[minhash]]'s full output,
    * materialized once per application. SEVEN consumers re-ran the whole
    * bands → candidates → intersection-recount pipeline from scratch:
    * the three clusters-family queries, graph_pagerank, graph_ppr, the
    * triangles/homophily pair snapshot, and pipeline_clean_corpus. The
    * `dedup_minhash` catalog entry itself stays on the raw pipeline so
    * its plan remains auditable (PlanAuditSpec pins the verify
    * repartition and the no-cartesian rule on it).
    */
  private[graft] def minhashShared(s: SparkSession, dir: String): DataFrame = {
    val h = memo(s, dir)
    h.stage("minhash")(minhashOn(h))
  }

  /** RAW (un-materialized) trees of the session-cached builds, for the
    * plan-shape audit: the builds execute eagerly at first use, so the
    * per-query lints never see their joins inside any catalog plan.
    * Each entry is the IDENTICAL expression its catalog stage
    * materializes — the same `*Build` function is handed to both (r13
    * advice: an earlier version re-derived stand-in trees from raw
    * parquet, so the no-cartesian fence audited plans that never ran;
    * the executed builds are left_semi joins over memoized LogicalRDD
    * scans with different stats). Evaluating an entry here materializes
    * its memoized INPUTS (they are `cached` lookups), which is exactly
    * what the first catalog consumer does. Its one caller is
    * `MemoizationSpec` ("cached builds keep lint-clean plans").
    */
  private[graft] def buildPlansForAudit(
      s: SparkSession, dir: String): Map[String, DataFrame] = {
    val h = memo(s, dir)
    Map(
      "shingles"   -> docShinglesOf(h.in),
      "shingle_df" -> shingleDfBuild(h),
      "shsizes"    -> shingleSizesBuild(h),
      "bands"      -> bandsBuild(h),
      "hot"        -> hotBuild(h),
      "hotn"       -> hotNBuild(h),
      "irare"      -> iRareBuild(h),
      // minhashShared's thunk IS the public minhash() pipeline
      "minhash"    -> minhashOn(h))
  }

  /** Delta split for [[incremental]]: documents with doc_id ≡ 0 (mod 4)
    * play the incoming batch; the rest are the already-deduplicated
    * snapshot. (A fixed arithmetic split so the DuckDB oracle states the
    * same partition; production would key on an ingest-batch column.)
    */
  val DeltaMod = 4L

  /** Incremental (delta-vs-snapshot) MinHash dedup — the production
    * pattern for a growing corpus: when a new batch arrives, the snapshot
    * must never be re-paired against itself. Band signatures are computed
    * for all docs, but the candidate join is delta-bands ⋈ all-bands, so
    * pair volume is ∝ delta collisions, not corpus collisions; at real
    * scale the delta band table is the small side (a day's crawl vs the
    * corpus) and broadcasts. Delta-internal pairs count only the earlier
    * (smaller-id) doc as the surviving partner — the same keep-first rule
    * as [[exact]].
    *
    * Returns one row per delta doc: (doc_id, is_dup, match_id) where
    * match_id is the smallest verified partner (Jaccard ≥
    * [[JaccardThreshold]]) or -1.
    */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    val isDelta = (c: Column) => c % DeltaMod === 0
    val h     = memo(s, dir)
    val sh    = shingles(h) // consumed by the verify's 3 subtrees
    val bs    = bands(h)
    val cand = bs
      .filter(isDelta(col("doc_id")))
      .select(col("doc_id").as("da"), col("band"), col("sig"))
      .join(bs.select(col("doc_id").as("db"), col("band"), col("sig")), Seq("band", "sig"))
      .filter(col("db") =!= col("da"))
      .filter(!isDelta(col("db")) || col("db") < col("da"))
      .select("da", "db")
      .distinct()
    val matches = verifyJaccardSized(interCounts(cand, sh), shingleSizes(h))
      .groupBy(col("da").as("doc_id"))
      .agg(min("db").as("mp"))
    h.in
      .filter(isDelta(col("doc_id")))
      .select("doc_id")
      .join(matches, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("mp").isNotNull.as("is_dup"),
        coalesce(col("mp"), lit(-1L)).as("match_id"))
  }

  /** Max relative edit distance for [[fuzzy]] (distance / longer length). */
  val FuzzyMaxRel = 0.4

  /** Fuzzy dedup: the same MinHash banding bounds the candidate space,
    * but verification is character-level edit distance (Levenshtein)
    * relative to the longer text — the classic fuzzy-match metric for
    * boilerplate variants that token-set Jaccard scores too leniently.
    * Levenshtein is O(|a|·|b|) per pair, which is exactly why it runs
    * only on blocked candidates, never all pairs.
    *
    * Scale caveat (measured at sf1, SCALING.md): all-pairs-within-bucket
    * semantics make verify work Ω(true near-dup pair mass) = O(m²) in
    * family size m. Production boilerplate families (templates, headers)
    * reach millions of members; use [[fuzzyCapped]] there — it verifies
    * member↔canonical only, linear in m, and audits what it skipped.
    */
  def fuzzy(s: SparkSession, dir: String): DataFrame = fuzzyOn(memo(s, dir))

  def fuzzyOf(docs: DataFrame): DataFrame = fuzzyOn(Ckpt.Stages(docs))

  private def fuzzyOn(h: Ckpt.Stages): DataFrame = {
    val d    = h.in.select(col("doc_id"), col("text"))
    val dist = levenshtein(col("ta"), col("tb")).cast("long")
    val rel  = dist.cast("double") / greatest(length(col("ta")), length(col("tb"))).cast("double")
    bandPairs(bands(h))
      .join(d.select(col("doc_id").as("da"), col("text").as("ta")), "da")
      .transform(spreadVerify(_))
      .join(d.select(col("doc_id").as("db"), col("text").as("tb")), "db")
      .select(col("da"), col("db"), dist.as("dist"), rel.as("rel"))
      .filter(col("rel") <= FuzzyMaxRel)
  }

  /** Parallelism pin for the Levenshtein verify stage. AQE coalesces
    * post-shuffle partitions by BYTE size, but the verify stage's cost is
    * the O(|a|·|b|) edit-distance DP — measured at sf1: the capped path's
    * 91k candidate pairs (~58 MB with texts) coalesced to ONE partition
    * and a single thread ran all 9.5e9 DP cell operations sequentially
    * (99 s), while the exact path's 215 MB happened to stay wide (62 s
    * for 3.7× the work).
    *
    * Placement matters: the rel-threshold FILTER contains the
    * Levenshtein call and predicate-pushdown sinks it to just above the
    * final (db) text join, so pinning must target THAT join's stage, not
    * a repartition above it (tried first — the filter pushed straight
    * through it back into the one-task stage). Repartitioning the
    * pair stream by db with an explicit partition count BETWEEN the two
    * text joins makes the db join consume the pinned distribution
    * (EnsureRequirements adds no further exchange; AQE cannot coalesce a
    * user-pinned count), so the join output stage — where the pushed
    * filter actually evaluates — is guaranteed defaultParallelism wide.
    * Cost: the da-side text join's output shuffles once more;
    * proportional to verify input, which the blocking stage bounds.
    */
  private def spreadVerify(pairs: DataFrame, key: String = "db"): DataFrame =
    pairs.repartition(
      pairs.sparkSession.sparkContext.defaultParallelism, col(key))

  /** Family-mass-capped fuzzy dedup — the 100 TB-safe twin of [[fuzzy]].
    *
    * [[fuzzy]] (and every all-pairs-within-bucket verifier) does work
    * proportional to TRUE near-dup pair mass, which is O(m²) in family
    * size m — a million-member boilerplate family (site templates, legal
    * headers) is a job-killer even though every per-bucket join is an
    * equi-join. This variant caps verification at the blocking stage,
    * BEFORE any pair forms: each LSH bucket elects a canonical
    * representative (its smallest doc_id) and only member↔representative
    * pairs are verified. A bucket of m docs emits m−1 candidate pairs
    * instead of m(m−1)/2, so total verify work is ≤ bands × corpus rows —
    * linear in the corpus no matter how the family mass is distributed
    * (DedupCappedSpec proves linearity on a planted 1,000-member family).
    *
    * That is exactly the dedup decision a pipeline needs — members verify
    * against the doc that would be KEPT — but it is not the full pair
    * audit, so every emitted row carries a truncation-audit column:
    * `skipped` = how many bucket-mate pairings of `db` were NOT verified
    * (Σ over db's buckets of m−2; a mate shared through two bands counts
    * twice, making the column the exact count of skipped (bucket, mate)
    * slots rather than distinct mates — an upper bound on distinct
    * skipped partners, cheap to compute at any scale).
    *
    * Output: (da, db, dist, rel, skipped) with da the bucket canonical,
    * rows passing rel ≤ [[FuzzyMaxRel]] — the same verify rule as
    * [[fuzzy]].
    */
  def fuzzyCapped(s: SparkSession, dir: String): DataFrame = fuzzyCappedOn(memo(s, dir))

  def fuzzyCappedOf(docs: DataFrame): DataFrame = fuzzyCappedOn(Ckpt.Stages(docs))

  private def fuzzyCappedOn(h: Ckpt.Stages): DataFrame = {
    // per-bucket size + canonical; bands feeds the aggregate and the
    // member join with the identical (band, sig) shuffle → ReusedExchange
    val bs  = bands(h)
    val bsz = bs.groupBy("band", "sig")
      .agg(count(lit(1)).as("m"), min("doc_id").as("rep"))
    // ONE member pass builds both outputs: the groupBy(da, db) IS the
    // candidate distinct (da = bucket canonical, db = member), and the
    // per-pair skipped-slot mass re-aggregates to the per-doc audit — the
    // band machinery is never traversed twice
    val memb = bs.join(bsz, Seq("band", "sig"))
      .filter(col("doc_id") =!= col("rep"))
      .groupBy(col("rep").as("da"), col("doc_id").as("db"))
      .agg(sum(col("m") - 2).as("part"))
    val skip = memb.groupBy("db").agg(sum(col("part")).as("skipped"))
    val d    = h.in.select(col("doc_id"), col("text"))
    val dist = levenshtein(col("ta"), col("tb")).cast("long")
    val rel  = dist.cast("double") / greatest(length(col("ta")), length(col("tb"))).cast("double")
    memb
      .select("da", "db")
      .join(d.select(col("doc_id").as("da"), col("text").as("ta")), "da")
      .transform(spreadVerify(_))
      .join(d.select(col("doc_id").as("db"), col("text").as("tb")), "db")
      .select(col("da"), col("db"), dist.as("dist"), rel.as("rel"))
      .filter(col("rel") <= FuzzyMaxRel)
      .join(skip, "db")
      .select("da", "db", "dist", "rel", "skipped")
  }

  // ---------------------------------------------------------------- simhash

  /** Per-doc 60-bit SimHash packed as a long (bit j from the sign of the
    * count-weighted ±1 votes of token-hash bit j).
    */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame = {
    // the (doc, term) counts are the session-memoized Curation tf table
    // (r15, guide §2.4) — the private tokenize + (doc_id, t) shuffle this
    // ran per invocation produced exactly the same rows (source is a
    // functionally-dependent passenger there); only the md5 term hash
    // stays per-row here
    val tokCounts = Curation.tfAllShared(s, dir)
      .select(col("doc_id"), col("t"), col("tf").as("c"))
      .withColumn("th", TextHash.hash60(col("t")))
    // 60 vote lanes as parallel aggregation columns (one pass, no 60x
    // bit-index explosion), then pack the sign bits into one long
    val voteAggs = (0 until 60).map(j =>
      sum(col("c") * (expr(s"(th div ${1L << j}) % 2") * 2 - 1)).as(s"sv_$j"))
    val votes  = tokCounts.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    val packed = (0 until 60)
      .map(j => when(col(s"sv_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("doc_id"), packed.as("simhash"))
  }

  /** SimHash near-dup pairs: pigeonhole blocking (4 chunks of 15 bits — any
    * pair within Hamming 3 shares at least one exact chunk) then exact
    * Hamming verification with bit_count(xor). Blocking keys shuffle like
    * any equi-join; no cross join.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val sig = simhashSignatures(s, dir)
    // chunk expansion as a generator over a 4-element literal — same rows
    // as a crossJoin against a constant table, but stays a projection
    // (no BroadcastNestedLoopJoin in the plan)
    val keyed = sig
      .withColumn("ck", explode(typedLit((0 until NumChunks).toList)))
      .withColumn("ckey", expr("(simhash div cast(pow(2, ck * 15) as long)) % 32768"))
    val cands = keyed
      .select(col("doc_id").as("da"), col("simhash").as("sa"), col("ck"), col("ckey"))
      .join(
        keyed.select(col("doc_id").as("db"), col("simhash").as("sb"), col("ck"), col("ckey")),
        Seq("ck", "ckey"))
      .filter(col("da") < col("db"))
      .select("da", "db", "sa", "sb")
      .distinct()
    cands
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .filter(col("hamming") <= HammingMax)
      .select("da", "db", "hamming")
  }

  // -------------------------------------------------------------- embedding

  /** Embedding cosine near-dup: top-20 most similar vector pairs among
    * LSH-bucketed candidates. Pair generation is an equi-join on
    * (table, bucket) from [[Similarity.signatures]] — the pair space is
    * bounded by genuine bucket collisions, so the plan shuffles and
    * hash-joins like every other dedup path (no cross join, no
    * BroadcastNestedLoop). The DuckDB oracle mirrors the identical
    * bucketing, and the exact all-pairs ranking survives as the recall
    * oracle in DedupSimilaritySpec.
    */
  def embedding(s: SparkSession, dir: String): DataFrame = {
    // norm/cosine construction shared with Similarity so the exact
    // arithmetic shape (which the oracle depends on) has one definition
    val e   = Similarity.withNorm(Tables.embeddings(s, dir))
    // occupancy-constant geometry: planes grow with log2(n) so candidate
    // volume stays linear; equals the oracle-pinned EmbPlanes at the
    // 500-vector correctness fixtures by construction
    val planes = Similarity.planesFor(Tables.embeddingsCount(s, dir), EmbTargetBucket)
    val sig = Similarity.signatures(s, dir, EmbTables, planes)
    val cands = sig
      .select(col("vec_id").as("va"), col("tbl"), col("bucket"))
      .join(sig.select(col("vec_id").as("vb"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .filter(col("va") < col("vb"))
      .select("va", "vb")
      .distinct()
    cands
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea"), col("norm").as("na")), "va")
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("norm").as("nb")), "vb")
      .withColumn("cos", Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .orderBy(desc("cos"), asc("va"), asc("vb"))
      .limit(20)
      .select("va", "vb", "cos")
  }

  // ------------------------------------------------------------- clustering

  /** Near-dup clusters from the minhash pair graph: iterative min-label
    * propagation (connected components) to a fixpoint, then canonical-doc
    * selection (cluster id = smallest member). This is the step a real
    * pipeline runs after pairwise detection — dedup decisions are made
    * per CLUSTER (keep one representative), not per pair.
    *
    * Scale shape: the classic Spark connected-components loop — edges are
    * materialized once (`localCheckpoint` truncates the minhash lineage so
    * iterations don't replay it), each round is one equi-join + one
    * aggregation, and convergence is reached in O(component diameter)
    * rounds (near-dup clusters are shallow — a handful of rounds even at
    * corpus scale). The min-label fixpoint is order-independent, so the
    * result is deterministic under any partitioning.
    *
    * The DuckDB oracle reaches the same fixpoint through a recursive CTE
    * (transitive closure + min per node) — tractable because components
    * are small, which is exactly the regime near-dup graphs live in.
    */
  def clusters(s: SparkSession, dir: String): DataFrame =
    // memoized twice over: the pair list via [[minhashShared]], the CC
    // fixpoint itself per application — clusters feeds three catalog
    // queries (clusters, clustersApply, clustersApplyQuality) and each
    // used to re-run the whole checkpointed loop
    Ckpt.cached(s, s"dedup:clusters:$dir")(
      connectedComponents(minhashShared(s, dir).select(col("da"), col("db"))))

  /** One round of min-label propagation: every node takes the minimum of
    * its own label and its neighbors' labels. Exposed so PlanAuditSpec
    * can pin the join shape (the full [[connectedComponents]] executes
    * eagerly, leaving only a checkpoint scan to audit).
    */
  private[ops] def propagateOnce(labels: DataFrame, edges: DataFrame): DataFrame =
    labels
      .join(edges, col("node") === col("src"))
      .select(col("dst").as("node"), col("label"))
      .union(labels)
      .groupBy("node")
      .agg(min(col("label")).as("label"))

  /** Min-label connected components over an undirected pair list
    * (da, db) — the reusable core of [[clusters]]. Returns
    * (doc_id, cluster_id, is_canonical) for every node in any pair.
    */
  def connectedComponents(pairList: DataFrame): DataFrame = {
    // the pair snapshot is dead once edges is materialized; the catalog
    // path passes the SHARED minhashShared scan, which scoped never frees
    val edges = Ckpt.scoped(pairList.toDF("da", "db")) { prs =>
      prs.union(prs.select(col("db").as("da"), col("da").as("db")))
        .toDF("src", "dst")
        .transform(Ckpt.apply)
    }
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .transform(Ckpt.apply)
    // labels are monotonically non-increasing per node, so the exact
    // (decimal) label sum is a complete convergence witness: unchanged sum
    // ⟺ no label changed — one aggregation job per round instead of an
    // anti-join
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
    var prevSum   = labelSum(labels)
    var converged = false
    var rounds    = 0
    val MaxRounds = 50
    while (!converged && rounds < MaxRounds) {
      val next    = propagateOnce(labels, edges).transform(Ckpt.apply)
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      // the superseded generation's checkpoint blocks are dead weight —
      // release them so the loop holds at most two label generations
      Ckpt.free(labels)
      labels = next
      prevSum = nextSum
      rounds += 1
    }
    Ckpt.free(edges) // the result depends only on the final labels
    // a silent non-converged return would emit WRONG cluster ids (and
    // diverge from the oracle's full fixpoint) — fail loudly instead;
    // near-dup components are shallow, so 50 rounds means data pathology
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $MaxRounds rounds — component diameter exceeds the bound")
    labels.select(
      col("node").as("doc_id"),
      col("label").as("cluster_id"),
      (col("node") === col("label")).as("is_canonical"))
  }

  // ------------------------------------------------------------------ spans

  /** Span-level dedup geometry: non-overlapping [[SpanTokens]]-token
    * windows (the fixtures have no line structure, so fixed token windows
    * stand in for RefinedWeb's duplicated-line unit); a doc is flagged
    * when more than [[SpanDupMax]] of its spans recur anywhere in the
    * corpus (including inside the doc itself).
    */
  val SpanTokens = 16
  val SpanDupMax = 0.3

  /** Sub-document duplication audit — the signal exact/minhash dedup
    * cannot see: boilerplate spans repeated across otherwise-distinct
    * documents. Every doc is cut into non-overlapping [[SpanTokens]]-token
    * spans (tokenized ONCE as a named column, then an index-driven
    * `transform` slices it — no per-span re-tokenization); spans hash to
    * 60-bit keys, a corpus-wide count marks recurring spans, and the join
    * back yields each doc's duplicated-span fraction.
    *
    * Scale shape: identical to the n-gram inverted index — one shuffle on
    * the 8-byte span hash for the count, one equi-join back, one per-doc
    * rollup. Span multiplicity is kept (a doc's internal repetition
    * counts), so the count table is the only state and it is bounded by
    * the corpus's distinct-span vocabulary, never the pair space.
    */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    spanDedupOf(Tables.documents(s, dir))

  def spanDedupOf(docs: DataFrame): DataFrame = {
    val spans = docs
      .select(col("doc_id"), Tokenize.tokenCol(col("text")).as("raw"))
      .select(col("doc_id"), filter(col("raw"), _ =!= "").as("toks"))
      .filter(size(col("toks")) > 0)
      .select(
        col("doc_id"),
        explode(expr(
          s"""transform(sequence(0, int((size(toks) + ${SpanTokens - 1}) div $SpanTokens) - 1),
              i -> concat_ws(' ', slice(toks, i * $SpanTokens + 1, $SpanTokens)))""")).as("span"))
      .select(col("doc_id"), TextHash.hash60(col("span")).as("sh"))
    val sc = spans.groupBy("sh").agg(count(lit(1)).as("c"))
    spans
      .join(sc, "sh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        count(when(col("c") >= 2, 1)).as("n_dup"))
      .select(
        col("doc_id"),
        col("n_spans"),
        col("n_dup"),
        (col("n_dup").cast("double") / col("n_spans")).as("dup_frac"),
        (col("n_dup").cast("double") / col("n_spans") > SpanDupMax).as("flagged"))
  }

  /** Sliding-window size for [[repeatedSpans]] (one token step, unlike
    * [[spanDedup]]'s disjoint blocks — boundary-straddling repeats are
    * caught too).
    */
  val RepSpanTokens = 16

  /** Maximal cross-document repeated spans — the k-gram decomposition of
    * ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", which removes any ≥50-token substring
    * shared between documents via a corpus-wide suffix array). A global
    * suffix array needs a total order over 100 TB of text; at k-gram
    * granularity the same signal decomposes into pure dataflow:
    * every [[RepSpanTokens]]-token SLIDING shingle hashes to a key, a
    * distinct-doc count marks shingles seen in ≥2 documents, and each
    * doc's surviving shingle positions chain into maximal runs. Output
    * per doc: the maximal repeated spans, their token coverage, and the
    * covered fraction — the rows a span-removal pass would cut.
    *
    * MAXIMAL EXTENSION (the step past naive island-merge): two adjacent
    * repeated positions p and p+1 chain into one span only when the
    * (K+1)-gram starting at p is ITSELF cross-document repeated — i.e.
    * some single other document contains the two K-grams consecutively.
    * Without this check, p repeated via doc B and p+1 repeated via doc C
    * would merge into a "span" no other document actually contains
    * (over-extension — pinned adversarially in DedupSpanSpec). Every
    * merge step is therefore certified by a real length-(K+1) shared
    * substring, which is exactly the left/right extension test a suffix
    * array answers, re-expressed as one more shingle table. Runs that
    * overlap without a certified extension stay SEPARATE maximal spans;
    * `covered_tokens` is their interval UNION (second gaps-and-islands
    * pass), so coverage never double-counts overlapping spans.
    *
    * Differs from [[spanDedup]] in both unit and semantics: sliding (not
    * disjoint) windows, cross-document only (within-doc repetition is
    * `text_repetition`'s job), and contiguous certified runs merged to
    * MAXIMAL spans rather than counted per block.
    *
    * Scale shape: two shuffles on 8-byte shingle hashes (distinct-doc
    * counts for K-grams and (K+1)-grams), equi-joins back, then per-doc
    * windows — partitioned on doc_id, so each sort is bounded by a
    * single document's shingle count, never the corpus. No pair table,
    * no suffix array, no cartesian.
    */
  def repeatedSpans(s: SparkSession, dir: String): DataFrame =
    repeatedSpansOf(Tables.documents(s, dir))

  def repeatedSpansOf(docs: DataFrame): DataFrame = {
    val K = RepSpanTokens
    val toks = docs
      .select(col("doc_id"), Tokenize.tokenCol(col("text")).as("raw"))
      .select(col("doc_id"), filter(col("raw"), _ =!= "").as("toks"))
      .filter(size(col("toks")) >= K)
    // one explode produces BOTH shingle tables: the K-gram at p and (when
    // it exists) the (K+1)-gram at p, so the text is tokenized and
    // scanned once.
    //
    // PERF (round 14): gram keys are xxhash64 chains over per-token
    // hashes, not md5 over a materialized 16-token string. Each token's
    // bytes are hashed ONCE (`th`), then a position's K-gram key is 16
    // long-mixes and its (K+1)-gram key re-seeds from the K-gram key plus
    // the next token's hash — no ~100-byte string allocation + md5 per
    // position (which the profile showed dominated this query). Safe for
    // THIS operator only because no hash value reaches the output: spans
    // depend on hash EQUALITY CLASSES (≥2-doc grams + extension
    // certificates), which any deterministic collision-negligible hash
    // induces identically, so the md5-based DuckDB oracle derives the
    // same classes from the gram strings themselves. MinHash/SimHash must
    // keep TextHash.hash60 — their outputs carry hash-DERIVED values the
    // oracle reproduces bit-exact.
    //
    // Collision model: the (K+1)-gram key is DERIVED from the K-gram key
    // (xxhash64(h_K, th(next))) and tokens are pre-collapsed to 64-bit
    // hashes, so extension-key collisions are correlated with K-gram and
    // token-hash collisions rather than independent as md5-per-position
    // was. The union bound still holds at ~2^-64 per colliding pair
    // (token collision OR chain collision, each uniform over 64 bits),
    // so the negligibility claim is unchanged — only the independence
    // structure differs from the old scheme.
    val hChain = (0 until K).map(j => s"element_at(th, i + $j)").mkString(", ")
    val sh = toks
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        expr("transform(toks, t -> xxhash64(t))").as("th"))
      .select(
        col("doc_id"),
        col("n_toks"),
        explode(expr(
          s"""transform(
                transform(sequence(1, size(th) - ${K - 1}),
                  i -> named_struct('p', i, 'h', xxhash64($hChain))),
                s -> named_struct(
                       'p', s.p,
                       'h', s.h,
                       'hx', IF(s.p <= size(th) - $K,
                                xxhash64(s.h, element_at(th, s.p + $K)),
                                CAST(NULL AS BIGINT))))""")).as("e"))
      .select(col("doc_id"), col("n_toks"), col("e.p").as("p"),
        col("e.h").as("h"), col("e.hx").as("hx"))
      // sh is scan-side (no exchange for ReusedExchange/AQE to dedupe)
      // and feeds the hot-count build AND the position stream: without
      // materialization the tokenize + K-long xxhash64 chain — this
      // query's dominant cost — runs once per consumer (r15, guide §1.2)
      .transform(graft.Ckpt.apply)
    val hot = sh
      .select(col("h").as("hh"), col("doc_id")).distinct()
      .groupBy("hh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("hh"))
    // K-gram-hot rows only — a (K+1)-gram shared by two documents forces
    // its K-prefix to be shared by the same two documents, so counting
    // (K+1)-gram document frequencies over the hot-prefix subset is
    // provably identical to counting over the full stream, and the
    // subset is the (typically small) repeated fraction of the corpus
    val repAll = sh.join(hot, sh("h") === hot("hh"))
      .select(col("doc_id"), col("n_toks"), col("p"), col("hx"))
    val hotx = repAll
      .filter(col("hx").isNotNull)
      .select(col("hx").as("hhx"), col("doc_id")).distinct()
      .groupBy("hhx").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("hhx"))
    // repeated K-gram positions, each flagged with whether the
    // length-(K+1) extension to p+1 is itself cross-document repeated
    val rep = repAll
      .join(hotx, repAll("hx") === hotx("hhx"), "left")
      .select(col("doc_id"), col("n_toks"), col("p"),
        col("hhx").isNotNull.as("ext"))
    val w = Window.partitionBy("doc_id").orderBy("p")
    // chain p into the previous run only when adjacent AND the previous
    // position's (K+1)-gram is shared — the certified extension step
    val spans = rep
      .withColumn("brk",
        when(col("p") === lag(col("p"), 1).over(w) + 1 &&
             lag(col("ext"), 1).over(w), 0).otherwise(1))
      .withColumn("g", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("n_toks"), col("g"))
      .agg(min(col("p")).as("s"), max(col("p")).as("e"))
    // coverage = interval UNION of the (possibly overlapping) maximal
    // spans [s, e+K-1]: classic running-max sweep, still per-doc
    val ws = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
    val covered = spans
      .withColumn("e2", col("e") + lit(K - 1))
      .withColumn("pmax",
        max(col("e2")).over(ws.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("add",
        greatest(lit(0L),
          col("e2") - greatest(col("s") - 1, coalesce(col("pmax"), col("s") - 1))))
    covered
      .groupBy(col("doc_id"), col("n_toks"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("add")).cast("long").as("covered_tokens"))
      .select(
        col("doc_id"),
        col("n_toks"),
        col("n_spans"),
        col("covered_tokens"),
        (col("covered_tokens").cast("double") / col("n_toks")).as("coverage"))
  }

  /** SemDeDup-style semantic near-dup candidates (Abbas et al. 2023):
    * cluster the embedding space (k-means argmax against the
    * [[Curation.KCentroids]] seed centroids — the same dual
    * literal/broadcast assignment as `embed_assign`), then rank
    * same-cluster pairs by exact cosine and emit the global top 20.
    * Cross-cluster pairs are never generated — the pruning that turns
    * the O(n²) semantic-pair space into Σ_k |cluster_k|², which is O(n)
    * when K grows with the corpus so cluster sizes stay ~constant (the
    * production setting; the catalog pins K=8 only because the oracle
    * SQL is static).
    *
    * Scale shape: one equi-join on cluster id — no cartesian, no BNLJ
    * (covered by the catalog-wide no-BNLJ sweep); top-k compiles to
    * TakeOrderedAndProject.
    */
  def semantic(s: SparkSession, dir: String): DataFrame = {
    // occupancy-constant cluster count: K grows with n so within-cluster
    // pair volume stays linear (see Curation.centroidsFor); equals the
    // oracle-pinned KCentroids at the 500-vector correctness fixtures.
    // Past the literal budget the assignment switches to the broadcast
    // join automatically — centroid vectors never accumulate on the
    // driver at scale.
    val k = Curation.centroidsFor(Tables.embeddingsCount(s, dir), SemTargetCluster)
    // Checkpoint the assignment: it feeds BOTH sides of the same-cluster
    // self-join, and without materialization the k-wide argmax projection
    // executes twice (measured 3x slower at sf0.1 with k=32). Memoized
    // per application (Ckpt.cached) — the returned top-k scans it
    // lazily, so a per-invocation generation could never be freed and
    // accumulated under repeated gate/bench runs (r8 advice).
    val a = graft.Ckpt.cached(s, s"dedup:sem-assign:$dir")(Curation
      .assignVectors(s, dir, literal = k <= Similarity.IvfLiteralBudget, k = k)
      .select("vec_id", "centroid"))
    val e = Similarity.withNorm(Tables.embeddings(s, dir))
    val va = a.join(e.select("vec_id", "embedding", "norm"), "vec_id")
    val left = va.select(col("centroid"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("norm").as("na"))
    val right = va.select(col("centroid"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("norm").as("nb"))
    left
      .join(right, "centroid")
      .filter(col("va") < col("vb"))
      .withColumn("cos", Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .orderBy(desc("cos"), asc("va"), asc("vb"))
      .limit(20)
      .select("centroid", "va", "vb", "cos")
  }

  // ------------------------------------------------------------------- maps

  val queries: Map[String, Q] = Map(
    "dedup_semantic"  -> (semantic _),
    "dedup_clusters_apply" -> (clustersApply _),
    "dedup_apply_quality" -> (clustersApplyQuality _),
    "dedup_exact"     -> (exact _),
    "dedup_ngram"     -> (ngram _),
    "dedup_containment" -> (containment _),
    "dedup_containment_capped" -> (containmentCapped _),
    "corpus_diff"     -> (snapshotDiff _),
    "dedup_minhash"   -> (minhash _),
    "dedup_incremental" -> (incremental _),
    "dedup_simhash"   -> (simhash _),
    "dedup_embedding" -> (embedding _),
    "dedup_clusters"  -> (clusters _),
    "dedup_fuzzy"     -> (fuzzy _),
    "dedup_fuzzy_capped" -> (fuzzyCapped _),
    "dedup_apply"     -> (exactApply _),
    "dedup_bias"      -> (dedupBias _),
    "text_span_dedup" -> (spanDedup _),
    "text_repeated_spans" -> (repeatedSpans _)
  )

  private val h = TextHash.duckHash60Of _

  /** Verified-pair CTE chain (ends in `pairs(da, db, jaccard)`), shared by
    * the per-strategy oracles and the clustering oracle.
    */
  private[ops] val duckPairsCte =
    s"""sized AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       inter AS (SELECT c.da, c.db, count(*) i
                 FROM cand c JOIN sh x ON x.doc_id = c.da JOIN sh y ON y.doc_id = c.db AND y.sh = x.sh
                 GROUP BY 1, 2),
       pairs AS (SELECT da, db, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
                 FROM inter JOIN sized sa ON da = sa.doc_id JOIN sized sb ON db = sb.doc_id
                 WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $JaccardThreshold)"""

  private val duckVerify =
    s"""$duckPairsCte
       SELECT da, db, jaccard FROM pairs"""

  /** df-capped blocking CTE (expects `sh`, yields `cand(da, db)`) —
    * mirrors [[dfCappedCands]]: pairs only from shingles with
    * df ≤ [[DfCap]].
    */
  private val duckRareCandCte =
    s"""rare AS (SELECT doc_id, sh FROM
           (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh)
         WHERE df <= $DfCap),
       cand AS (SELECT a.doc_id da, b.doc_id db
                FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)"""

  /** The full minhash WITH-chain up to `pairs` — importable as the edge
    * set of the clustering oracle.
    */
  /** The minhash WITH-chain up to the blocked candidate set `cand(da, db)`
    * — shared by the Jaccard-verified pairs chain and the fuzzy
    * (edit-distance-verified) oracle.
    */
  /** The minhash WITH-chain up to the per-doc band-signature table
    * `bands(doc_id, band, sig)` — shared by the all-pairs candidate CTE
    * and the capped (member↔bucket-canonical) fuzzy oracle.
    */
  private[ops] val duckBandsCte =
    s"""sh AS ($duckShingles),
       based AS (SELECT doc_id, sh % $ModP h32 FROM sh),
       mh AS (SELECT doc_id, j, min(((2*j+1)*h32 + 7919*j) % $ModP) mh
              FROM based CROSS JOIN (SELECT unnest(range(0, $NumHashes)) j) GROUP BY 1, 2),
       bands AS (SELECT doc_id, j // $BandRows band, string_agg(CAST(mh AS VARCHAR), '-' ORDER BY j) sig
                 FROM mh GROUP BY 1, 2)"""

  private[ops] val duckMinhashCandCte =
    s"""$duckBandsCte,
       cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
                FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)"""

  private[ops] val duckMinhashPairsCte =
    s"""$duckMinhashCandCte,
       $duckPairsCte"""

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT doc_id, digest, (row_number() OVER (PARTITION BY digest ORDER BY doc_id) > 1) AS is_dup
         FROM (SELECT doc_id, md5(text) AS digest FROM documents)""",
    "dedup_apply" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""",
    // per-slice drop accounting over the same keeper rule as dedup_apply
    "dedup_bias" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(k.doc_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(k.doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS drop_rate
         FROM documents d LEFT JOIN keep k ON k.doc_id = d.doc_id
         GROUP BY 1, 2""",
    "dedup_clusters_apply" ->
      s"""WITH RECURSIVE
         $duckMinhashPairsCte,
         edges AS (SELECT da a, db b FROM pairs UNION ALL SELECT db a, da b FROM pairs),
         reach(node, label) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
         ),
         drops AS (SELECT node AS doc_id FROM reach GROUP BY node
                   HAVING node <> min(label))
         SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM drops)""",
    "dedup_ngram" ->
      s"""WITH sh AS ($duckShingles),
         $duckRareCandCte,
         $duckVerify""",
    "corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS d1 FROM documents),
         v2 AS (SELECT doc_id, md5(regexp_replace(text, '[0-9]+', '<ID>', 'g')) AS d2
                FROM documents
                WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text)))
         SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v2.d2 IS NULL THEN 'removed'
                WHEN v1.d1 <> v2.d2 THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id""",
    "dedup_containment" ->
      s"""WITH sh AS ($duckShingles),
         $duckRareCandCte,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.da, c.db, count(*) AS i
                   FROM cand c JOIN sh x ON x.doc_id = c.da
                               JOIN sh y ON y.doc_id = c.db AND y.sh = x.sh
                   GROUP BY 1, 2)
         SELECT da, db,
           CAST(i AS DOUBLE) / CAST(x.n AS DOUBLE) AS contain_a,
           CAST(i AS DOUBLE) / CAST(y.n AS DOUBLE) AS contain_b
         FROM inter JOIN sizes x ON x.doc_id = da JOIN sizes y ON y.doc_id = db
         WHERE CAST(i AS DOUBLE) / CAST(x.n AS DOUBLE) >= $ContainMin
            OR CAST(i AS DOUBLE) / CAST(y.n AS DOUBLE) >= $ContainMin""",
    "dedup_containment_capped" ->
      s"""WITH sh AS ($duckShingles),
         rsz AS (SELECT sh, count(*) m, min(doc_id) rep FROM sh GROUP BY 1
                 HAVING count(*) <= $DfCap),
         memb AS (SELECT r.rep da, a.doc_id db, sum(r.m - 2) part
                  FROM sh a JOIN rsz r ON a.sh = r.sh WHERE a.doc_id <> r.rep
                  GROUP BY 1, 2),
         cand AS (SELECT da, db FROM memb),
         skip AS (SELECT db, CAST(sum(part) AS BIGINT) AS skipped FROM memb GROUP BY 1),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.da, c.db, count(*) AS i
                   FROM cand c JOIN sh x ON x.doc_id = c.da
                               JOIN sh y ON y.doc_id = c.db AND y.sh = x.sh
                   GROUP BY 1, 2)
         SELECT da, db, contain_a, contain_b, skipped FROM (
           SELECT da, db,
             CAST(i AS DOUBLE) / CAST(x.n AS DOUBLE) AS contain_a,
             CAST(i AS DOUBLE) / CAST(y.n AS DOUBLE) AS contain_b
           FROM inter JOIN sizes x ON x.doc_id = da JOIN sizes y ON y.doc_id = db)
         JOIN skip USING (db)
         WHERE contain_a >= $ContainMin OR contain_b >= $ContainMin""",
    "dedup_minhash" ->
      s"""WITH $duckMinhashPairsCte
         SELECT da, db, jaccard FROM pairs""",
    "dedup_incremental" ->
      s"""WITH $duckMinhashPairsCte,
         inc AS (
           SELECT db AS d, da AS p FROM pairs WHERE db % $DeltaMod = 0
           UNION ALL
           SELECT da AS d, db AS p FROM pairs WHERE da % $DeltaMod = 0 AND db % $DeltaMod <> 0),
         m AS (SELECT d, min(p) AS mp FROM inc GROUP BY 1)
         SELECT doc_id, (mp IS NOT NULL) AS is_dup,
           coalesce(mp, CAST(-1 AS BIGINT)) AS match_id
         FROM (SELECT doc_id FROM documents WHERE doc_id % $DeltaMod = 0) dd
         LEFT JOIN m ON m.d = dd.doc_id""",
    "dedup_fuzzy" ->
      s"""WITH $duckMinhashCandCte
         SELECT da, db, dist, rel FROM (
           SELECT da, db, CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist,
             CAST(levenshtein(x.text, y.text) AS DOUBLE) /
               CAST(greatest(length(x.text), length(y.text)) AS DOUBLE) AS rel
           FROM cand JOIN documents x ON x.doc_id = da JOIN documents y ON y.doc_id = db)
         WHERE rel <= $FuzzyMaxRel""",
    "dedup_fuzzy_capped" ->
      s"""WITH $duckBandsCte,
         bsz AS (SELECT band, sig, count(*) m, min(doc_id) rep FROM bands GROUP BY 1, 2),
         memb AS (SELECT b.rep da, a.doc_id db, sum(b.m - 2) part
                  FROM bands a JOIN bsz b ON a.band = b.band AND a.sig = b.sig
                  WHERE a.doc_id <> b.rep GROUP BY 1, 2),
         skip AS (SELECT db, CAST(sum(part) AS BIGINT) AS skipped FROM memb GROUP BY 1)
         SELECT da, db, dist, rel, skipped FROM (
           SELECT da, db, CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist,
             CAST(levenshtein(x.text, y.text) AS DOUBLE) /
               CAST(greatest(length(x.text), length(y.text)) AS DOUBLE) AS rel
           FROM memb JOIN documents x ON x.doc_id = da JOIN documents y ON y.doc_id = db)
         JOIN skip USING (db)
         WHERE rel <= $FuzzyMaxRel""",
    "dedup_simhash" ->
      s"""WITH tc AS (SELECT doc_id, t, count(*) c FROM
           (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '')) t
            FROM documents) GROUP BY 1, 2),
         votes AS (SELECT doc_id, j, sum(c * (((${h("t")} >> j) & 1) * 2 - 1)) sv
                   FROM tc CROSS JOIN (SELECT unnest(range(0, 60)) j) GROUP BY 1, 2),
         bits AS (SELECT doc_id, j, CASE WHEN sv > 0 THEN 1 ELSE 0 END bt FROM votes),
         sig AS (SELECT doc_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT), list(CAST(bt AS BIGINT) ORDER BY j DESC)),
                     (a, b) -> a * 2 + b) simhash
                 FROM bits GROUP BY doc_id),
         keyed AS (SELECT doc_id, simhash, ck, (simhash // CAST(pow(2, ck * 15) AS BIGINT)) % 32768 ckey
                   FROM sig CROSS JOIN (SELECT unnest(range(0, $NumChunks)) ck)),
         cand AS (SELECT DISTINCT a.doc_id da, a.simhash sa, b.doc_id db, b.simhash sb
                  FROM keyed a JOIN keyed b ON a.ck = b.ck AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
         SELECT da, db, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming FROM cand
         WHERE bit_count(xor(sa, sb)) <= $HammingMax""",
    "dedup_clusters" ->
      s"""WITH RECURSIVE
         $duckMinhashPairsCte,
         edges AS (SELECT da a, db b FROM pairs UNION ALL SELECT db a, da b FROM pairs),
         reach(node, label) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
         )
         SELECT node AS doc_id, min(label) AS cluster_id,
           (node = min(label)) AS is_canonical
         FROM reach GROUP BY node""",
    "dedup_apply_quality" ->
      s"""WITH RECURSIVE
         $duckMinhashPairsCte,
         edges AS (SELECT da a, db b FROM pairs UNION ALL SELECT db a, da b FROM pairs),
         reach(node, label) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
         ),
         cl AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
         q AS (${graft.ops.TextAnalysis.duckQualityCte}),
         member AS (SELECT cl.cluster_id, cl.doc_id, q.quality_score
                    FROM cl JOIN q USING (doc_id)),
         best AS (SELECT cluster_id, doc_id AS keep_id FROM (
                    SELECT cluster_id, doc_id,
                      row_number() OVER (PARTITION BY cluster_id
                        ORDER BY quality_score DESC, doc_id ASC) rn
                    FROM member) WHERE rn = 1)
         SELECT m.cluster_id, m.doc_id, m.quality_score,
           (m.doc_id = b.keep_id) AS kept
         FROM member m JOIN best b USING (cluster_id)""",
    "dedup_semantic" ->
      s"""WITH ${Similarity.duckNorm},
         cent AS (SELECT vec_id cid, emb cemb, nrm cnrm FROM e
                  WHERE vec_id < (SELECT greatest(1, (count(*) + ${SemTargetCluster - 1}) // $SemTargetCluster)
                                  FROM embeddings)),
         scored AS (SELECT e.vec_id, cent.cid,
                      list_inner_product(e.emb, cent.cemb) / (e.nrm * cent.cnrm) AS cos
                    FROM e CROSS JOIN cent),
         best AS (SELECT vec_id, cid FROM (
                    SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) rn
                    FROM scored) WHERE rn = 1),
         m AS (SELECT b.vec_id, b.cid, e.emb, e.nrm FROM best b JOIN e ON b.vec_id = e.vec_id),
         pairs AS (SELECT a.cid AS centroid, a.vec_id AS va, b.vec_id AS vb,
                     list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
                   FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         SELECT centroid, va, vb, cos FROM pairs
         ORDER BY cos DESC, va ASC, vb ASC LIMIT 20""",
    "dedup_embedding" ->
      s"""WITH ${Similarity.duckNorm},
         ${Similarity.duckSigDynamic(EmbTables, EmbTargetBucket)},
         cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb
                  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  AND a.vec_id < b.vec_id)
         SELECT va, vb, list_inner_product(qa.emb, qb.emb) / (qa.nrm * qb.nrm) AS cos
         FROM cand JOIN e qa ON qa.vec_id = va JOIN e qb ON qb.vec_id = vb
         ORDER BY cos DESC, va ASC, vb ASC LIMIT 20""",
    "text_span_dedup" ->
      s"""WITH toks AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '$WP'), x -> x <> '') l
           FROM documents),
         spans AS (
           SELECT doc_id,
             ${h(s"array_to_string(list_slice(l, i * $SpanTokens + 1, i * $SpanTokens + $SpanTokens), ' ')")} AS sh
           FROM (SELECT doc_id, l, unnest(range(0, (len(l) + ${SpanTokens - 1}) // $SpanTokens)) AS i
                 FROM toks WHERE len(l) > 0)),
         sc AS (SELECT sh, count(*) AS c FROM spans GROUP BY 1)
         SELECT doc_id, count(*) AS n_spans,
           count(*) FILTER (WHERE c >= 2) AS n_dup,
           CAST(count(*) FILTER (WHERE c >= 2) AS DOUBLE) / count(*) AS dup_frac,
           (CAST(count(*) FILTER (WHERE c >= 2) AS DOUBLE) / count(*) > $SpanDupMax) AS flagged
         FROM spans JOIN sc USING (sh) GROUP BY 1""",
    "text_repeated_spans" ->
      s"""WITH toks AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '$WP'), x -> x <> '') l
           FROM documents),
         pos AS (
           SELECT doc_id, len(l) AS n_toks, l,
             unnest(generate_series(1, len(l) - ${RepSpanTokens - 1})) AS p
           FROM toks WHERE len(l) >= $RepSpanTokens),
         sh AS (
           SELECT doc_id, n_toks, p,
             ${h(s"array_to_string(list_slice(l, p, p + ${RepSpanTokens - 1}), ' ')")} AS h,
             CASE WHEN p <= n_toks - $RepSpanTokens THEN
               ${h(s"array_to_string(list_slice(l, p, p + $RepSpanTokens), ' ')")}
             ELSE NULL END AS hx
           FROM pos),
         hot AS (
           SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
           WHERE nd >= 2),
         repall AS (
           SELECT s.doc_id, s.n_toks, s.p, s.hx FROM sh s JOIN hot USING (h)),
         hotx AS (
           SELECT hx FROM (SELECT hx, count(DISTINCT doc_id) AS nd FROM repall
                           WHERE hx IS NOT NULL GROUP BY 1)
           WHERE nd >= 2),
         rep AS (
           SELECT s.doc_id, s.n_toks, s.p, x.hx IS NOT NULL AS ext
           FROM repall s
           LEFT JOIN hotx x ON s.hx = x.hx),
         isl AS (
           SELECT doc_id, n_toks, p,
             CASE WHEN p = lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 1
                   AND lag(ext) OVER (PARTITION BY doc_id ORDER BY p)
                  THEN 0 ELSE 1 END AS brk
           FROM rep),
         grp AS (
           SELECT doc_id, n_toks, p,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
           FROM isl),
         spans AS (
           SELECT doc_id, n_toks, g, min(p) AS s, max(p) AS e
           FROM grp GROUP BY 1, 2, 3),
         cov AS (
           SELECT doc_id, n_toks,
             greatest(0, (e + ${RepSpanTokens - 1})
               - greatest(s - 1,
                   coalesce(max(e + ${RepSpanTokens - 1}) OVER (
                     PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     s - 1))) AS add
           FROM spans)
         SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           count(*) AS n_spans,
           CAST(sum(add) AS BIGINT) AS covered_tokens,
           CAST(sum(add) AS DOUBLE) / n_toks AS coverage
         FROM cov GROUP BY doc_id, n_toks"""
  )
}
