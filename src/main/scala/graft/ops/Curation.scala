package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt
import graft.Tables
import graft.text.Tokenize
import graft.functions.{TextHash, VectorFunctions}

/** Corpus-curation operators beyond dedup/quality-scoring: the remaining
  * pieces of a training-data pipeline at 100 TB.
  *
  *  - repetition  : Gopher-style repetition filters (top-token / top-bigram
  *                  mass fractions) — the highest-signal cheap quality rule
  *  - contamination: benchmark n-gram decontamination — distinct trigram
  *                  overlap of every document against a held-out source's
  *                  shingle set, the industry-standard 13-gram check scaled
  *                  to the fixture's short documents
  *  - split       : deterministic hash-based train/val/test assignment —
  *                  reproducible across runs, partitionings, and engines
  *  - chunks      : fixed-size token windowing (the pre-tokenization pass
  *                  that feeds sequence packing)
  *  - tfidf       : per-document top terms by tf-idf (rational score:
  *                  tf·N/df — one IEEE division, no log, so the ranking is
  *                  bit-reproducible in the oracle)
  *  - centroids   : one k-means assignment step over the embedding table
  *                  against K fixed centroids shipped as literals
  *
  * Scale shapes: everything is scan → project/agg or an equi-join on an
  * 8-byte shingle hash. The centroid assignment is a pure projection (no
  * join at all — centroid vectors are driver-side literals, the same
  * pattern as the LSH hyperplane weights).
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  /** Repetition flags (Gopher-style): a doc is repetitive when the most
    * frequent token carries >20% of token mass or the most frequent
    * bigram >18%.
    */
  val TopTokenMax  = 0.2
  val TopBigramMax = 0.18
  /** Contamination: held-out source acting as the "benchmark" set, and the
    * distinct-trigram overlap ratio above which a doc is flagged.
    */
  val BenchmarkSource = "src0"
  val ContamMax       = 0.25
  /** Split: hash60("split:"+doc_id) mod 100 → <80 train, <90 val, else test. */
  val TrainPct = 80
  val ValPct   = 90
  /** Chunking: tokens per chunk. */
  val ChunkSize = 50
  /** tf-idf: top terms kept per document. */
  val TfidfK = 3
  /** Centroid assignment: the first K vectors act as fixed centroids. */
  val KCentroids = 8

  private[ops] def withToks(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), col("source"), Tokenize.tokenCol(col("text")).as("raw"))
      .select(col("doc_id"), col("source"), filter(col("raw"), _ =!= "").as("toks"))

  // ---------------------------------------------------------- mixture

  /** Token budget for the mixture's expected-epoch computation. */
  val MixtureBudget = 1000000.0

  /** Source-mixture sampling weights: the step that turns per-source
    * corpus sizes into the sampling distribution a training run draws
    * from. Each source's weight is `sqrt(tokens)` (temperature α = 0.5 —
    * the standard up-weighting of small/curated sources over bulk web
    * text); `p_sample` normalizes the weights and `epochs` is how many
    * times the source would be traversed filling a [[MixtureBudget]]-token
    * budget at that rate (>1 ⇒ the source repeats).
    *
    * Scale shape: one partial-aggregated shuffle to per-source totals
    * (sources are few — the result is KB), then a 1-row broadcast of the
    * weight total. Determinism: sqrt is IEEE-correctly-rounded in both
    * engines; each weight is quantized through decimal(38,6) BEFORE the
    * cross-source total, so the sum is exact and order-free.
    */
  def mixture(s: SparkSession, dir: String): DataFrame = {
    val per = withToks(s, dir)
      .select(col("source"), size(col("toks")).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("w", sqrt(col("n_tokens").cast("double")).cast("decimal(38,6)"))
    val tot = per.agg(sum(col("w")).as("tw"))
    val p   = col("w").cast("double") / col("tw").cast("double")
    per
      .crossJoin(broadcast(tot))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        col("w").cast("double").as("weight"),
        p.as("p_sample"),
        (p * lit(MixtureBudget) / col("n_tokens").cast("double")).as("epochs"))
  }

  // ------------------------------------------------------------- repetition

  /** Per-doc repetition stats: token count, top-token fraction, top-bigram
    * fraction, and the composite flag. Two partial-aggregated passes (one
    * per n-gram order) joined on doc_id.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = withToks(s, dir)
    val tokStats = toks
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy("doc_id", "t")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_tok"))
    val bgStats = toks
      .select(col("doc_id"), explode(TextHash.shingles(col("toks"), 2)).as("bg"))
      .groupBy("doc_id", "bg")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bg"))
    val tokFrac = col("top_tok").cast("double") / col("n_tokens")
    val bgFrac  = coalesce(col("top_bg").cast("double") / col("n_bigrams"), lit(0.0))
    tokStats
      .join(bgStats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        tokFrac.as("top_token_frac"),
        bgFrac.as("top_bigram_frac"),
        (tokFrac > TopTokenMax || bgFrac > TopBigramMax).as("repetitive"))
  }

  // ---------------------------------------------------------- contamination

  /** Distinct (doc, source, trigram-hash) triples — the shingle table the
    * contamination join keys on. 8-byte keys, like Dedup.docShingles.
    */
  private def srcShingles(s: SparkSession, dir: String): DataFrame =
    withToks(s, dir)
      .select(col("doc_id"), col("source"), explode(TextHash.shingles(col("toks"), 3)).as("shs"))
      .select(col("doc_id"), col("source"), TextHash.hash60(col("shs")).as("sh"))
      .distinct()

  /** Benchmark decontamination: for every doc outside [[BenchmarkSource]],
    * the fraction of its distinct trigrams that appear anywhere in the
    * benchmark source's trigram set. One equi-join on the hash, one
    * per-doc aggregation.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val sh    = srcShingles(s, dir)
    val bench = sh.filter(col("source") === BenchmarkSource).select("sh").distinct()
    val ratio = col("n_hit").cast("double") / col("n_sh")
    sh.filter(col("source") =!= BenchmarkSource)
      .join(bench.withColumn("hit", lit(1)), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .select(
        col("doc_id"),
        col("n_sh"),
        col("n_hit"),
        ratio.as("contamination_ratio"),
        (ratio >= ContamMax).as("contaminated"))
  }

  // --------------------------------------------------------- source overlap

  /** Cross-source contamination matrix: pairwise Jaccard similarity of the
    * sources' distinct-trigram sets — the corpus-mixing diagnostic run
    * before weighting sources (two crawls of the same site look like two
    * "sources" until this table says they are 90% the same text).
    *
    * Scale shape: per-source distinct shingle sets keyed by the 8-byte
    * [[TextHash.hash60]] (the [[srcShingles]] table [[contamination]]
    * already builds). The intersection counts come from ONE shuffle onto
    * the shingle hash: each shingle aggregates its (source-count-bounded,
    * ≤ a few dozen element) source set, and the pair list explodes from
    * that set — never a corpus-sized self-join, never an all-pairs
    * document comparison. The union term is inclusion–exclusion against
    * the per-source set sizes, a source-count-bounded table that is
    * checkpointed once (its fit pass is the only other corpus scan) and
    * rides back in as a broadcast.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // (source, sh) distinct only — dropping doc_id both shrinks the table
    // (one row per source-shingle, not per doc-shingle) and lets the two
    // consumers below (pair expansion + per-source sizes) share ONE
    // materialization instead of re-running tokenize→shingle→distinct
    // twice. Eager checkpoint; at cluster scale this becomes a persisted
    // intermediate table (see localCheckpoint note in Graph.scala).
    // memoized per application (Ckpt.cached): the returned frame scans
    // this checkpoint lazily, so a per-invocation generation could never
    // be freed and accumulated under repeated gate/bench runs (r8 advice)
    val sh = Ckpt.cached(s, s"curate:overlap-sh:$dir") {
      withToks(s, dir)
        .select(col("source"), explode(TextHash.shingles(col("toks"), 3)).as("shs"))
        .select(col("source"), TextHash.hash60(col("shs")).as("sh"))
        .distinct()
    }
    // sorted source set per shingle: collect_set dedupes, array_sort makes
    // the pair expansion deterministic and canonically ordered (a < b)
    val bySh = sh
      .groupBy("sh")
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
    val inter = bySh
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
             transform(slice(srcs, i + 2, size(srcs)), b ->
               struct(a AS source_a, b AS source_b))))""")).as("p"))
      .select(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_inter"))
    // bounded by the source count — materialize once for both join sides
    val sizes = Ckpt.cached(s, s"curate:overlap-sizes:$dir")(
      sh.groupBy("source").agg(count_distinct(col("sh")).as("n")))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
      .select(
        col("source_a"),
        col("source_b"),
        col("n_a"),
        col("n_b"),
        col("n_inter"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
  }

  /** KMV sketch size for [[kmvOverlap]] — small enough that the fixture
    * sources' trigram vocabularies exceed it (the estimator path is
    * exercised, not the degenerate exact path).
    */
  val KmvK = 128

  /** KMV-sketched cross-source overlap — the bounded-state twin of
    * [[sourceOverlap]]: each source is summarized by its k MINIMUM
    * distinct-trigram hash values (a KMV / bottom-k sketch, Bar-Yossef
    * et al. 2002), and pairwise Jaccard is estimated from sketches
    * alone as |U ∩ S_a ∩ S_b| / |U|, where U is the k smallest of
    * S_a ∪ S_b. Exact [[sourceOverlap]] shuffles the full per-source
    * shingle vocabulary; this shuffles it ONCE to build k-row sketches
    * and then never touches the corpus again — the shape that lets a
    * 1000-source overlap matrix refresh in seconds at 100 TB, at the
    * cost of ±O(1/√k) error (measured against the exact matrix in the
    * spec).
    *
    * Scale shape: the sketch build is one distinct + per-source top-k
    * (`row_number ≤ k` compiles to WindowGroupLimit: per-partition
    * group limits run BEFORE the shuffle, so no source's full
    * vocabulary is ever sorted in one task). Everything downstream —
    * the pair grid, the per-pair union top-k, the membership joins —
    * operates on source_count·k rows, bounded by the source count,
    * never the corpus. The pair grid is an explicit tiny cross join
    * (sources × sources), the same source-count-bounded expansion
    * [[sourceOverlap]] reaches through its per-shingle source sets.
    *
    * Determinism: md5-backed hashes are fixed; every top-k orders by
    * the hash value itself (distinct within a source and within a pair
    * union, so the order is total).
    */
  def kmvOverlap(s: SparkSession, dir: String): DataFrame =
    kmvOverlapOf(withToks(s, dir), cacheKey = Some(s"curate:kmv:$dir"))

  /** Vocabulary depth for [[jsDivergence]] — the top-K global tokens the
    * per-source distributions restrict to (total order: count desc,
    * token asc → TakeOrderedAndProject).
    */
  val JsVocabK = 300

  /** ln 2 spelled as ONE literal shared verbatim with the oracle — the
    * engines' ln(2.0) calls need not agree in the last bit.
    */
  val Ln2 = 0.6931471805599453

  /** Jensen-Shannon divergence between every source pair's token
    * DISTRIBUTION over the global top-[[JsVocabK]] vocabulary — the
    * distribution-level source-similarity matrix next to the set-level
    * [[kmvOverlapOf]]: two sources can share most of their vocabulary
    * (high KMV Jaccard) while USING it completely differently, and JS —
    * symmetric, bounded by ln 2, defined at zeros — is the standard way
    * a mixture designer measures that. Emitted in nats and bits
    * (bits ∈ [0, 1]).
    *
    * Scale shape: one tokenize+count picks the vocabulary
    * (TakeOrderedAndProject); per-source counts restrict to V (broadcast
    * semi-join), the zero-filled grid is sources×V bounded, and the
    * pair expansion is an equi-join on token with sources²·V rows —
    * never corpus-sized. Determinism: each per-token contribution
    * quantizes to decimal(38,9) before the order-free sum (x·ln x terms
    * are sub-1 — the StrictMath-vs-libm rule, with the integer image far
    * below 2^53); the final halving and bit conversion are two IEEE ops
    * with [[Ln2]] as a shared literal.
    */
  def jsDivergence(s: SparkSession, dir: String): DataFrame = {
    val tok = withToks(s, dir).select(col("source"), explode(col("toks")).as("t"))
    val v = tok.groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("t")).limit(JsVocabK).select("t")
    val sc = tok.join(broadcast(v), "t")
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    val ns = sc.groupBy("source").agg(sum(col("c")).as("n"))
    val grid = ns
      .crossJoin(broadcast(v))
      .join(sc, Seq("source", "t"), "left")
      .na.fill(0L, Seq("c"))
      .select(col("source"), col("t"),
        (col("c").cast("double") / col("n").cast("double")).as("p"))
    val pair = grid.select(col("source").as("source_a"), col("t"), col("p"))
      .join(grid.select(col("source").as("source_b"), col("t"), col("p").as("q")), "t")
      .filter(col("source_a") < col("source_b"))
    val m = (col("p") + col("q")) / 2.0
    val term =
      (when(col("p") > 0.0, col("p") * log(col("p") / m)).otherwise(0.0) +
        when(col("q") > 0.0, col("q") * log(col("q") / m)).otherwise(0.0))
        .cast("decimal(38,9)")
    pair
      .groupBy("source_a", "source_b")
      .agg(sum(term).as("s"))
      .select(
        col("source_a"), col("source_b"),
        (col("s").cast("double") / 2.0).as("js_nats"),
        (col("s").cast("double") / 2.0 / lit(Ln2)).as("js_bits"))
  }

  /** The k-row-per-source bottom-k sketch shared by [[kmvOverlapOf]] and
    * [[kmvSetAlgOf]] — the ONLY corpus-sized computation either makes.
    */
  /** `cacheKey` (catalog path): BOTH kmv queries share one memoized
    * sketch per application ([[graft.Ckpt.cached]]) — the returned
    * frames scan it lazily, so per-invocation checkpoints could never
    * be freed and accumulated under repeated gate/bench runs (r8
    * advice). The sketch is k-per-source bounded, so one cached
    * generation is tiny. Spec callers pass None.
    */
  private def kmvSketch(
      toks: DataFrame, cacheKey: Option[String]): DataFrame = {
    val sh = toks
      .select(col("source"), explode(TextHash.shingles(col("toks"), 3)).as("shs"))
      .select(col("source"), TextHash.hash60(col("shs")).as("sh"))
      .distinct()
    val wSrc = Window.partitionBy("source").orderBy("sh")
    val sk = sh.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= KmvK)
      .select("source", "sh")
    cacheKey.fold(Ckpt(sk))(k => Ckpt.cached(toks.sparkSession, k)(sk))
  }

  private[ops] def kmvOverlapOf(
      toks: DataFrame, cacheKey: Option[String] = None): DataFrame = {
    val sk = kmvSketch(toks, cacheKey)
    val srcs = sk.select("source").distinct()
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(srcs.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    val u = pairs
      .join(sk.select(col("source").as("source_a"), col("sh")), "source_a")
      .select("source_a", "source_b", "sh")
      .union(pairs
        .join(sk.select(col("source").as("source_b"), col("sh")), "source_b")
        .select("source_a", "source_b", "sh"))
      .distinct()
    val wPair = Window.partitionBy("source_a", "source_b").orderBy("sh")
    val topu = u
      .withColumn("rn", row_number().over(wPair))
      .filter(col("rn") <= KmvK)
      .select("source_a", "source_b", "sh")
    topu
      .join(sk.select(col("source").as("source_a"), col("sh"), lit(1).as("ia")),
        Seq("source_a", "sh"), "left")
      .join(sk.select(col("source").as("source_b"), col("sh"), lit(1).as("ib")),
        Seq("source_b", "sh"), "left")
      .groupBy("source_a", "source_b")
      .agg(
        count(lit(1)).as("k_union"),
        count(when(col("ia").isNotNull && col("ib").isNotNull, 1)).as("n_both"))
      .select(
        col("source_a"),
        col("source_b"),
        col("k_union"),
        col("n_both"),
        (col("n_both").cast("double") / col("k_union")).as("est_jaccard"))
  }

  /** Hash-space size for the KMV cardinality estimator: hash60 is
    * uniform on [0, 2^60), so `n̂ = (k-1)·2^60 / h_k`.
    */
  private val KmvSpace = 1152921504606846976L // 2^60

  /** Catalog entry: KMV set-algebra cardinalities across sources. */
  def kmvSetAlg(s: SparkSession, dir: String): DataFrame =
    kmvSetAlgOf(withToks(s, dir), cacheKey = Some(s"curate:kmv:$dir"))

  /** Set-ALGEBRA estimates from the same bottom-k sketches as
    * [[kmvOverlapOf]] — the planner's numbers rather than the analyst's
    * ratio: per source pair, estimated distinct-shingle cardinalities of
    * A, B, A∪B, A∩B, and both one-sided differences. `|A\B|` is the
    * question a corpus-acquisition decision actually asks ("how many NEW
    * shingles does source B add to what I already hold?"), and it
    * composes from two sketch reads — no second corpus pass, which is
    * the whole point at 100 TB (Bar-Yossef et al. 2002: the bottom-k
    * sketch of A∪B is computable from the sketches of A and B alone).
    *
    * Estimator: `n̂ = (k-1)·2^60 / h_k` when the sketch is full (h_k =
    * its max), the EXACT sketch size when not (fewer than k distinct
    * values means the sketch IS the set); `|A∩B| = Ĵ·|A∪B|` with Ĵ from
    * the union sketch; differences by inclusion with a zero clamp (an
    * estimator can go epsilon-negative, a set size cannot). Every
    * estimate quantizes onto the decimal(38,6) grid; the clamp then
    * subtracts two on-grid doubles — bit-identical in both engines.
    *
    * Scale shape: identical to [[kmvOverlapOf]] — everything after the
    * one sketch build is bounded by source_count·k rows.
    */
  private[ops] def kmvSetAlgOf(
      toks: DataFrame, cacheKey: Option[String] = None): DataFrame = {
    val sk = kmvSketch(toks, cacheKey)
    val sstats = sk.groupBy("source")
      .agg(count(lit(1)).as("cnt"), max("sh").as("maxh"))
    val srcs = sstats.select("source")
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(srcs.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    val u = pairs
      .join(sk.select(col("source").as("source_a"), col("sh")), "source_a")
      .select("source_a", "source_b", "sh")
      .union(pairs
        .join(sk.select(col("source").as("source_b"), col("sh")), "source_b")
        .select("source_a", "source_b", "sh"))
      .distinct()
    val wPair = Window.partitionBy("source_a", "source_b").orderBy("sh")
    val topu = u
      .withColumn("rn", row_number().over(wPair))
      .filter(col("rn") <= KmvK)
      .select("source_a", "source_b", "sh")
    val ustats = topu
      .join(sk.select(col("source").as("source_a"), col("sh"), lit(1).as("ia")),
        Seq("source_a", "sh"), "left")
      .join(sk.select(col("source").as("source_b"), col("sh"), lit(1).as("ib")),
        Seq("source_b", "sh"), "left")
      .groupBy("source_a", "source_b")
      .agg(
        count(lit(1)).as("k_union"),
        max("sh").as("umaxh"),
        count(when(col("ia").isNotNull && col("ib").isNotNull, 1)).as("n_both"))
    def est(cnt: Column, maxh: Column): Column =
      when(cnt < KmvK, cnt.cast("double"))
        .otherwise(lit((KmvK - 1).toDouble) * lit(KmvSpace).cast("double") /
          maxh.cast("double"))
    def grid(c: Column): Column = c.cast("decimal(38,6)").cast("double")
    ustats
      .join(sstats.select(col("source").as("source_a"),
        col("cnt").as("cnt_a"), col("maxh").as("maxh_a")), "source_a")
      .join(sstats.select(col("source").as("source_b"),
        col("cnt").as("cnt_b"), col("maxh").as("maxh_b")), "source_b")
      .select(
        col("source_a"), col("source_b"),
        grid(est(col("cnt_a"), col("maxh_a"))).as("est_a"),
        grid(est(col("cnt_b"), col("maxh_b"))).as("est_b"),
        grid(est(col("k_union"), col("umaxh"))).as("est_union"),
        grid((col("n_both").cast("double") / col("k_union").cast("double")) *
          est(col("k_union"), col("umaxh"))).as("est_inter"))
      .select(
        col("source_a"), col("source_b"),
        col("est_a"), col("est_b"), col("est_union"), col("est_inter"),
        greatest(lit(0.0), col("est_a") - col("est_inter")).as("est_a_only"),
        greatest(lit(0.0), col("est_b") - col("est_inter")).as("est_b_only"))
  }

  /** Preference-pair mining — the DPO/RLHF-style data factory step:
    * within each source, pair the HIGHEST-quality document (chosen)
    * with the LOWEST (rejected) under the [[TextAnalysis.quality]]
    * composite, emitting the pair with both scores and the margin. A
    * same-source pair holds topic/format roughly constant, so the
    * margin isolates the quality signal a preference model should
    * learn — the same argmax-under-tie discipline as
    * [[graft.ops.Dedup.clustersApplyQuality]], applied to ranking
    * rather than dedup. Sources with a single document cannot form a
    * pair and are dropped; ties break to the SMALLEST id for chosen
    * and the LARGEST id for rejected, so a fully-tied source still
    * yields a deterministic, distinct pair.
    *
    * Scale shape: one partial-aggregated shuffle keyed by source (two
    * struct-extrema + a count — no window over the corpus, no join
    * back); the quality scan is the only corpus-sized input. Margin is
    * the plain IEEE difference of two identically-built scores, so the
    * oracle agrees bit-for-bit.
    */
  def preferencePairs(s: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityShared(s, dir).select(col("doc_id"), col("quality_score"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .join(q, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        max(struct(col("quality_score").as("q"), (-col("doc_id")).as("nd"))).as("c"),
        min(struct(col("quality_score").as("q"), (-col("doc_id")).as("nd"))).as("r"))
      .filter(col("n_docs") >= 2)
      .select(
        col("source"),
        (-col("c.nd")).as("chosen_id"),
        (-col("r.nd")).as("rejected_id"),
        col("c.q").as("chosen_score"),
        col("r.q").as("rejected_score"),
        (col("c.q") - col("r.q")).as("margin"))
  }

  /** Pareto-frontier data selection: the documents no other document
    * dominates on (quality_score ↑, n_chars ↑) — "is there anything
    * both better AND longer?" is the honest form of a two-objective
    * curation cut, where any scalarized threshold (a weighted sum, a
    * quality floor) silently picks one trade-off ratio; the frontier
    * returns every undominated trade-off and lets the mixing stage
    * choose. Dominance: b dominates a iff b ≥ a on both axes and > on
    * at least one; ties on both axes dominate neither, so exact
    * duplicates all stay on the frontier.
    *
    * Scale shape — the classic 2-D maxima problem without the O(n²)
    * pair join OR a corpus-sized single-partition sort: scores quantize
    * onto the decimal(38,6) grid (the [[TextAnalysis.pplBuckets]] grid
    * discipline), so the per-score max-length table is bounded by the
    * SCORE RANGE (quality ∈ [0,1] → ≤ 10⁶+1 rows at any corpus size,
    * one partial-aggregated shuffle to build). The strict-prefix
    * running max runs over that bounded grid only; dominance for each
    * document is then a map-side comparison after one equi-join back.
    * A document is dominated iff some strictly-higher score reached at
    * least its length (prefix max) or its own score bucket exceeds its
    * length (same-score strict case).
    *
    * Determinism: grid doubles come from one exact decimal cast on both
    * engines; the 6-decimal grid spacing (10⁻⁶) is ~10 orders above
    * double epsilon at magnitude 1, so distinct grid values never
    * collapse and `<`/`=` agree bit-for-bit.
    *
    * Join-shape pin (r13 verdict item 5): the memoized quality input is
    * a LogicalRDD with no size stats, so the qs-grid join plans SMJ at
    * every SF — adjudicated benign (both sides are already shuffled on
    * qs; the grid side is score-range bounded). The hazard is a future
    * stats change silently BROADCASTING the corpus-sized checkpoint
    * side — an executor OOM at 100 TB — so PlanAuditSpec pins "no
    * broadcast whose build side scans a checkpoint" on this query, and
    * tools/sf1_profile.tsv pins SMJ=1 at both SFs.
    */
  def paretoFront(s: SparkSession, dir: String): DataFrame =
    paretoFrontOf(
      TextAnalysis.qualityShared(s, dir)
        .select(col("doc_id"), col("quality_score"))
        .join(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")), "doc_id")
        .select(
          col("doc_id"),
          col("quality_score").cast("decimal(38,6)").cast("double").as("qs"),
          col("n_chars")))

  /** Core of [[paretoFront]] over a pre-quantized (doc_id, qs, n_chars)
    * relation — split out so specs can feed constructed tie geometry.
    */
  private[ops] def paretoFrontOf(pts: DataFrame): DataFrame = {
    val j    = pts.transform(Ckpt.apply)
    val grid = j.groupBy("qs").agg(max(col("n_chars")).as("gmax"))
    val wPre = Window.orderBy(desc("qs"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = grid.withColumn("pmax", max(col("gmax")).over(wPre))
    j.join(pre, "qs")
      .filter(
        (col("pmax").isNull || col("pmax") < col("n_chars")) &&
          col("gmax") === col("n_chars"))
      .select(col("doc_id"), col("qs").as("quality_score"), col("n_chars"))
  }

  // ------------------------------------------------------------------- dsir

  /** DSIR feature space: hashed-bigram bucket count and the target slice
    * the importance weights steer toward. (Data Selection via Importance
    * Resampling, Xie et al. 2023 — hashed n-gram bag-of-features LMs for
    * the target and raw distributions; a document's log importance weight
    * is the sum of per-feature log probability ratios.)
    */
  val DsirBuckets    = 8192
  val DsirTargetLang = "en"

  /** DSIR importance weights: every document's bigrams hash into
    * [[DsirBuckets]] buckets; two smoothed unigram-over-buckets LMs are
    * fit (target = [[DsirTargetLang]] docs, raw = whole corpus) and each
    * doc scores `Σ_features ln p_target(b) − ln p_raw(b)` — docs whose
    * feature profile looks like the target slice get high weight and
    * survive the downstream resampling step.
    *
    * Scale shape: the corpus is TOKENIZED ONCE — the feature stream
    * immediately compacts to per-(doc, bucket) counts (one shuffle; at
    * most [[DsirBuckets]] rows per doc), and BOTH LMs, the totals, and
    * the per-doc rollup all derive from that compacted table instead of
    * re-scanning the text. The bucket-weight table is bounded by a
    * constant regardless of corpus size and legitimately broadcasts back
    * (unlike a token-level vocabulary, which grows by Heaps' law and
    * must not be broadcast — see [[TextAnalysis.unigramLm]]).
    * Determinism: counts are exact integers; each 4-ln ratio quantizes
    * through decimal(38,6) BEFORE the per-doc sum, and the grouped
    * `k·lw` products are exact decimal arithmetic, so the rollup equals
    * the per-occurrence sum bit-for-bit (the oracle sums occurrences).
    */
  def dsir(s: SparkSession, dir: String): DataFrame = {
    // The compacted per-(doc, bucket) feature table is MATERIALIZED (r15,
    // guide §8's decide-on-small-rows rule): both the LM fit and the
    // scoring rollup consume f, and without the checkpoint each ran the
    // tokenize + bigram-hash pass over the full text — two corpus scans
    // where one suffices. f is ≤ min(tokens, docs·DsirBuckets) rows of
    // three longs — at 100 TB a small fraction of the text it replaces —
    // so the operator becomes ONE corpus scan plus two passes over the
    // compact table (same bw-checkpoint discipline as the grid below;
    // values untouched — checkpointing is the identity).
    val f = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"), filter(Tokenize.tokenCol(col("text")), _ =!= "").as("toks"))
      .select(col("doc_id"), col("lang"), explode(TextHash.shingles(col("toks"), 2)).as("b"))
      .groupBy(col("doc_id"), col("lang"), (TextHash.hash60(col("b")) % DsirBuckets).as("bucket"))
      .agg(count(lit(1)).as("k"))
      .transform(Ckpt.apply)
    // BOTH LMs come out of one aggregation over the compacted table (raw
    // count + target count per bucket). The model table is bounded by the
    // CONSTANT DsirBuckets, so it is localCheckpoint'ed: the fit pass runs
    // exactly once and the totals/weights derive from the materialized
    // ≤B-row snapshot — the whole operator is two corpus scans (fit the
    // LMs, then score), the natural floor for a two-pass statistic that
    // doesn't materialize its feature stream.
    val bw = f
      .groupBy("bucket")
      .agg(
        sum(col("k")).as("cr"),
        sum(when(col("lang") === DsirTargetLang, col("k")).otherwise(0L)).as("ct"))
      .transform(Ckpt.apply)
    val tots = bw.agg(
      sum(col("cr")).cast("double").as("nr"),
      sum(col("ct")).cast("double").as("nt"))
    // per-bucket log ratio of the two Laplace-smoothed LMs, on the decimal
    // grid so the per-doc sum is exact and order-free
    val lw = (log(col("ct") + lit(1.0)) - log(col("nt") + lit(DsirBuckets.toDouble)) -
      log(col("cr") + lit(1.0)) + log(col("nr") + lit(DsirBuckets.toDouble)))
      .cast("decimal(38,6)")
    val weights = bw
      .crossJoin(broadcast(tots))
      .select(col("bucket"), lw.as("lw"))
    f.join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(
        sum(col("k")).as("n_feats"),
        sum(col("k") * col("lw")).cast("double").as("log_weight"),
        (sum(col("k") * col("lw")).cast("double") /
          sum(col("k")).cast("double")).as("mean_log_ratio"))
  }

  // ------------------------------------------------------------------ split

  /** Deterministic train/val/test assignment by md5-derived hash of the
    * doc id — reproducible across engines (the DuckDB oracle computes the
    * identical buckets), runs, and partitionings. Per-(lang, split)
    * counts and char totals.
    */
  def split(s: SparkSession, dir: String): DataFrame = {
    val bucket = TextHash.hash60(concat(lit("split:"), col("doc_id").cast("string"))) % 100
    Tables
      .documents(s, dir)
      .withColumn(
        "split",
        when(bucket < TrainPct, "train").when(bucket < ValPct, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Per-event-type sampling rates in permille for [[stratified]] — the
    * unlisted types fall to [[StratDefaultPermille]]. Downsampling the
    * flood types hard while keeping the rare ones is how a 100 TB event
    * log becomes a tractable analysis table without losing the tail.
    */
  val StratRates: Seq[(String, Int)] = Seq("click" -> 50, "view" -> 20, "purchase" -> 500)
  val StratDefaultPermille           = 100

  /** Stratified deterministic sampling: each event type keeps its own
    * hash-bucket rate. Like [[split]] this is pure projection + one
    * aggregation — membership is a function of the row alone, so the
    * sample is reproducible across runs, partitionings, and engines, and
    * two pipelines sampling the same log independently select the SAME
    * rows (the property random() sampling can never give you).
    */
  def stratified(s: SparkSession, dir: String): DataFrame = {
    val bucket = TextHash.hash60(concat(lit("strat:"), col("event_id").cast("string"))) % 1000
    val rate = StratRates
      .foldLeft(lit(StratDefaultPermille)) { case (acc, (t, r)) =>
        when(col("event_type") === t, r).otherwise(acc)
      }
    Tables
      .events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(bucket < rate, 1)).as("n_sampled"),
        max(rate).cast("long").as("rate_permille"))
  }

  // ----------------------------------------------------------------- chunks

  /** Fixed-size token windows: (doc, chunk ordinal, tokens in chunk).
    * posexplode → integer-division bucket → count; the last chunk per doc
    * is the only one allowed to be short.
    */
  def chunks(s: SparkSession, dir: String): DataFrame =
    withToks(s, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "t")))
      .select(col("doc_id"), expr(s"pos div $ChunkSize").cast("long").as("chunk_id"))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_tokens"))

  // ------------------------------------------------------------------ tfidf

  /** Top-[[TfidfK]] terms per document by tf-idf with the rational score
    * tf·N/df (monotone in the log formulation for fixed N, but exactly
    * one IEEE division — bit-reproducible cross-engine, no transcendental
    * parity traps). N is the corpus size, resolved driver-side (a
    * metadata-only count).
    */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(s, dir).count()
    val tc = withToks(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy("doc_id", "t")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tc.groupBy("t").agg(count_distinct(col("doc_id")).as("df"))
    val score = (col("tf") * lit(nDocs)).cast("double") / col("df")
    val w     = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    tc.join(dfreq, "t")
      .select(col("doc_id"), col("t").as("term"), score.as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TfidfK)
  }

  // -------------------------------------------------------------- centroids

  /** One k-means assignment step: every vector goes to its argmax-cosine
    * centroid (ties → lowest centroid id); per-centroid counts and mean
    * cosine. At fixture K the centroid vectors ship as literals, so
    * assignment is a scan-side projection — no join, no shuffle except
    * the K-row final aggregation. Past
    * [[Similarity.IvfLiteralBudget]] centroids (a real k-means uses
    * hundreds+) the assignment switches to a broadcast join + per-vector
    * argmax — same results bit-for-bit (asserted in CurationSpec).
    */
  def centroidAssign(s: SparkSession, dir: String): DataFrame =
    assignImpl(s, dir, literal = KCentroids <= Similarity.IvfLiteralBudget)

  private[ops] def assignImpl(s: SparkSession, dir: String, literal: Boolean): DataFrame =
    assignVectors(s, dir, literal)
      .groupBy("centroid")
      .agg(
        count(lit(1)).as("n_assigned"),
        (sum(col("cos").cast("decimal(38,6)")).cast("double") / count(lit(1))).as("avg_cos"))

  /** Bottom-k per cluster for [[embedOutliers]]. */
  val OutlierK = 5

  /** Embedding-space outlier audit: the [[OutlierK]] WORST-explained
    * members of each cluster (lowest cosine to their own argmax
    * centroid) — the vectors a curation pass inspects first: encoder
    * failures, off-distribution content, or the seed of a cluster the
    * current K cannot express. Reuses [[assignVectors]]'s scan-side
    * assignment, then runs per-centroid bottom-k through the bounded-heap
    * [[graft.plans.GroupedTopK]] exec rather than a
    * `Window.partitionBy(centroid)` — K is small, so a window would
    * funnel the whole corpus into K tasks' sorts; the heap keeps k rows
    * per centroid per partition and shuffles only #partitions·K·k rows.
    */
  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    val assigned = assignVectors(s, dir, literal = KCentroids <= Similarity.IvfLiteralBudget)
    graft.plans.GroupedTopK
      .topK(assigned, Seq("centroid"), Seq("cos" -> true, "vec_id" -> true), OutlierK)
      .select(col("centroid"), col("vec_id"), col("cos"), col("rn"))
  }

  /** Per-vector argmax-cosine assignment (vec_id, centroid, cos) — the
    * shared front half of [[centroidAssign]] and [[kmeansIter]].
    */
  /** Centroids needed to hold expected cluster occupancy near
    * `targetCluster` vectors for an n-row table. Cluster-then-rank
    * (SemDeDup) compares all pairs WITHIN a cluster, so per-cluster work
    * is occupancy²/2 and total candidate volume is n·occupancy/2 —
    * constant occupancy keeps it LINEAR in n, while a fixed K degenerates
    * toward all-pairs (n²/K) as the corpus grows. The k-means catalog
    * queries keep the fixed [[KCentroids]] (their oracle pins the
    * centroid set); [[graft.ops.Dedup.semantic]] derives its K here.
    */
  def centroidsFor(n: Long, targetCluster: Int = 64): Int =
    // integer-exact ceil(n / targetCluster) — the DuckDB twin evaluates
    // the same (n + t - 1) / t, so derived K agrees at every scale
    math.max(1, ((n + targetCluster - 1) / targetCluster).toInt)

  private[ops] def assignVectors(s: SparkSession, dir: String, literal: Boolean,
      k: Int = KCentroids): DataFrame = {
    val e = Tables
      .embeddings(s, dir)
      .select(
        col("vec_id"),
        col("embedding"),
        sqrt(VectorFunctions.dotF(col("embedding"), col("embedding"))).as("norm"))
    val perVec =
      if (literal) {
        val cents: Seq[(Long, Seq[Float], Double)] = Tables
          .embeddings(s, dir)
          .filter(col("vec_id") < k)
          .select("vec_id", "embedding")
          .collect()
          .map { r =>
            val v = r.getSeq[Float](1)
            // same left-to-right double fold as FloatDotProduct / DuckDB
            // list_inner_product — centroid norms must be bit-identical
            val norm = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
            (r.getLong(0), v, norm)
          }
          .sortBy(_._1)
          .toSeq
        val scored = e.select(
          col("vec_id") +: cents.map { case (cid, v, cnorm) =>
            (VectorFunctions.dotF(col("embedding"), typedLit(v)) / (col("norm") * lit(cnorm)))
              .as(s"cos_$cid")
          }: _*)
        val best = greatest(cents.map { case (cid, _, _) => col(s"cos_$cid") }: _*)
        val assigned = cents.foldRight(lit(null).cast("long")) { case ((cid, _, _), els) =>
          when(col(s"cos_$cid") === best, lit(cid)).otherwise(els)
        }
        scored.select(col("vec_id"), assigned.as("centroid"), best.as("cos"))
      } else {
        // broadcast-join path: centroids never touch the driver. The
        // per-vector argmax is max(struct(cos, -cid)) — lexicographic max
        // picks the highest cosine and, on exact ties, the LOWEST cid,
        // matching the literal path's first-match-wins fold.
        val cent = Tables
          .embeddings(s, dir)
          .filter(col("vec_id") < k)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
          .withColumn("cnorm", sqrt(VectorFunctions.dotF(col("cemb"), col("cemb"))))
        e.crossJoin(broadcast(cent))
          .withColumn("ccos",
            VectorFunctions.dotF(col("embedding"), col("cemb")) / (col("norm") * col("cnorm")))
          .groupBy("vec_id")
          .agg(max(struct(col("ccos").as("cos"), (-col("cid")).as("negcid"))).as("bestc"))
          .select(
            col("vec_id"),
            (-col("bestc")("negcid")).as("centroid"),
            col("bestc")("cos").as("cos"))
      }
    perVec
  }

  /** One full Lloyd (k-means) iteration: the [[assignVectors]] assignment
    * step, then the UPDATE step — each cluster's new centroid as the
    * per-dimension mean of its members. posexplode fans the assigned
    * vectors into (centroid, dim, value) triples and one shuffle
    * partial-aggregates the decimal-exact sums; the output is K×dims rows
    * at any corpus size, so iterating (assign → update → re-literal /
    * re-broadcast) never grows driver state beyond the centroid table
    * itself. Dimensions are 1-based to match SQL `generate_subscripts`.
    */
  def kmeansIter(s: SparkSession, dir: String): DataFrame =
    kmeansIterImpl(s, dir, literal = KCentroids <= Similarity.IvfLiteralBudget)

  private[ops] def kmeansIterImpl(s: SparkSession, dir: String, literal: Boolean): DataFrame =
    assignVectors(s, dir, literal)
      .select("vec_id", "centroid")
      .join(Tables.embeddings(s, dir).select("vec_id", "embedding"), "vec_id")
      .select(col("centroid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("centroid"), (col("pos") + 1).cast("long").as("dim"))
      .agg((sum(col("x").cast("double").cast("decimal(38,6)")).cast("double") / count(lit(1)))
        .as("mean_val"))

  /** Per-label mean embedding, emitted as (label, dim, mean_val) rows —
    * the class-centroid computation that seeds clustering / probes
    * embedding drift. posexplode fans each vector into (position, value)
    * pairs, one shuffle on (label, dim) partial-aggregates the decimal
    * sums; 10 labels × 64 dims = 640 output rows at any corpus size.
    * Dimensions are 1-based to match SQL `generate_subscripts`.
    */
  def labelMeanEmbedding(s: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg((sum(col("x").cast("double").cast("decimal(38,6)")).cast("double") / count(lit(1)))
        .as("mean_val"))

  /** Exact d×d covariance matrix of the embedding columns (upper
    * triangle, 1-based dims) — the one-pass input to whitening/PCA and
    * the standard drift check between two embedding snapshots
    * ("did the encoder's output distribution move?").
    *
    * Scale shape: the pair expansion is ROW-LOCAL (posexplode of each
    * vector against its own tail slice — no join, no shuffle of
    * payloads) and d²-bounded per row; partial aggregation collapses
    * every partition onto the d(d+1)/2-cell grid before the only
    * shuffle, so shuffle volume is partitions × d² regardless of corpus
    * size. Determinism: a float×float product is EXACT in double
    * (24-bit mantissas), quantized onto a LONG grid — `floor(x·10⁹)` —
    * before the order-free integer sum. floor of a double is the same
    * IEEE operation in both engines (no tie-breaking rule to agree on),
    * and the long-grid sum stays inside whole-stage codegen where a
    * decimal(38,_) sum would fall to BigDecimal per term — measured 13.8
    * → ~1 s at sf0.1 across the 125M quantized terms. Overflow bound:
    * |Σ| ≤ n·max|xi·xj|·10⁹, so with |x| ≲ 1 the grid holds to ~9 B
    * vectors per cell; re-quantize through decimal(38,0) past that.
    */
  def covariance(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.embeddings(s, dir)
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("p", "xi")))
      .select(col("p"), col("xi").cast("double").as("xi"),
        posexplode(expr("slice(embedding, p + 1, size(embedding) - p)"))
          .as(Seq("q", "xj")))
      .select(col("p"), col("q"), col("xi"), col("xj").cast("double").as("xj"))
    val a = cells
      .groupBy((col("p") + 1).cast("long").as("dim_i"),
        (col("p") + col("q") + 1).cast("long").as("dim_j"))
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("xi") * col("xj") * lit(1e9))).as("sij9"),
        sum(floor(col("xi") * lit(1e6))).as("si6"),
        sum(floor(col("xj") * lit(1e6))).as("sj6"))
    a.select(col("dim_i"), col("dim_j"), col("n"),
      (((col("sij9").cast("double") / lit(1e9)) -
        (col("si6").cast("double") / lit(1e6)) *
          (col("sj6").cast("double") / lit(1e6)) / col("n")) /
        (col("n") - 1)).as("cov"))
  }

  /** Fixed power-iteration count for [[pcaTop]] (unrolled in the oracle). */
  val PcaIterations = 8

  /** Top principal component of the embedding columns by power iteration
    * over the [[covariance]] grid — the first step of whitening / PCA
    * compression and the standard "one direction explains the drift"
    * probe between encoder snapshots. Emits (dim, loading, eigval) where
    * eigval is the Rayleigh quotient vᵀCv of the final iterate.
    *
    * Scale shape: the corpus is touched ONCE (the covariance one-pass,
    * d²-bounded shuffle); everything after operates on the d²-cell grid,
    * which is dims-bounded — independent of corpus size — so the
    * iteration runs driver-side on the collected grid (the K-bounded
    * collect pattern), with [[pcaTopDistributed]] as the bit-equal
    * all-joins twin for a d too large to collect.
    *
    * Determinism: the covariance entries are already engine-identical
    * doubles (decimal-exact sums); each matrix-vector term `c·x` and each
    * squared norm term quantize onto the decimal(38,12) grid before
    * their order-free sums, and the normalization division is one IEEE
    * op — so all [[PcaIterations]] iterates are bit-identical in both
    * engines and convergence is irrelevant to parity. The deterministic
    * uniform start vector (1/√d) has nonzero overlap with the top
    * eigenspace of a covariance matrix in practice; sign is pinned by
    * the start vector, not by an arbitrary convention.
    */
  def pcaTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one corpus pass; the result grid is dims-bounded (d(d+1)/2 cells),
    // so pulling it to the driver is a K-bounded collect — the k-means
    // centroid pattern, NOT a corpus collect. The iteration itself is
    // O(d²·T) scalar work: running it driver-side replaces ~3 tiny
    // scheduled jobs per round with arithmetic that bit-mirrors the
    // engines' semantics (quantizeGrid == Spark's double→decimal(38,12)
    // cast: shortest-decimal reading, HALF_UP); the distributed twin
    // [[pcaTopDistributed]] is spec-pinned bit-equal for the (cluster-
    // scale-d) regime where even d² stays distributed.
    val cells = covariance(s, dir)
      .select(col("dim_i"), col("dim_j"), col("cov"))
      .as[(Long, Long, Double)].collect()
    val d = cells.iterator.map(_._2).max.toInt
    val c = Array.ofDim[Double](d, d)
    cells.foreach { case (i, j, x) =>
      c(i.toInt - 1)(j.toInt - 1) = x
      c(j.toInt - 1)(i.toInt - 1) = x
    }
    def quantizeGrid(x: Double): java.math.BigDecimal =
      new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(12, java.math.RoundingMode.HALF_UP)
    def decSum(xs: Iterator[Double]): Double =
      xs.map(quantizeGrid).foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
    def matVec(x: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => decSum((0 until d).iterator.map(j => c(i)(j) * x(j))))
    var x = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to PcaIterations) {
      val y   = matVec(x)
      val nrm = math.sqrt(decSum(y.iterator.map(v => v * v)))
      x = y.map(_ / nrm)
    }
    val yf  = matVec(x)
    val lam = decSum(x.iterator.zip(yf.iterator).map { case (a, b) => a * b })
    s.createDataFrame((1 to d).map(i => (i.toLong, x(i - 1), lam)))
      .toDF("dim", "loading", "eigval")
  }

  /** The fully distributed twin of [[pcaTop]] — every iteration is one
    * equi-join on the dim key plus a partial-aggregated decimal sum over
    * the d²-row grid, normalization via crossJoin against a broadcast
    * 1-row aggregate. Bit-equal to the driver-side iterate (spec-pinned);
    * the shape to switch to if d² itself outgrows one machine.
    */
  def pcaTopDistributed(s: SparkSession, dir: String): DataFrame = {
    val cov = covariance(s, dir).transform(Ckpt.apply)
    val fullM = cov.select(col("dim_i").as("i"), col("dim_j").as("j"), col("cov").as("c"))
      .union(cov.filter(col("dim_i") =!= col("dim_j"))
        .select(col("dim_j").as("i"), col("dim_i").as("j"), col("cov").as("c")))
      .transform(Ckpt.apply)
    Ckpt.free(cov)
    val d = fullM.select(col("i")).distinct().count()
    def matVec(v: DataFrame): DataFrame = fullM
      .join(v.select(col("i").as("j"), col("x")), "j")
      .select(col("i"), (col("c") * col("x")).cast("decimal(38,12)").as("t"))
      .groupBy("i")
      .agg(sum(col("t")).cast("double").as("y"))
    var v = fullM.select(col("i")).distinct()
      .withColumn("x", lit(1.0 / math.sqrt(d.toDouble)))
      .transform(Ckpt.apply)
    for (_ <- 1 to PcaIterations) {
      val y = matVec(v)
      val nrm = y.agg(
        sqrt(sum((col("y") * col("y")).cast("decimal(38,12)")).cast("double")).as("nrm"))
      val next = y.crossJoin(broadcast(nrm))
        .select(col("i"), (col("y") / col("nrm")).as("x"))
        .transform(Ckpt.apply)
      Ckpt.free(v)
      v = next
    }
    val lam = matVec(v).join(v, "i")
      .agg(sum((col("x") * col("y")).cast("decimal(38,12)")).cast("double").as("eigval"))
    v.crossJoin(broadcast(lam))
      .select(col("i").as("dim"), col("x").as("loading"), col("eigval"))
  }

  // ------------------------------------------------------------- seq pack

  /** Packing geometry: documents are distributed across
    * `ceil(n_docs / PackDocsPerLane)` independent lanes and packed into
    * shards of [[PackCapacity]] tokens. The lane count GROWS with the
    * corpus — a constant would cap the packing stage's parallelism
    * forever; deriving it from the row count keeps ~[[PackDocsPerLane]]
    * docs per lane-sort at any scale (sf0.001 → 4 lanes, sf0.1 → 40, a
    * 1B-doc corpus → ~8M).
    */
  val PackDocsPerLane = 128
  val PackCapacity    = 512

  /** Lane count for an `n`-document corpus (same formula as the oracle). */
  def packLanes(n: Long): Long = (n + PackDocsPerLane - 1) / PackDocsPerLane

  /** Sequence packing: assign every document to a training shard of
    * ~[[PackCapacity]] tokens. Documents land in a deterministic lane
    * (hash60 of the doc id mod the derived lane count), are ordered
    * totally within the lane (hash, then unique doc_id), and a doc
    * belongs to the shard where its exclusive running token count starts
    * — the standard streaming first-fit approximation (a doc spanning a
    * boundary stays in the shard it started in, so shards can overflow by
    * at most one document).
    *
    * Scale shape: the cumulative sum is windowed PER LANE and the lane
    * count scales with the input — never a global single-partition
    * window, never a fixed parallelism ceiling. The lane count itself is
    * a count(*) over parquet footers (metadata-only), broadcast as one
    * row. One shuffle on the lane key, then a partial-aggregated rollup
    * per shard.
    */
  def seqPack(s: SparkSession, dir: String): DataFrame = {
    val h = TextHash.hash60(concat(lit("pack:"), col("doc_id").cast("string")))
    val lanes = Tables
      .documents(s, dir)
      .agg(expr(s"(count(*) + ${PackDocsPerLane - 1}) div $PackDocsPerLane").as("lanes"))
    val w = Window.partitionBy("bucket").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    withToks(s, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("nt"))
      .withColumn("h", h)
      .crossJoin(broadcast(lanes))
      .withColumn("bucket", col("h") % col("lanes"))
      .withColumn("cum", coalesce(sum(col("nt")).over(w), lit(0L)))
      .select(col("bucket"), expr(s"cum div $PackCapacity").as("shard_id"), col("nt"))
      .groupBy("bucket", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
  }

  // -------------------------------------------------------------- pii scrub

  /** Identifier runs (the fixtures' stand-in for PII: digit sequences in
    * customer/supplier names and raw event props). A real deployment swaps
    * the pattern set for email/phone/SSN regexes — the plan shape (scan →
    * regexp project → partial agg) is identical.
    */
  val PiiPattern = "[0-9]+"

  /** Redaction audit: per source table, row count, total identifier runs
    * redacted, and the distinct masked forms that remain. One scan per
    * table, no joins; the masking itself ([[PiiPattern]] → `<ID>`) is the
    * projection a cleaning pipeline would write back out.
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, tbl: String, c: Column): DataFrame =
      df.select(
        lit(tbl).as("tbl"),
        regexp_replace(c, PiiPattern, "<ID>").as("masked"),
        size(regexp_extract_all(c, lit(PiiPattern), lit(0))).cast("long").as("runs"))
    audit(Tables.customer(s, dir), "customer", col("c_name"))
      .unionAll(audit(Tables.supplier(s, dir), "supplier", col("s_name")))
      .unionAll(audit(Tables.events(s, dir), "events", col("props")))
      .groupBy("tbl")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("runs")).as("n_redacted"),
        count_distinct(col("masked")).as("n_forms"))
  }

  /** Contiguous global ID assignment (1..n in corpus order) — the shard /
    * example numbering every packed training run needs.
    *
    * The naive formulation, `row_number() OVER (ORDER BY doc_id)`, is a
    * scale-killer: an empty PARTITION BY makes Spark coalesce the whole
    * table into ONE task for the window sort. The scalable shape keeps
    * the sort parallel: (1) a range-partitioned parallel sort (sampled
    * split points; RangePartitioner guarantees partition i holds keys
    * below partition i+1's), (2) per-partition local ranks via a window
    * PARTITIONED BY `spark_partition_id()` (every partition numbers
    * itself independently — no single-task stage), and (3) a cumulative
    * per-partition row-count offset, a partitions-count-bounded table
    * that broadcasts back in. `offset + local rank` is the exact global
    * rank, independent of where the sampled range bounds happened to
    * fall. All DataFrame, all codegen — the r6 RDD
    * sort+zipWithIndex formulation computed the same thing outside
    * Catalyst (and tripped ClosureCleaner under the test harness's
    * classloader).
    */
  def globalIds(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables
      .documents(s, dir)
      .select(col("doc_id"))
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val offsets = parts
      .groupBy("pid")
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "offset",
        coalesce(
          sum("cnt").over(
            Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "offset")
    val local = Window.partitionBy("pid").orderBy("doc_id")
    parts
      .withColumn("rn", row_number().over(local).cast("long"))
      .join(broadcast(offsets), "pid")
      .select(col("doc_id"), (col("offset") + col("rn")).as("global_id"))
  }

  /** BM25 parameters: the standard Robertson defaults, plus the top-k
    * depth per query.
    */
  val BmK1 = 1.2
  val BmB  = 0.75
  val BmK  = 5

  /** BM25 retrieval: every [[BenchmarkSource]] document as a query,
    * scored against the rest of the corpus; top-[[BmK]] hits each. The
    * retrieval primitive behind dedup-by-retrieval, contamination
    * triage, and RAG-style corpus search.
    *
    * idf is the RATIONAL form `(N - df + 0.5) / (df + 0.5)` — log-free
    * for the same reason text_tfidf's score is `tf·N/df`: `ln` is libm-
    * dependent and the last ulp differs across engines, while a fixed
    * tree of IEEE +,-,·,/ on exact integer inputs is bit-identical
    * everywhere. Rankings stay monotone per term; per-(query,doc) term
    * sums quantize onto the decimal(38,12) grid so the fold is
    * order-free (the catalog's sum rule).
    *
    * Scale shape — impact-scored postings, the inverted-index design:
    * the per-(doc, term) score `idf·sat` depends ONLY on corpus-side
    * quantities (tf, dl, df, N, avgdl), so it is fully precomputed on
    * the postings BEFORE the query join. The hot-term equi-join (a
    * stopword posting matches every query containing it — the
    * irreducible |q∩d|-pair cost of exact BM25) then carries three
    * narrow columns `(t, doc_id, ci)` instead of dragging df/dl/stats
    * joins through the blow-up. Per-query top-k windows over `q_doc`
    * (cardinality = |queries|, not |corpus|).
    *
    * Impacts are QUANTIZED to longs (floor onto a 1e-6 grid) — the same
    * trick production engines use (Lucene stores quantized impacts):
    * the pair-blowup aggregation sums primitive longs inside whole-stage
    * codegen instead of running millions of BigDecimal adds (the first
    * cut used decimal(38,12) term sums and spent 18 s at sf0.1 on
    * BigDecimal arithmetic alone; longs run the same rows in ~2 s).
    * floor (not cast) because Spark's double→long cast truncates toward
    * zero while DuckDB's rounds — floor is IEEE-exact and identical in
    * both engines. Headroom: |ci| ≤ idf_max·(k1+1)·1e6; with per-query
    * term counts in the hundreds the long sum is safe while
    * idf_max ≲ 1e10 — beyond that (df=1 terms in a 10¹⁰-doc corpus),
    * widen the quantum.
    *
    * WHY NOT query-term df pruning (the WAND-ish "drop idf≈0 stopwords"
    * cut): measured at sf0.1, every hot query term has df/N ≈ 0.78 —
    * idf ≈ 0.28, a material score contribution, never ≈ 0 (idf ≈ 0
    * needs df ≈ N, which no term reaches). Empirically, pruning
    * df > N/2 terms keeps only 20 of 1250 top-k rows at sf0.1 (2/125
    * at sf0.01) — it rewrites the answer, it doesn't approximate it.
    * The speed levers used instead are all output-identical plan
    * shapes: quantized long impacts, the codegen'd sorted-merge dense
    * scorer ([[bm25]]), and the map-side-combined postings join
    * ([[bm25Postings]]).
    */
  /** Shared corpus side: quantized-long impact postings (t, doc_id, ci),
    * plus the distinct (q_doc, t) query-term table.
    */
  /** Memoized (doc, source, term) → tf table — ONE tokenize + ONE
    * (doc_id, t) shuffle per session serving the bm25 dense scorer, the
    * bm25 sparse twin, AND [[rrfFusion]]'s lexical branch (r15, guide
    * §2.4: each used to re-tokenize the corpus per invocation). Source
    * rides as a functionally-dependent passenger so the benchmark-split
    * filters stay cheap scans.
    */
  private[graft] def tfAllShared(s: SparkSession, dir: String): DataFrame =
    Ckpt.cached(s, s"curate:tf:$dir")(withToks(s, dir)
      .select(col("doc_id"), col("source"), explode(col("toks")).as("t"))
      .groupBy("doc_id", "source", "t")
      .agg(count(lit(1)).as("tf")))

  private[graft] def bm25Parts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tfAll = tfAllShared(s, dir)
    val tf = tfAll.filter(col("source") =!= BenchmarkSource).drop("source")
    // dl derives from tf (sum of term frequencies = token count), not
    // from a second pass over the raw token stream.
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    // tfAll rows are already distinct per (doc, term) — the projection IS
    // the distinct query-term table
    val qterms = tfAll
      .filter(col("source") === BenchmarkSource)
      .select(col("doc_id").as("q_doc"), col("t"))
    val idf = (col("n") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val sat = (col("tf").cast("double") * lit(BmK1 + 1)) /
      (col("tf").cast("double") +
        lit(BmK1) * (lit(1 - BmB) + lit(BmB) * (col("dl").cast("double") / col("avgdl"))))
    val postings = tf
      .join(dfreq, "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("t"), col("doc_id"), floor((idf * sat) * lit(1000000.0)).as("ci"))
    (postings, qterms)
  }

  /** Per-query top-k through the bounded-heap [[graft.plans.GroupedTopK]]
    * exec directly (not via the window-rewrite rule, so the shape holds
    * in ANY session): Spark's InferWindowGroupLimit pair still fully
    * SORTS the |Q|·|D| candidate rows inside each task before limiting —
    * measured ~3 s of the old 8 s at sf0.1 — while the heap retains only
    * k rows per query and shuffles #partitions·|Q|·k rows.
    */
  private def bm25TopK(scored: DataFrame): DataFrame =
    graft.plans.GroupedTopK.topK(
      scored, Seq("q_doc"), Seq("score" -> false, "doc_id" -> true), BmK)

  /** Dense-regime scorer (the catalog query): the per-doc impact map and
    * a BROADCAST of per-query term arrays, with each (q, d) score
    * computed directly by a codegen'd `aggregate()` over the query's
    * terms — ZERO pair-level shuffle. Chosen because this corpus is
    * measurably dense: at sf0.1 every query shares ~17 terms with every
    * doc, so the postings equi-join materializes ~21M pair rows whose
    * 21M-row partial aggregation (into |Q|·|D| ≈ 1.2M groups — nearly
    * every pair exists) dominated the old runtime. Here the same exact
    * long sums happen map-side over |D| rows × |q̄| map lookups, and the
    * only shuffled rows are the final per-query top-k candidates.
    *
    * Regime boundary, for a 100 TB corpus: this shape costs |Q|·|D|
    * lookups and wins while queries overlap most docs (avg |q∩d| ≥ 1 —
    * contamination triage, benchmark retrieval, anything stopword-laden);
    * [[bm25Postings]] costs Σ_{t∈q} df(t) pair rows and wins for
    * rare-term (needle) queries. Both are EXACT — identical quantized
    * sums, same top-k (equality pinned by CurationSpec at two SFs) —
    * so an engine can pick by a one-row density estimate without
    * changing any answer. The no-overlap guard (`hit`) keeps zero-score
    * (q, d) pairs out, matching the equi-join formulation which never
    * materializes them.
    */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    val (postings, qterms) = bm25Parts(s, dir)
    // parallel sorted arrays per doc: array_sort on struct(t, ci) orders
    // by t (unique per doc from the tf grouping), then the two transforms
    // split keys from values — per-doc work, off the pair hot path
    val docArrs = postings
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("t"), col("ci")))).as("ents"))
      .select(
        col("doc_id"),
        transform(col("ents"), e => e.getField("t")).as("dts"),
        transform(col("ents"), e => e.getField("ci")).as("cis"))
    val qArrs = qterms.groupBy("q_doc").agg(array_sort(collect_list(col("t"))).as("qts"))
    val sci = graft.functions.SortedKeySumFunction
      .sortedKeySum(col("dts"), col("cis"), col("qts"))
    // the expansion stage outputs |Q|× its input rows, so partition count
    // must follow COMPUTE, not input bytes: AQE's size-based coalescing
    // sees a few MB of doc arrays, folds the stage to ONE task, and
    // serializes the whole |Q|·|D| merge-scan (measured: 3.2 s of a 4.4 s
    // run in one task). Round-robin with an explicit count is the one
    // shuffle AQE may not coalesce and the optimizer may not elide (a
    // doc_id repartition is dropped as redundant against the groupBy's
    // own exchange, which IS coalescible); it moves only the |D|-row
    // array table.
    val scored = docArrs
      .repartition(s.sessionState.conf.numShufflePartitions)
      .crossJoin(broadcast(qArrs)) // queries are a benchmark set: small by contract
      .select(col("q_doc"), col("doc_id"),
        (sci.cast("double") / lit(1000000.0)).as("score"))
    // NULL score = empty term intersection: such a pair never existed in
    // the postings-join formulation, so it must not reach the output.
    // Filtering AFTER the top-k (k·|Q| rows) rather than before keeps the
    // merge-scan evaluated ONCE: a pre-join filter is pushed into the
    // nested-loop join condition and re-evaluates the expression per pair.
    // Ranks are unaffected — score DESC is NULLS LAST, so every real hit
    // outranks every null and row numbers 1..m are identical either way.
    bm25TopK(scored).filter(col("score").isNotNull)
  }

  /** Sparse-regime scorer: impact-scored postings equi-join on the term,
    * pair rows combined map-side under a doc_id-local repartition with a
    * packed-long group key. Cost is Σ_{t∈q} df(t) — far below |Q|·|D|
    * when queries are rare-term. Kept as the second half of the exact
    * dense/sparse pair (see [[bm25]]); CurationSpec pins bit-identical
    * output between the two.
    *
    * The packed key is q_doc·2³¹ + doc_id, exact while q_doc < 2³² and
    * doc_id < 2³¹; outside that envelope the guard fails LOUDLY (the
    * LSH dimension-drift discipline) — swap back to
    * groupBy("q_doc", "doc_id") for identical semantics beyond it.
    */
  private[graft] def bm25Postings(s: SparkSession, dir: String): DataFrame = {
    val (postingsRaw, qterms) = bm25Parts(s, dir)
    // doc_id-only partitioning: every (q_doc, doc_id) group is task-local
    // after the pair blowup, so the partial aggregation combines
    // completely map-side and the blowup's rows never shuffle.
    val postings = postingsRaw.repartition(col("doc_id"))
    val packGuard = when(
      col("q_doc") >= 0 && col("q_doc") < lit(1L << 32) &&
        col("doc_id") >= 0 && col("doc_id") < lit(1L << 31),
      shiftleft(col("q_doc"), 31) + col("doc_id"))
      .otherwise(raise_error(lit("bm25: doc ids outgrow the packed (q_doc, doc_id) group key")))
    val scored = broadcast(qterms)
      .join(postings, "t")
      .select(packGuard.as("qd"), col("ci"))
      .groupBy("qd")
      .agg((sum("ci").cast("double") / lit(1000000.0)).as("score"))
      .select(
        shiftright(col("qd"), 31).as("q_doc"),
        (col("qd") - shiftleft(shiftright(col("qd"), 31), 31)).as("doc_id"),
        col("score"))
    bm25TopK(scored)
  }

  /** RRF dampening constant — 60 is the value from Cormack et al. 2009
    * (exact in binary, so `1/(60+rank)` is one exactly-rounded division
    * on both engines).
    */
  val RrfC = 60

  /** Hybrid retrieval via Reciprocal Rank Fusion: for each of the first
    * [[Similarity.NumQueryVecs]] documents (vec_id ≡ doc_id in the
    * fixture tables), fuse its BM25 lexical neighbor list with its
    * embedding-cosine semantic neighbor list by
    * `Σ 1/(RrfC + rank)` — the score-free combiner that needs no
    * cross-system score calibration, which is exactly why hybrid search
    * uses it: BM25 impacts and cosines live on incomparable scales.
    * Lexical side: the [[bm25]] impact formula over the WHOLE corpus
    * (no benchmark split), query terms = the query doc's own terms,
    * self-match excluded — "find my near-duplicates by words". Semantic
    * side: [[Similarity.topkBrute]]'s exact cosine ranks, self excluded
    * by construction — "find them by meaning". A doc on only one list
    * contributes only that list's term (the standard RRF convention).
    *
    * Scale shape: both branches bound themselves to k rows per query
    * BEFORE the fusion join (GroupedTopK heaps / the pinned brute
    * broadcast), so the full-outer fusion join and the final re-rank
    * touch ≤ 2k rows per query regardless of corpus size. The lexical
    * scoring is the sparse postings equi-join with the |Q|-bounded
    * query-term table broadcast.
    *
    * Determinism: ranks are exact integers from total orders (long
    * impact sums / decimal-safe cosines, doc-id tiebreaks); the fused
    * score is two exactly-rounded divisions and one add in fixed
    * coalesce order — bit-identical cross-engine with no quantization
    * needed.
    */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val (lex, sem) = rrfLists(s, dir)
    // r16 (guide §2.4): the two k-bounded lists fuse through ONE union +
    // grouped conditional-max — the same rows the old full-outer join on
    // (q, d) produced (each list is rank-unique per (q, d), so max over
    // the tag-padded union IS the outer join's coalesce pattern), for one
    // exchange instead of two join-side exchanges and a merge.
    // CurationSpec pins one row per (q, d) in each list.
    val tagged = lex
      .select(col("q"), col("d"), col("lex_rn"), lit(null).cast("long").as("sem_rn"))
      .unionByName(sem.select(col("q"), col("d"),
        lit(null).cast("long").as("lex_rn"), col("sem_rn")))
    val fused = tagged
      .groupBy("q", "d")
      .agg(max(col("lex_rn")).as("lex_rn"), max(col("sem_rn")).as("sem_rn"))
      .select(col("q"), col("d"), col("lex_rn"), col("sem_rn"),
        (coalesce(lit(1.0) / (lit(RrfC) + col("lex_rn")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("sem_rn")), lit(0.0))).as("rrf"))
    graft.plans.GroupedTopK
      .topK(fused, Seq("q"), Seq("rrf" -> false, "d" -> true), Similarity.TopK)
  }

  /** The two ranked lists [[rrfFusion]] fuses: lexical (q, d, lex_rn)
    * and semantic (q, d, sem_rn), each at most k rows per query.
    */
  private[ops] def rrfLists(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // A cheap projection over the session-memoized [[tfAllShared]] (the
    // old per-invocation localCheckpoint leaked one (doc, term)
    // generation per call AND re-tokenized the corpus; source is
    // functionally dependent on doc_id, so dropping it leaves the
    // identical (doc_id, t, tf) rows the private grouping produced).
    val tf = tfAllShared(s, dir).select("doc_id", "t", "tf")
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val qt = tf.filter(col("doc_id") < Similarity.NumQueryVecs)
      .select(col("doc_id").as("q"), col("t"))
    val idf = (col("n") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val sat = (col("tf").cast("double") * lit(BmK1 + 1)) /
      (col("tf").cast("double") +
        lit(BmK1) * (lit(1 - BmB) + lit(BmB) * (col("dl").cast("double") / col("avgdl"))))
    // r16 (guide §2.3 — shuffle fewer bytes): only (doc, term) rows whose
    // term occurs in SOME query can reach the qt join, so the semi join
    // drops the rest of the tf stream BEFORE the dfreq/dl join exchanges
    // instead of after them. dfreq/dl themselves still aggregate the full
    // stream (corpus-wide df and doc lengths), unchanged.
    val tfq = tf.join(broadcast(qt.select("t").distinct()), Seq("t"), "left_semi")
    val scored = tfq
      .join(dfreq, "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("t"), col("doc_id"), floor((idf * sat) * lit(1000000.0)).as("ci"))
      .join(broadcast(qt), "t")
      .filter(col("doc_id") =!= col("q"))
      .groupBy("q", "doc_id")
      .agg(sum("ci").as("s"))
    val lex = graft.plans.GroupedTopK
      .topK(scored, Seq("q"), Seq("s" -> false, "doc_id" -> true), Similarity.TopK,
        rankName = "lex_rn")
      .select(col("q"), col("doc_id").as("d"), col("lex_rn"))
    val sem = Similarity.topkBrute(s, dir)
      .select(col("va").as("q"), col("vb").as("d"), col("rn").as("sem_rn"))
    (lex, sem)
  }

  /** Sample size for [[sampleWeighted]]. */
  val WeightedK = 20

  /** Deterministic weighted sampling without replacement (Efraimidis–
    * Spirakis A-ES): each doc draws a pseudo-uniform u from the shared
    * md5 hash family (reproducible across runs, engines, partitionings —
    * same discipline as `sample_hash`) and is ranked by `u^(1/w)` with
    * w = n_chars, so selection probability is proportional to length —
    * the standard way to sample a token-budget-proportional subset
    * rather than a doc-count-proportional one.
    *
    * `pow` is libm-adjacent (Spark's Math.pow vs DuckDB's libm may
    * differ in the last ulp), so the key quantizes onto a decimal(38,9)
    * grid before ranking — the same hazard-containment rule the catalog
    * applies to every ln-derived output; ties on the grid break by
    * doc_id. Top-k of a pure projection = TakeOrderedAndProject, no
    * global sort.
    */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u = (TextHash.hash60(col("doc_id").cast("string")) + lit(1L)).cast("double") /
      lit(1152921504606846976L).cast("double") // 2^60: u in (0, 1]
    val key = pow(u, lit(1.0) / col("n_chars").cast("double"))
      .cast("decimal(38,9)").cast("double")
    Tables
      .documents(s, dir)
      .select(col("doc_id"), col("n_chars"), key.as("k"))
      .orderBy(desc("k"), asc("doc_id"))
      .limit(WeightedK)
  }

  /** k threshold for [[kAnonymity]]: groups smaller than this are
    * re-identifiable.
    */
  val KAnonK = 5

  /** k-anonymity audit over the event log — the privacy counterpart of
    * [[piiScrub]]: rows grouped by their quasi-identifier tuple
    * (event_type, hour-of-day, coarse value bucket); a group smaller
    * than [[KAnonK]] means those rows are re-identifiable by the tuple
    * alone. Per event type: row/group counts, the worst (smallest) group
    * size, and how many rows sit in below-threshold groups.
    *
    * Scale shape: one shuffle on the QI tuple (partial+final count),
    * then a second on event_type over ALREADY-AGGREGATED group rows —
    * bounded by distinct QI tuples, not the event log. The value bucket
    * is floor(value/25): floor of one IEEE division, exact in both
    * engines (never a double→long truncation-vs-round hazard).
    */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_type"),
        hour(col("ts")).cast("long").as("h"),
        floor(col("value") / 25.0).cast("long").as("vb"))
      .groupBy("event_type", "h", "vb")
      .agg(count(lit(1)).as("gsz"))
      .groupBy("event_type")
      .agg(
        sum("gsz").as("n_rows"),
        count(lit(1)).as("n_groups"),
        min("gsz").as("k_min"),
        count(when(col("gsz") < KAnonK, 1)).as("groups_below"),
        sum(when(col("gsz") < KAnonK, col("gsz")).otherwise(0L)).as("rows_below"))
      .select(
        col("event_type"), col("n_rows"), col("n_groups"), col("k_min"),
        col("groups_below"), col("rows_below"),
        (col("rows_below").cast("double") / col("n_rows").cast("double")).as("risk_frac"))

  /** l-diversity audit — the second privacy bar after [[kAnonymity]]:
    * a QI group can be large (k-anonymous) yet still leak if every row
    * in it shares the same SENSITIVE value, so per QI tuple
    * (hour-of-day, coarse value bucket — k-anonymity's tuple minus the
    * sensitive column) we count DISTINCT sensitive values
    * (`event_type`) and report the distribution: for each diversity
    * level l, how many groups sit at exactly that level, how many rows
    * they hold, and the row fraction — the table a release decision
    * reads top-down (l=1 groups are homogeneous: the attacker who
    * re-identifies the group learns the sensitive value with certainty).
    *
    * Scale shape: one shuffle on the QI tuple with a partial-aggregated
    * count-distinct over a 5-value domain (Spark's distinct-agg expand
    * is bounded by the sensitive-attribute cardinality), then two
    * aggregations over ALREADY-GROUPED rows (bounded by distinct QI
    * tuples, then by distinct l ≤ |domain|). The pct_rows window runs
    * over the ≤|domain|-row final frame — free.
    */
  def lDiversity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byL = Tables.events(s, dir)
      .select(
        col("event_type"),
        hour(col("ts")).cast("long").as("h"),
        floor(col("value") / 25.0).cast("long").as("vb"))
      .groupBy("h", "vb")
      .agg(countDistinct("event_type").as("l"), count(lit(1)).as("gsz"))
      .groupBy("l")
      .agg(count(lit(1)).as("n_groups"), sum("gsz").as("n_rows"))
    byL.select(
      col("l"), col("n_groups"), col("n_rows"),
      (col("n_rows").cast("double") /
        sum("n_rows").over(Window.partitionBy()).cast("double")).as("pct_rows"))
  }

  /** t-closeness compliance threshold for [[tCloseness]]. */
  val TCloseT = 0.2

  /** t-closeness audit — the third leg of the privacy triptych after
    * [[kAnonymity]] and [[lDiversity]]: l-diversity only counts DISTINCT
    * sensitive values, so a group that is 99% "purchase" with a token
    * "view" passes l=2 while still leaking; t-closeness bounds how far
    * each QI group's sensitive-value DISTRIBUTION may drift from the
    * global one. For a categorical attribute the Earth Mover's Distance
    * reduces to total variation: `t = ½ Σ_types |p_g(type) − q(type)|`,
    * including the zero cells (a type the group never emits contributes
    * its full global share — skipping those rows would understate t,
    * which is why the group×type grid is materialized explicitly).
    *
    * Scale shape: one partial-aggregated shuffle onto the
    * (QI, type) grid; the QI-group and global-type tables are both
    * GRID-bounded (hours × value-buckets, types), so the zero-filling
    * cross join multiplies two bounded tables, never the corpus.
    *
    * Determinism: both ratios are single exactly-rounded divisions; the
    * |p−q| terms quantize floor-to-long on the 1e-9 grid (the
    * [[graft.ops.Events.ewmaOf]] discipline — a decimal cast would
    * itself diverge) so the per-group sum is exact integer arithmetic
    * and order-free.
    */
  def tCloseness(s: SparkSession, dir: String): DataFrame =
    tClosenessOf(Tables.events(s, dir))

  private[ops] def tClosenessOf(events: DataFrame): DataFrame = {
    val ev = events
      .select(
        col("event_type"),
        hour(col("ts")).cast("long").as("h"),
        floor(col("value") / 25.0).cast("long").as("vb"))
    val cell = ev.groupBy("h", "vb", "event_type").agg(count(lit(1)).as("c"))
    val grp  = cell.groupBy("h", "vb").agg(sum("c").as("gsz"))
    val tot  = ev.agg(count(lit(1)).cast("double").as("n"))
    val glob = ev.groupBy("event_type").agg(count(lit(1)).as("gc"))
      .crossJoin(broadcast(tot))
      .select(col("event_type"), (col("gc").cast("double") / col("n")).as("q"))
    val tq = floor(
      abs(coalesce(col("c"), lit(0L)).cast("double") / col("gsz").cast("double") -
        col("q")) * lit(1e9)).cast("long")
    grp
      .crossJoin(broadcast(glob))
      // cell is the (hour-of-day × value-bucket × type) grid — bounded
      // by the bucket geometry, not the corpus; hinted so the zero-fill
      // join stays broadcast at every SF (sf1 sweep: flipped to SMJ on
      // the planner's crude estimate)
      .join(broadcast(cell), Seq("h", "vb", "event_type"), "left")
      .select(col("h"), col("vb"), col("gsz"), tq.as("tq"))
      .groupBy("h", "vb", "gsz")
      .agg(sum("tq").as("stq"))
      .select(
        col("h"), col("vb"), col("gsz"),
        ((col("stq").cast("double") / lit(1e9)) * lit(0.5)).as("t_dist"),
        (((col("stq").cast("double") / lit(1e9)) * lit(0.5)) <= lit(TCloseT))
          .as("compliant"))
  }

  /** Deletion-request rate (percent of customers) for [[deletionAudit]]. */
  val DelPct = 5

  /** Right-to-be-forgotten deletion propagation: a deterministic
    * deletion-request set (hash-band of customer keys — the catalog's
    * PRF-sampling recipe, standing in for an uploaded request table)
    * cascades through the FK chain customer → orders → lineitem, and the
    * audit reports per-table deleted/kept counts — the numbers a
    * compliance pass must log before the physical rewrite.
    *
    * Scale shape: the deletion set is never collected and never
    * broadcast-assumed (at 100 TB a 5% request set is itself huge):
    * each fact table takes ONE equi-join against the key set of the
    * previous hop (orders against deleted customers, lineitem against
    * deleted orders) with a partial-aggregated conditional count — no
    * NOT IN anti-scan, no second pass per table. The physical delete
    * would reuse exactly these joins as anti-joins.
    */
  def deletionAudit(s: SparkSession, dir: String): DataFrame = {
    val del = Tables.customer(s, dir)
      .filter(TextHash.hash60(col("c_custkey").cast("string")) % 100 < DelPct)
      .select(col("c_custkey").as("dk"))
    val custAudit = Tables.customer(s, dir)
      .agg(
        count(when(TextHash.hash60(col("c_custkey").cast("string")) % 100 < DelPct, 1))
          .as("n_deleted"),
        count(when(TextHash.hash60(col("c_custkey").cast("string")) % 100 >= DelPct, 1))
          .as("n_kept"))
      .select(lit("customer").as("table_name"), col("n_deleted"), col("n_kept"))
    val ordFlag = Tables.orders(s, dir)
      .join(del, col("o_custkey") === col("dk"), "left")
    val ordAudit = ordFlag
      .agg(
        count(when(col("dk").isNotNull, 1)).as("n_deleted"),
        count(when(col("dk").isNull, 1)).as("n_kept"))
      .select(lit("orders").as("table_name"), col("n_deleted"), col("n_kept"))
    val delOrd = ordFlag.filter(col("dk").isNotNull).select(col("o_orderkey").as("ok"))
    val liAudit = Tables.lineitem(s, dir)
      .join(delOrd, col("l_orderkey") === col("ok"), "left")
      .agg(
        count(when(col("ok").isNotNull, 1)).as("n_deleted"),
        count(when(col("ok").isNull, 1)).as("n_kept"))
      .select(lit("lineitem").as("table_name"), col("n_deleted"), col("n_kept"))
    custAudit.unionAll(ordAudit).unionAll(liAudit)
  }

  /** Privacy budget for [[dpRelease]] (Laplace scale b = 1/ε). */
  val DpEps = 1.0

  /** Differentially-private histogram release of the event-count cells —
    * the aggregate-publication counterpart of [[kAnonymity]]: each
    * (event_type, hour) count is released with Laplace(1/ε) noise via
    * inverse-CDF sampling. The "randomness" is the md5-derived cell-key
    * hash — i.e. a PRF with a FIXED, public key, which makes the release
    * reproducible for the oracle gate but NOT actually private; a
    * production release swaps in a secret PRF key (one constant), keeping
    * the whole plan shape. n_true stays in the output for the same
    * audit-demo reason.
    *
    * Scale/parity shape: noise is computed per aggregated CELL (bounded
    * by the type×hour grid, not the event log). u = (hash+1)/(2⁶⁰+1) is
    * one IEEE division of exact integers; the ln-derived noise quantizes
    * onto the decimal(38,9) grid before the add (the catalog's
    * libm-containment rule).
    */
  def dpRelease(s: SparkSession, dir: String): DataFrame = {
    val u = (TextHash.hash60(concat(col("event_type"), lit(":"), col("h").cast("string")))
      + lit(1L)).cast("double") / lit(1152921504606846977L).cast("double") // 2^60+1
    val noise = (lit(-1.0 / DpEps) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))).cast("decimal(38,9)")
    Tables.events(s, dir)
      .select(col("event_type"), hour(col("ts")).cast("long").as("h"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("n_true"))
      .withColumn("noise", noise.cast("double"))
      .select(
        col("event_type"), col("h"), col("n_true"), col("noise"),
        (col("n_true") + col("noise")).as("n_released"),
        lit(DpEps).as("eps"))
  }

  /** Length-curriculum phase assignment: documents are split into four
    * phases by their position in the corpus length distribution (short →
    * long ≈ easy → hard, the standard curriculum-learning schedule).
    * A document's phase comes from its length block's cumulative START
    * share (`((cum − c)·4) div tot`), so equal-length docs always share
    * a phase — unlike `ntile`, whose intra-tie split depends on sort
    * arrival order and would be nondeterministic distributed.
    *
    * Scale shape: the length histogram (bounded by the length DOMAIN)
    * cumulates through [[Stats.rangeCum]]'s range-partitioned prefix
    * sum; docs join the per-length phase table on n_chars — a hash
    * join against a domain-bounded side, never a global sort of the
    * corpus.
    */
  def curriculum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
    val hist = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
    val phased = Stats.rangeCum(hist, Seq(), "n_chars", "c")
      .select(col("n_chars"), expr("((cum - c) * 4) div tot + 1").as("phase"))
    docs.join(phased, "n_chars")
      .select(col("doc_id"), col("n_chars"), col("phase"))
  }

  /** Token budget for [[tokenBudget]] — sized so the fixtures select a
    * strict subset (the selection boundary is exercised at every SF).
    */
  val TokenBudget = 20000L

  /** Token-budget-aware corpus selection — the data-mixture step that
    * answers "we can afford B training tokens; which documents?": rank
    * every document by the [[TextAnalysis.quality]] composite (ties →
    * smallest id) and keep the greedy prefix whose running token total
    * stays within the budget. Emits every document with its running
    * total and the keep decision, so the selected set, the cut line,
    * and the quality distribution of what was dropped are all visible.
    *
    * Scale shape: the global ordered prefix sum runs through
    * [[Stats.rangeCum]]'s range-partitioned sweep on the composite
    * (−score, id) key — no single-partition window over the corpus, the
    * same discipline as every cumulative-histogram query. Cross-engine
    * determinism: both engines build the score with the identical IEEE
    * chain, and the (score, id) order is total.
    */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    // quality_score rides INSIDE the ord struct behind the unique
    // (nq, id) prefix — the rangeCum frame carries EXACTLY
    // (ok, n_tokens), the pid-alignment discipline (see shuffleShards).
    // Deliberately the RAW quality subtree, NOT the memoized checkpoint:
    // rangeCum's pid alignment rests on its two range exchanges
    // deduping to ONE materialization (ReusedExchange), and exchange
    // reuse does NOT fire across duplicated LogicalRDD (checkpoint)
    // scans — DeduplicateRelations re-instances the leaf and the
    // canonicalized scans stop matching. Pinned by PlanAuditSpec's
    // rangeCum-dedupe test, which fails on the memoized form.
    val q = TextAnalysis.quality(s, dir)
      .select(
        struct(
          (-col("quality_score")).as("nq"),
          col("doc_id").as("id"),
          col("quality_score").as("qs")).as("ok"),
        col("n_tokens"))
    Stats.rangeCum(q, Seq(), "ok", "n_tokens", needTot = false)
      .select(
        col("ok.id").as("doc_id"),
        col("ok.qs").as("quality_score"),
        col("n_tokens"),
        col("cum").cast("long").as("cum_tokens"),
        (col("cum") <= TokenBudget).as("selected"))
  }

  /** Documents per shard for [[shuffleShards]] — sized so the fixture
    * produces several full shards plus a ragged tail (boundary math is
    * exercised at every SF).
    */
  val ShardSize = 64L

  /** Deterministic corpus shuffle + fixed-size shard manifest — the
    * export step between curation and training: documents are permuted
    * by a seeded content-independent hash (reproducible, and
    * uncorrelated with ingest order, so every shard is an unbiased
    * sample — the property distributed data loaders rely on), then cut
    * into [[ShardSize]]-document shards. Emits each document's global
    * shuffle position, shard id, and in-shard offset — the manifest a
    * WebDataset-style shard writer consumes verbatim.
    *
    * Scale shape: the global ordered rank is [[Stats.rangeCum]]'s
    * range-partitioned sweep on the (hash, doc_id) key — no
    * single-partition window over the corpus; shard boundaries are pure
    * arithmetic on the rank. Determinism: the md5-backed
    * [[TextHash.hash60]] with the doc_id tiebreak is a total order
    * written identically in both engines.
    */
  def shuffleShards(s: SparkSession, dir: String): DataFrame = {
    // n_chars rides INSIDE the ord struct: (h, id) is a unique ordering
    // prefix, so the extra field never affects the order — and the
    // rangeCum frame carries EXACTLY (sk, one), keeping its two range
    // exchanges canonically identical (the pid-alignment discipline;
    // payload columns here were the corpus_zorder bug class)
    val d = Tables
      .documents(s, dir)
      .select(
        struct(
          TextHash.hash60(concat(col("doc_id").cast("string"), lit(":shard"))).as("h"),
          col("doc_id").as("id"),
          col("n_chars").as("nc")).as("sk"),
        lit(1L).as("one"))
    Stats.rangeCum(d, Seq(), "sk", "one", needTot = false)
      .select(
        col("sk.id").as("doc_id"),
        col("sk.nc").as("n_chars"),
        col("sk.h").as("shuffle_key"),
        col("cum").as("shuffle_pos"),
        expr(s"(cum - 1) div $ShardSize").as("shard_id"),
        expr(s"(cum - 1) % $ShardSize").as("pos_in_shard"))
  }

  val queries: Map[String, Q] = Map(
    "corpus_shards"       -> (shuffleShards _),
    "curate_token_budget" -> (tokenBudget _),
    "curate_pref_pairs"   -> (preferencePairs _),
    "curate_pareto"       -> (paretoFront _),
    "sim_rrf_fusion"      -> (rrfFusion _),
    "curate_curriculum" -> (curriculum _),
    "curate_dp_release"  -> (dpRelease _),
    "curate_k_anonymity" -> (kAnonymity _),
    "curate_l_diversity" -> (lDiversity _),
    "curate_t_closeness" -> (tCloseness _),
    "curate_deletion"    -> (deletionAudit _),
    "sample_weighted"    -> (sampleWeighted _),
    "text_bm25"          -> (bm25 _),
    "doc_global_ids"     -> (globalIds _),
    "text_repetition"    -> (repetition _),
    "text_contamination" -> (contamination _),
    "sample_split"       -> (split _),
    "sample_stratified"  -> (stratified _),
    "text_chunks"        -> (chunks _),
    "text_tfidf"         -> (tfidf _),
    "embed_assign"       -> (centroidAssign _),
    "embed_outliers"     -> (embedOutliers _),
    "embed_covariance"   -> (covariance _),
    "embed_pca"          -> (pcaTop _),
    "embed_label_mean"   -> (labelMeanEmbedding _),
    "pii_scrub"          -> (piiScrub _),
    "seq_pack"           -> (seqPack _),
    "corpus_mixture"     -> (mixture _),
    "embed_kmeans_iter"  -> (kmeansIter _),
    "source_overlap"     -> (sourceOverlap _),
    "source_js_divergence" -> (jsDivergence _),
    "source_overlap_kmv" -> (kmvOverlap _),
    "source_setalg_kmv"  -> (kmvSetAlg _),
    "curate_dsir"        -> (dsir _)
  )

  /** Tokenized docs as DuckDB lists, one row per doc. The split pattern is
    * [[Tokenize.WordPattern]] itself — the regex is parity-critical, so
    * there is exactly one definition for both engines.
    */
  private val duckToksList =
    s"SELECT doc_id, source, list_filter(regexp_split_to_array(text, '${Tokenize.WordPattern}'), x -> x <> '') l FROM documents"

  /** n-gram join fragment: l[i] || ' ' || l[i+1] (… ) over 1-based list
    * positions via range — empty for docs shorter than n.
    */
  private def duckNgrams(n: Int): String = {
    val parts = (0 until n).map(k => s"l[i + $k]").mkString(" || ' ' || ")
    s"unnest(list_transform(range(1, len(l) - ${n - 2}), i -> $parts))"
  }

  /** Shared DuckDB CTEs: the exact covariance grid (mirrors
    * [[covariance]]), ending in a `cov(dim_i, dim_j, n, cov)` relation —
    * consumed by both the embed_covariance and embed_pca oracles.
    */
  private val duckCovCtes: String =
    """px AS (
         SELECT embedding, unnest(generate_series(1, len(embedding))) AS i
         FROM embeddings),
       pr AS (
         SELECT i, unnest(generate_series(i, len(embedding))) AS j, embedding
         FROM px),
       cells AS (
         SELECT i, j, CAST(embedding[i] AS DOUBLE) AS xi,
           CAST(embedding[j] AS DOUBLE) AS xj
         FROM pr),
       a AS (SELECT i, j, count(*) AS n,
           CAST(sum(CAST(floor(xi * xj * 1e9) AS BIGINT)) AS BIGINT) AS sij9,
           CAST(sum(CAST(floor(xi * 1e6) AS BIGINT)) AS BIGINT) AS si6,
           CAST(sum(CAST(floor(xj * 1e6) AS BIGINT)) AS BIGINT) AS sj6
         FROM cells GROUP BY 1, 2),
       cov AS (SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
           CAST(n AS BIGINT) AS n,
           ((CAST(sij9 AS DOUBLE) / 1e9) -
            (CAST(si6 AS DOUBLE) / 1e6) * (CAST(sj6 AS DOUBLE) / 1e6) / n) / (n - 1) AS cov
         FROM a)"""

  val oracle: Map[String, String] = Map(
    "corpus_shards" -> {
      val h = graft.functions.TextHash.duckHash60Of(
        "CAST(doc_id AS VARCHAR) || ':shard'")
      s"""WITH k AS (
           SELECT doc_id, n_chars, $h AS shuffle_key FROM documents),
         r AS (
           SELECT doc_id, n_chars, shuffle_key,
             CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
               AS shuffle_pos
           FROM k)
         SELECT doc_id, n_chars, shuffle_key, shuffle_pos,
           (shuffle_pos - 1) // $ShardSize AS shard_id,
           (shuffle_pos - 1) % $ShardSize AS pos_in_shard
         FROM r"""
    },
    "curate_pref_pairs" ->
      s"""WITH q AS (
           SELECT doc_id,
             0.4 * (CAST(count(DISTINCT t) AS DOUBLE) / count(*)) +
             0.3 * (CAST(count(*) FILTER (WHERE t IN ${TextAnalysis.inList(TextAnalysis.Stopwords)}) AS DOUBLE) / count(*)) +
             0.3 * least(CAST(count(*) AS DOUBLE) / 100.0, 1.0) AS quality_score
           FROM (${TextAnalysis.duckToks}) GROUP BY 1),
         p AS (SELECT d.source, q.doc_id, q.quality_score
               FROM q JOIN documents d USING (doc_id)),
         c AS (SELECT source, doc_id, quality_score,
             row_number() OVER (PARTITION BY source
               ORDER BY quality_score DESC, doc_id ASC) rc,
             row_number() OVER (PARTITION BY source
               ORDER BY quality_score ASC, doc_id DESC) rr,
             count(*) OVER (PARTITION BY source) n
           FROM p)
         SELECT a.source, a.doc_id AS chosen_id, b.doc_id AS rejected_id,
           a.quality_score AS chosen_score, b.quality_score AS rejected_score,
           a.quality_score - b.quality_score AS margin
         FROM c a JOIN c b ON a.source = b.source AND a.rc = 1 AND b.rr = 1
         WHERE a.n >= 2""",
    // independent formulation on purpose: the oracle states dominance
    // directly as NOT EXISTS over the quantized scores (quadratic is
    // fine at oracle SF), checking the engine's grid/prefix-max shape
    // against the definition rather than against itself
    "curate_pareto" ->
      s"""WITH q AS (${TextAnalysis.duckQualityCte}),
         j AS (SELECT d.doc_id,
             CAST(CAST(quality_score AS DECIMAL(38,6)) AS DOUBLE) AS quality_score,
             d.n_chars
           FROM documents d JOIN q USING (doc_id))
         SELECT a.doc_id, a.quality_score, a.n_chars FROM j a
         WHERE NOT EXISTS (
           SELECT 1 FROM j b
           WHERE b.quality_score >= a.quality_score
             AND b.n_chars >= a.n_chars
             AND (b.quality_score > a.quality_score OR b.n_chars > a.n_chars))""",
    "curate_token_budget" ->
      s"""WITH q AS (
           SELECT doc_id, count(*) AS n_tokens,
             0.4 * (CAST(count(DISTINCT t) AS DOUBLE) / count(*)) +
             0.3 * (CAST(count(*) FILTER (WHERE t IN ${TextAnalysis.inList(TextAnalysis.Stopwords)}) AS DOUBLE) / count(*)) +
             0.3 * least(CAST(count(*) AS DOUBLE) / 100.0, 1.0) AS quality_score
           FROM (${TextAnalysis.duckToks}) GROUP BY 1),
         c AS (
           SELECT doc_id, quality_score, n_tokens,
             CAST(sum(n_tokens) OVER (
               ORDER BY quality_score DESC, doc_id ASC) AS BIGINT) AS cum_tokens
           FROM q)
         SELECT doc_id, quality_score, CAST(n_tokens AS BIGINT) AS n_tokens,
           cum_tokens, cum_tokens <= $TokenBudget AS selected
         FROM c""",
    "curate_curriculum" ->
      """WITH h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
         cc AS (SELECT n_chars, c, sum(c) OVER (ORDER BY n_chars) AS cum,
                  sum(c) OVER () AS tot FROM h),
         p AS (SELECT n_chars, ((cum - c) * 4) // tot + 1 AS phase FROM cc)
         SELECT d.doc_id, d.n_chars, CAST(phase AS BIGINT) AS phase
         FROM documents d JOIN p USING (n_chars)""",
    "curate_dp_release" -> {
      val h = graft.functions.TextHash.duckHash60Of(
        "event_type || ':' || CAST(h AS VARCHAR)")
      s"""WITH cells AS (
           SELECT event_type, CAST(hour(ts) AS BIGINT) AS h, count(*) AS n_true
           FROM events GROUP BY 1, 2),
         un AS (SELECT event_type, h, n_true,
                  CAST($h + 1 AS DOUBLE) / CAST(1152921504606846977 AS DOUBLE) AS u
                FROM cells),
         nz AS (SELECT event_type, h, n_true,
                  CAST(CAST(${-1.0 / DpEps} AS DOUBLE) * sign(u - 0.5) *
                    ln(1.0 - 2.0 * abs(u - 0.5)) AS DECIMAL(38,9)) AS nq
                FROM un)
         SELECT event_type, h, n_true,
           CAST(nq AS DOUBLE) AS noise,
           n_true + CAST(nq AS DOUBLE) AS n_released,
           CAST($DpEps AS DOUBLE) AS eps
         FROM nz"""
    },
    "curate_k_anonymity" ->
      s"""WITH g AS (
           SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(floor(value / 25.0) AS BIGINT) AS vb, count(*) AS gsz
           FROM events GROUP BY 1, 2, 3)
         SELECT event_type,
           CAST(sum(gsz) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(gsz) AS BIGINT) AS k_min,
           CAST(count(*) FILTER (WHERE gsz < $KAnonK) AS BIGINT) AS groups_below,
           CAST(coalesce(sum(gsz) FILTER (WHERE gsz < $KAnonK), 0) AS BIGINT) AS rows_below,
           CAST(coalesce(sum(gsz) FILTER (WHERE gsz < $KAnonK), 0) AS DOUBLE) /
             CAST(sum(gsz) AS DOUBLE) AS risk_frac
         FROM g GROUP BY 1""",
    // the zero cells ride the explicit group×type grid; |p−q| terms
    // floor onto the 1e-9 long grid so the per-group sum is order-free
    "curate_t_closeness" ->
      s"""WITH ev AS (
           SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(floor(value / 25.0) AS BIGINT) AS vb
           FROM events),
         cell AS (SELECT h, vb, event_type, count(*) AS c FROM ev GROUP BY 1, 2, 3),
         grp  AS (SELECT h, vb, CAST(sum(c) AS BIGINT) AS gsz FROM cell GROUP BY 1, 2),
         tot  AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ev),
         gshare AS (SELECT event_type, CAST(count(*) AS DOUBLE) / n AS q
                    FROM ev, tot GROUP BY event_type, n),
         grid AS (
           SELECT g.h, g.vb, g.gsz,
             CAST(floor(abs(CAST(coalesce(c.c, 0) AS DOUBLE) / CAST(g.gsz AS DOUBLE)
               - gl.q) * 1000000000.0) AS BIGINT) AS tq
           FROM grp g CROSS JOIN gshare gl
           LEFT JOIN cell c
             ON c.h = g.h AND c.vb = g.vb AND c.event_type = gl.event_type)
         SELECT h, vb, gsz,
           (CAST(sum(tq) AS DOUBLE) / 1000000000.0) * 0.5 AS t_dist,
           (CAST(sum(tq) AS DOUBLE) / 1000000000.0) * 0.5 <= $TCloseT AS compliant
         FROM grid GROUP BY 1, 2, 3""",
    "curate_l_diversity" ->
      """WITH g AS (
           SELECT CAST(hour(ts) AS BIGINT) AS h,
             CAST(floor(value / 25.0) AS BIGINT) AS vb,
             CAST(count(DISTINCT event_type) AS BIGINT) AS l,
             count(*) AS gsz
           FROM events GROUP BY 1, 2),
         d AS (
           SELECT l, CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(gsz) AS BIGINT) AS n_rows
           FROM g GROUP BY 1)
         SELECT l, n_groups, n_rows,
           CAST(n_rows AS DOUBLE) /
             CAST(sum(n_rows) OVER () AS DOUBLE) AS pct_rows
         FROM d""",
    "curate_deletion" -> {
      val hc = graft.functions.TextHash.duckHash60Of("CAST(c_custkey AS VARCHAR)")
      s"""WITH del AS (SELECT c_custkey FROM customer WHERE $hc % 100 < $DelPct),
         delord AS (SELECT o_orderkey FROM orders
                    WHERE o_custkey IN (SELECT c_custkey FROM del))
         SELECT 'customer' AS table_name,
           (SELECT count(*) FROM del) AS n_deleted,
           (SELECT count(*) FROM customer) - (SELECT count(*) FROM del) AS n_kept
         UNION ALL
         SELECT 'orders',
           (SELECT count(*) FROM delord),
           (SELECT count(*) FROM orders) - (SELECT count(*) FROM delord)
         UNION ALL
         SELECT 'lineitem',
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM delord)),
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM delord))"""
    },
    "sample_weighted" -> {
      val h = graft.functions.TextHash.duckHash60Of("CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, n_chars, k FROM (
           SELECT doc_id, n_chars,
             CAST(CAST(pow(CAST(($h + 1) AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE),
                           1.0 / CAST(n_chars AS DOUBLE))
                  AS DECIMAL(38,9)) AS DOUBLE) AS k
           FROM documents)
         ORDER BY k DESC, doc_id ASC LIMIT $WeightedK"""
    },
    // parity note: (1.2 + 1) is written as the ADDITION in both engines —
    // the IEEE sum of double(1.2) + 1 is not the same double as the
    // literal 2.2, so both sides must build the constant the same way
    // both branch rankings re-derived independently (the sim_topk cosine
    // window and the text_bm25 impact formula over the full corpus), then
    // fused with the same fixed coalesce-order RRF arithmetic
    "sim_rrf_fusion" ->
      s"""WITH ${Similarity.duckNorm},
         sem AS (
           SELECT va AS q, vb AS d, rn AS sem_rn FROM (
             SELECT a.vec_id va, b.vec_id vb,
               CAST(row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC,
                          b.vec_id ASC) AS BIGINT) AS rn
             FROM e a JOIN e b
               ON a.vec_id < ${Similarity.NumQueryVecs} AND a.vec_id <> b.vec_id)
           WHERE rn <= ${Similarity.TopK}),
         toks AS (SELECT doc_id, unnest(l) AS t FROM ($duckToksList)),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         qt AS (SELECT doc_id AS q, t FROM tf WHERE doc_id < ${Similarity.NumQueryVecs}),
         sc AS (
           SELECT qt.q, tf.doc_id AS d,
             sum(CAST(floor(
               ((((st.n - CAST(df.df AS DOUBLE)) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)) *
                ((CAST(tf.tf AS DOUBLE) * (1.2 + 1)) /
                 (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
               ) * 1000000.0) AS BIGINT)) AS s
           FROM qt
           JOIN tf ON tf.t = qt.t
           JOIN df ON df.t = qt.t
           JOIN dl ON dl.doc_id = tf.doc_id, st
           WHERE tf.doc_id <> qt.q
           GROUP BY 1, 2),
         lex AS (
           SELECT q, d, lex_rn FROM (
             SELECT q, d,
               CAST(row_number() OVER (PARTITION BY q ORDER BY s DESC, d ASC) AS BIGINT) AS lex_rn
             FROM sc)
           WHERE lex_rn <= ${Similarity.TopK}),
         f AS (
           SELECT coalesce(l.q, s2.q) AS q, coalesce(l.d, s2.d) AS d,
             l.lex_rn, s2.sem_rn,
             coalesce(1.0 / ($RrfC + lex_rn), 0.0) +
               coalesce(1.0 / ($RrfC + sem_rn), 0.0) AS rrf
           FROM lex l FULL JOIN sem s2 ON l.q = s2.q AND l.d = s2.d)
         SELECT q, d, lex_rn, sem_rn, rrf, rn FROM (
           SELECT q, d, lex_rn, sem_rn, rrf,
             CAST(row_number() OVER (PARTITION BY q ORDER BY rrf DESC, d ASC) AS BIGINT) AS rn
           FROM f)
         WHERE rn <= ${Similarity.TopK}""",
    "text_bm25" ->
      s"""WITH toks AS (SELECT doc_id, source, unnest(l) AS t FROM ($duckToksList)),
         corpus AS (SELECT doc_id, t FROM toks WHERE source <> '$BenchmarkSource'),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM corpus GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM corpus GROUP BY 1),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         qterms AS (SELECT DISTINCT doc_id AS q_doc, t FROM toks WHERE source = '$BenchmarkSource'),
         term_scores AS (
           SELECT q.q_doc, tf.doc_id,
             CAST(floor(
               ((((st.n - CAST(df.df AS DOUBLE)) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)) *
                ((CAST(tf.tf AS DOUBLE) * (1.2 + 1)) /
                 (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
               ) * 1000000.0) AS BIGINT) AS ci
           FROM qterms q
           JOIN tf ON tf.t = q.t
           JOIN df ON df.t = q.t
           JOIN dl ON dl.doc_id = tf.doc_id, st),
         scored AS (SELECT q_doc, doc_id, CAST(sum(ci) AS DOUBLE) / 1000000.0 AS score
                    FROM term_scores GROUP BY 1, 2)
         SELECT q_doc, doc_id, score, rn FROM (
           SELECT q_doc, doc_id, score,
             CAST(row_number() OVER (PARTITION BY q_doc ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rn
           FROM scored) WHERE rn <= $BmK""",
    "doc_global_ids" ->
      "SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS global_id FROM documents",
    "text_repetition" ->
      s"""WITH toks AS ($duckToksList),
         tc AS (SELECT doc_id, t, count(*) c FROM (SELECT doc_id, unnest(l) t FROM toks) GROUP BY 1, 2),
         tok AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens, max(c) top_tok FROM tc GROUP BY 1),
         bc AS (SELECT doc_id, b, count(*) c FROM (SELECT doc_id, ${duckNgrams(2)} b FROM toks) GROUP BY 1, 2),
         bga AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_bigrams, max(c) top_bg FROM bc GROUP BY 1)
         SELECT tok.doc_id, n_tokens,
           CAST(top_tok AS DOUBLE) / n_tokens AS top_token_frac,
           coalesce(CAST(top_bg AS DOUBLE) / n_bigrams, 0.0) AS top_bigram_frac,
           (CAST(top_tok AS DOUBLE) / n_tokens > $TopTokenMax OR
            coalesce(CAST(top_bg AS DOUBLE) / n_bigrams, 0.0) > $TopBigramMax) AS repetitive
         FROM tok LEFT JOIN bga ON tok.doc_id = bga.doc_id""",
    "text_contamination" ->
      s"""WITH toks AS ($duckToksList),
         sh AS (SELECT DISTINCT doc_id, source, ${TextHash.duckHash60Of("g")} sh
                FROM (SELECT doc_id, source, ${duckNgrams(3)} g FROM toks)),
         bench AS (SELECT DISTINCT sh FROM sh WHERE source = '$BenchmarkSource')
         SELECT s.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit,
           CAST(count(b.sh) AS DOUBLE) / count(*) AS contamination_ratio,
           (CAST(count(b.sh) AS DOUBLE) / count(*) >= $ContamMax) AS contaminated
         FROM sh s LEFT JOIN bench b ON s.sh = b.sh
         WHERE s.source <> '$BenchmarkSource' GROUP BY 1""",
    "sample_split" ->
      s"""SELECT lang,
           CASE WHEN ${TextHash.duckHash60Of("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < $TrainPct THEN 'train'
                WHEN ${TextHash.duckHash60Of("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < $ValPct THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1, 2""",
    "sample_stratified" -> {
      val rateCase = StratRates
        .map { case (t, r) => s"WHEN event_type = '$t' THEN $r" }
        .mkString("CASE ", " ", s" ELSE $StratDefaultPermille END")
      s"""SELECT event_type, count(*) AS n_total,
           count(*) FILTER (WHERE ${TextHash.duckHash60Of("'strat:' || CAST(event_id AS VARCHAR)")} % 1000 < $rateCase) AS n_sampled,
           CAST(max($rateCase) AS BIGINT) AS rate_permille
         FROM events GROUP BY 1"""
    },
    "text_chunks" ->
      s"""SELECT doc_id, (i - 1) // $ChunkSize AS chunk_id, count(*) AS n_tokens
         FROM (SELECT doc_id, generate_subscripts(l, 1) i FROM ($duckToksList))
         GROUP BY 1, 2""",
    "text_tfidf" ->
      s"""WITH toks AS ($duckToksList),
         tc AS (SELECT doc_id, t, count(*) tf FROM (SELECT doc_id, unnest(l) t FROM toks) GROUP BY 1, 2),
         dfreq AS (SELECT t, count(DISTINCT doc_id) df FROM tc GROUP BY 1),
         n AS (SELECT count(*) nd FROM documents)
         SELECT doc_id, term, score, rn FROM (
           SELECT tc.doc_id, tc.t AS term,
             CAST(tc.tf * (SELECT nd FROM n) AS DOUBLE) / dfreq.df AS score,
             row_number() OVER (PARTITION BY tc.doc_id
               ORDER BY CAST(tc.tf * (SELECT nd FROM n) AS DOUBLE) / dfreq.df DESC, tc.t ASC) AS rn
           FROM tc JOIN dfreq ON tc.t = dfreq.t)
         WHERE rn <= $TfidfK""",
    "seq_pack" ->
      s"""WITH lanes AS (
             SELECT (count(*) + ${PackDocsPerLane - 1}) // $PackDocsPerLane AS lanes
             FROM documents),
         t AS (SELECT doc_id, CAST(len(l) AS BIGINT) nt,
             ${TextHash.duckHash60Of("'pack:' || CAST(doc_id AS VARCHAR)")} h
           FROM ($duckToksList)),
         c AS (SELECT h % lanes AS bucket, nt,
             CAST(coalesce(sum(nt) OVER (PARTITION BY h % lanes ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) cum
           FROM t, lanes)
         SELECT bucket, cum // $PackCapacity AS shard_id,
           count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
         FROM c GROUP BY 1, 2""",
    "pii_scrub" ->
      s"""SELECT tbl, count(*) AS n_rows,
           CAST(sum(len(regexp_extract_all(v, '$PiiPattern'))) AS BIGINT) AS n_redacted,
           count(DISTINCT regexp_replace(v, '$PiiPattern', '<ID>', 'g')) AS n_forms
         FROM (SELECT 'customer' tbl, c_name v FROM customer
               UNION ALL SELECT 'supplier', s_name FROM supplier
               UNION ALL SELECT 'events', props FROM events)
         GROUP BY 1""",
    "embed_assign" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] emb,
                     sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
                     FROM embeddings),
         cent AS (SELECT vec_id cid, emb cemb, nrm cnrm FROM e WHERE vec_id < $KCentroids),
         scored AS (SELECT e.vec_id, cent.cid,
                      list_inner_product(e.emb, cent.cemb) / (e.nrm * cent.cnrm) AS cos
                    FROM e CROSS JOIN cent),
         best AS (SELECT vec_id, cid, cos,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) rn
                  FROM scored)
         SELECT cid AS centroid, count(*) AS n_assigned,
           CAST(sum(CAST(cos AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_cos
         FROM best WHERE rn = 1 GROUP BY 1""",
    // same assignment CTEs as embed_assign, then per-centroid bottom-k by
    // cosine (the Spark side runs the bounded-heap GroupedTopK exec)
    "embed_outliers" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] emb,
                     sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
                     FROM embeddings),
         cent AS (SELECT vec_id cid, emb cemb, nrm cnrm FROM e WHERE vec_id < $KCentroids),
         scored AS (SELECT e.vec_id, cent.cid,
                      list_inner_product(e.emb, cent.cemb) / (e.nrm * cent.cnrm) AS cos
                    FROM e CROSS JOIN cent),
         best AS (SELECT vec_id, cid, cos,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) arn
                  FROM scored)
         SELECT cid AS centroid, vec_id, cos,
           row_number() OVER (PARTITION BY cid ORDER BY cos ASC, vec_id ASC) AS rn
         FROM best WHERE arn = 1
         QUALIFY rn <= $OutlierK""",
    "embed_covariance" ->
      s"""WITH $duckCovCtes
         SELECT dim_i, dim_j, n, cov FROM cov""",
    "embed_pca" -> {
      val iters = (1 to PcaIterations).map { k =>
        s"""y$k AS (SELECT f.i, CAST(sum(CAST(f.c * v.x AS DECIMAL(38,12))) AS DOUBLE) AS y
             FROM full_m f JOIN v${k - 1} v ON v.i = f.j GROUP BY 1),
           n$k AS (SELECT sqrt(CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
             FROM y$k),
           v$k AS (SELECT i, y / nrm AS x FROM y$k, n$k)"""
      }.mkString(",\n")
      s"""WITH $duckCovCtes,
         full_m AS (SELECT dim_i AS i, dim_j AS j, cov AS c FROM cov
                    UNION ALL SELECT dim_j, dim_i, cov FROM cov WHERE dim_i <> dim_j),
         dd AS (SELECT count(DISTINCT i) AS d FROM full_m),
         v0 AS (SELECT DISTINCT i, 1.0 / sqrt(CAST(d AS DOUBLE)) AS x FROM full_m, dd),
         $iters,
         yf AS (SELECT f.i, CAST(sum(CAST(f.c * v.x AS DECIMAL(38,12))) AS DOUBLE) AS y
                FROM full_m f JOIN v$PcaIterations v ON v.i = f.j GROUP BY 1),
         lam AS (SELECT CAST(sum(CAST(v.x * y.y AS DECIMAL(38,12))) AS DOUBLE) AS eigval
                 FROM v$PcaIterations v JOIN yf y ON y.i = v.i)
         SELECT v.i AS dim, v.x AS loading, eigval
         FROM v$PcaIterations v, lam"""
    },
    "embed_label_mean" ->
      """SELECT label, CAST(i AS BIGINT) AS dim,
           CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mean_val
         FROM (SELECT label, generate_subscripts(embedding, 1) AS i,
                 CAST(unnest(embedding) AS DOUBLE) AS x
               FROM embeddings)
         GROUP BY 1, 2""",
    "corpus_mixture" ->
      s"""WITH per AS (
           SELECT source, count(*) AS n_docs, CAST(sum(len(l)) AS BIGINT) AS n_tokens,
             CAST(sqrt(CAST(sum(len(l)) AS DOUBLE)) AS DECIMAL(38,6)) AS w
           FROM ($duckToksList) GROUP BY 1),
         tot AS (SELECT sum(w) AS tw FROM per)
         SELECT source, n_docs, n_tokens, CAST(w AS DOUBLE) AS weight,
           CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS p_sample,
           CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) * $MixtureBudget / CAST(n_tokens AS DOUBLE) AS epochs
         FROM per, tot""",
    "embed_kmeans_iter" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] emb,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
             FROM embeddings),
         cent AS (SELECT vec_id cid, emb cemb, nrm cnrm FROM e WHERE vec_id < $KCentroids),
         scored AS (SELECT e.vec_id, cent.cid,
             list_inner_product(e.emb, cent.cemb) / (e.nrm * cent.cnrm) AS cos
           FROM e CROSS JOIN cent),
         best AS (SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) rn
           FROM scored)
         SELECT b.cid AS centroid, CAST(i AS BIGINT) AS dim,
           CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mean_val
         FROM best b JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) v USING (vec_id)
         WHERE rn = 1 GROUP BY 1, 2""",
    // same top-K vocabulary cut, same zero-filled probability grid, the
    // same per-token quantized x·ln-terms, and Ln2 as a shared literal
    "source_js_divergence" ->
      s"""WITH tok AS (SELECT source, unnest(l) AS t FROM ($duckToksList)),
         v AS (SELECT t FROM (
             SELECT t, count(*) AS c FROM tok GROUP BY 1
             ORDER BY c DESC, t ASC LIMIT $JsVocabK)),
         sc AS (SELECT source, tok.t, count(*) AS c
           FROM tok JOIN v ON v.t = tok.t GROUP BY 1, 2),
         ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sc GROUP BY 1),
         grid AS (SELECT ns.source, v.t,
             CAST(coalesce(sc.c, 0) AS DOUBLE) / CAST(ns.n AS DOUBLE) AS p
           FROM ns CROSS JOIN v
           LEFT JOIN sc ON sc.source = ns.source AND sc.t = v.t),
         pair AS (SELECT a.source AS source_a, b.source AS source_b, a.p, b.p AS q
           FROM grid a JOIN grid b ON a.t = b.t AND a.source < b.source),
         terms AS (SELECT source_a, source_b, CAST(
             (CASE WHEN p > 0.0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END) +
             (CASE WHEN q > 0.0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)
             AS DECIMAL(38,9)) AS term
           FROM pair)
         SELECT source_a, source_b,
           CAST(sum(term) AS DOUBLE) / 2.0 AS js_nats,
           CAST(sum(term) AS DOUBLE) / 2.0 / $Ln2 AS js_bits
         FROM terms GROUP BY 1, 2""",
    "source_overlap" ->
      s"""WITH toks AS ($duckToksList),
         sh AS (SELECT DISTINCT source, ${TextHash.duckHash60Of("g")} sh
                FROM (SELECT source, ${duckNgrams(3)} g FROM toks)),
         sizes AS (SELECT source, count(*) n FROM sh GROUP BY 1)
         SELECT a.source AS source_a, b.source AS source_b, sa.n AS n_a, sb.n AS n_b,
           count(*) AS n_inter,
           CAST(count(*) AS DOUBLE) / (sa.n + sb.n - count(*)) AS jaccard
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
         JOIN sizes sa ON sa.source = a.source
         JOIN sizes sb ON sb.source = b.source
         GROUP BY 1, 2, 3, 4""",
    "source_overlap_kmv" ->
      s"""WITH toks AS ($duckToksList),
         sh AS (SELECT DISTINCT source, ${TextHash.duckHash60Of("g")} sh
                FROM (SELECT source, ${duckNgrams(3)} g FROM toks)),
         sk AS (SELECT source, sh FROM (
             SELECT source, sh, row_number() OVER (PARTITION BY source ORDER BY sh) rn
             FROM sh)
           WHERE rn <= $KmvK),
         srcs AS (SELECT DISTINCT source FROM sk),
         pairs AS (SELECT a.source source_a, b.source source_b
                   FROM srcs a, srcs b WHERE a.source < b.source),
         u AS (SELECT DISTINCT source_a, source_b, sh FROM (
             SELECT p.source_a, p.source_b, s.sh
             FROM pairs p JOIN sk s ON s.source = p.source_a
             UNION ALL
             SELECT p.source_a, p.source_b, s.sh
             FROM pairs p JOIN sk s ON s.source = p.source_b)),
         topu AS (SELECT source_a, source_b, sh FROM (
             SELECT source_a, source_b, sh,
               row_number() OVER (PARTITION BY source_a, source_b ORDER BY sh) rn
             FROM u)
           WHERE rn <= $KmvK)
         SELECT t.source_a, t.source_b,
           count(*) AS k_union,
           count(*) FILTER (WHERE ia.sh IS NOT NULL AND ib.sh IS NOT NULL) AS n_both,
           CAST(count(*) FILTER (WHERE ia.sh IS NOT NULL AND ib.sh IS NOT NULL) AS DOUBLE)
             / count(*) AS est_jaccard
         FROM topu t
         LEFT JOIN sk ia ON ia.source = t.source_a AND ia.sh = t.sh
         LEFT JOIN sk ib ON ib.source = t.source_b AND ib.sh = t.sh
         GROUP BY 1, 2""",
    "source_setalg_kmv" -> {
      def est(cnt: String, maxh: String) =
        s"""CASE WHEN $cnt < $KmvK THEN CAST($cnt AS DOUBLE)
            ELSE ${(KmvK - 1).toDouble} * CAST($KmvSpace AS DOUBLE) /
              CAST($maxh AS DOUBLE) END"""
      def grid(e: String) = s"CAST(CAST($e AS DECIMAL(38,6)) AS DOUBLE)"
      s"""WITH toks AS ($duckToksList),
         sh AS (SELECT DISTINCT source, ${TextHash.duckHash60Of("g")} sh
                FROM (SELECT source, ${duckNgrams(3)} g FROM toks)),
         sk AS (SELECT source, sh FROM (
             SELECT source, sh, row_number() OVER (PARTITION BY source ORDER BY sh) rn
             FROM sh)
           WHERE rn <= $KmvK),
         sstats AS (SELECT source, count(*) AS cnt, max(sh) AS maxh FROM sk GROUP BY 1),
         pairs AS (SELECT a.source source_a, b.source source_b
                   FROM sstats a, sstats b WHERE a.source < b.source),
         u AS (SELECT DISTINCT source_a, source_b, sh FROM (
             SELECT p.source_a, p.source_b, s.sh
             FROM pairs p JOIN sk s ON s.source = p.source_a
             UNION ALL
             SELECT p.source_a, p.source_b, s.sh
             FROM pairs p JOIN sk s ON s.source = p.source_b)),
         topu AS (SELECT source_a, source_b, sh FROM (
             SELECT source_a, source_b, sh,
               row_number() OVER (PARTITION BY source_a, source_b ORDER BY sh) rn
             FROM u)
           WHERE rn <= $KmvK),
         ustats AS (SELECT t.source_a, t.source_b,
             count(*) AS k_union, max(t.sh) AS umaxh,
             count(*) FILTER (WHERE ia.sh IS NOT NULL AND ib.sh IS NOT NULL) AS n_both
           FROM topu t
           LEFT JOIN sk ia ON ia.source = t.source_a AND ia.sh = t.sh
           LEFT JOIN sk ib ON ib.source = t.source_b AND ib.sh = t.sh
           GROUP BY 1, 2),
         g AS (SELECT u.source_a, u.source_b,
             ${grid(est("sa.cnt", "sa.maxh"))} AS est_a,
             ${grid(est("sb.cnt", "sb.maxh"))} AS est_b,
             ${grid(est("u.k_union", "u.umaxh"))} AS est_union,
             ${grid(s"""(CAST(u.n_both AS DOUBLE) / CAST(u.k_union AS DOUBLE)) *
               (${est("u.k_union", "u.umaxh")})""")} AS est_inter
           FROM ustats u
           JOIN sstats sa ON sa.source = u.source_a
           JOIN sstats sb ON sb.source = u.source_b)
         SELECT source_a, source_b, est_a, est_b, est_union, est_inter,
           greatest(CAST(0 AS DOUBLE), est_a - est_inter) AS est_a_only,
           greatest(CAST(0 AS DOUBLE), est_b - est_inter) AS est_b_only
         FROM g"""
    },
    "curate_dsir" ->
      s"""WITH toks AS (SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '${Tokenize.WordPattern}'), x -> x <> '') l
           FROM documents),
         f AS (SELECT doc_id, ${TextHash.duckHash60Of("b")} % $DsirBuckets AS bucket, lang
               FROM (SELECT doc_id, lang, ${duckNgrams(2)} b FROM toks)),
         raw AS (SELECT bucket, count(*) cr FROM f GROUP BY 1),
         tgt AS (SELECT bucket, count(*) ct FROM f WHERE lang = '$DsirTargetLang' GROUP BY 1),
         tots AS (SELECT CAST(count(*) AS DOUBLE) nr,
             CAST(count(*) FILTER (WHERE lang = '$DsirTargetLang') AS DOUBLE) nt FROM f),
         w AS (SELECT bucket,
             CAST(ln(CAST(coalesce(ct, 0) AS DOUBLE) + 1.0) - ln(nt + $DsirBuckets.0)
                - ln(CAST(cr AS DOUBLE) + 1.0) + ln(nr + $DsirBuckets.0) AS DECIMAL(38,6)) lw
           FROM raw LEFT JOIN tgt USING (bucket), tots)
         SELECT doc_id, count(*) AS n_feats,
           CAST(sum(lw) AS DOUBLE) AS log_weight,
           CAST(sum(lw) AS DOUBLE) / count(*) AS mean_log_ratio
         FROM f JOIN w USING (bucket) GROUP BY 1"""
  )
}
