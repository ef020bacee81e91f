package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt
import graft.Tables
import graft.text.Tokenize
import graft.functions.TextHash

/** Text-analysis operators for training-data curation: language
  * identification (token-marker heuristic), quality scoring, token
  * counting (whitespace + BPE-ish regex), and document fingerprinting
  * (canonical md5 + polynomial rolling hash).
  *
  * Everything is scan → project/agg with codegen'd built-ins — one pass
  * over the corpus, embarrassingly parallel, no shuffle except the final
  * per-doc aggregation where one is needed.
  *
  * Determinism: ratios are single IEEE divisions of exact integers; the
  * rolling hash is 60-bit modular arithmetic (no overflow in a signed 64);
  * both reproduce bit-identically in the DuckDB oracle.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** Marker tokens per language for the n-gram/stopword language-ID
    * heuristic. Ordered list: ties resolve to the first language in this
    * order (deterministic CASE chain, identical in the oracle).
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "to", "and", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "que"),
    "fr" -> Seq("le", "la", "de", "et", "est", "les"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "bu")
  )

  /** Stopwords for the quality score (drawn from the corpus vocabulary so
    * the ratio is meaningful on the synthetic fixture).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  val RollPrime = 999999999999989L // largest prime < 1e15: 31*p + 2^60 fits a signed 64

  private def toks(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(Tokenize.tokenCol(col("text"))).as("t"))
      .filter(col("t") =!= "")

  /** Language ID: per-language marker-token counts, argmax with a
    * deterministic tie order; emits the prediction, its score, and
    * agreement with the labeled `lang` column.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val aggs = Markers.map { case (lang, ms) =>
      count(when(col("t").isin(ms: _*), 1)).as(s"s_$lang")
    }
    val scored = toks(s, dir)
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
    val scoreCols          = Markers.map { case (lang, _) => col(s"s_$lang") }
    val best               = greatest(scoreCols: _*)
    val pred: Column = Markers
      .foldRight(lit(null).cast("string")) { case ((lang, _), els) =>
        when(col(s"s_$lang") === best, lang).otherwise(els)
      }
    scored
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
      .select(
        col("doc_id"),
        pred.as("pred_lang"),
        best.as("score"),
        (pred === col("lang")).as("agrees"))
  }

  /** Confusion matrix of the [[langId]] heuristic against the corpus's
    * labeled `lang` column — the model-eval primitive (per-label recall,
    * cross-label confusion mass) run as a first-class query: any
    * classifier whose predictions land in a column gets its eval this
    * way. Scale shape: the language grid is |langs|² rows, so after
    * [[langId]]'s per-doc aggregation the rollup is one tiny shuffle and
    * the per-label totals broadcast back.
    */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    val conf = langId(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
    val tot = conf.groupBy("lang").agg(sum(col("n")).as("tot"))
    conf.join(broadcast(tot), "lang")
      .select(
        col("lang"), col("pred_lang"), col("n"),
        (col("n").cast("double") / col("tot")).as("frac_of_label"))
  }

  /** Quality scoring: token counts, type-token ratio, stopword ratio,
    * mean token length, and a fixed-weight composite score.
    */
  def quality(s: SparkSession, dir: String): DataFrame =
    toks(s, dir)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        count_distinct(col("t")).as("n_types"),
        sum(length(col("t"))).as("sum_len"),
        count(when(col("t").isin(Stopwords: _*), 1)).as("n_stop"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_types"),
        (col("sum_len").cast("double") / col("n_tokens")).as("avg_token_len"),
        (col("n_types").cast("double") / col("n_tokens")).as("type_token_ratio"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        // fixed-weight composite; every term is a single IEEE op chain
        // written identically in the oracle
        (lit(0.4) * (col("n_types").cast("double") / col("n_tokens")) +
          lit(0.3) * (col("n_stop").cast("double") / col("n_tokens")) +
          lit(0.3) * least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)))
          .as("quality_score"))

  /** Memoized [[quality]] output for downstream CONSUMERS (the
    * clustersApplyQuality / pipeline / curation callers — five queries
    * re-ran the full token-stream aggregation). Doc-bounded (one row per
    * document), so one checkpoint generation is cheap; the
    * `text_quality` catalog entry itself stays on the raw pipeline so
    * its plan remains the auditable surface.
    */
  private[graft] def qualityShared(s: SparkSession, dir: String): DataFrame =
    graft.Ckpt.cached(s, s"text:quality:$dir")(quality(s, dir))

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single other non-space chars).
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), " +")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[\\p{L}]+|[0-9]+|[^\\p{L}0-9\\s]")).cast("long")
          .as("bpe_tokens"),
        col("n_chars"))

  /** Corpus n-gram statistics: top-20 word bigrams with deterministic
    * tiebreak — the collocation table every corpus report starts with.
    */
  def topBigrams(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      // materialize the token array BEFORE shingling: the shingle
      // transform's lambda references the token array per index, and an
      // inlined filter(split(...)) there re-tokenizes the whole document
      // for every element_at — O(tokens²) regex work per doc (the round-2
      // 12.4 s pathology). As a named column it binds to an attribute,
      // and CollapseProject keeps the projection (expensive alias,
      // multiple references), so tokenization happens once per document.
      .select(filter(Tokenize.tokenCol(col("text")), _ =!= "").as("toks"))
      .select(explode(graft.functions.TextHash.shingles(col("toks"), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(20)

  /** Unigram language-model scoring: train the LM on the corpus itself
    * (token → corpus count), then score every document by its mean token
    * negative log-likelihood `mean(ln N - ln c_t)` — the cheap perplexity
    * proxy used to rank documents for quality filtering (high mean NLL =
    * full of corpus-rare tokens). Two-pass shape: the token→count join is
    * left unhinted — by Heaps' law a 100 TB corpus has 10⁸–10⁹ distinct
    * types, far past any broadcast budget, so the planner/AQE must be free
    * to pick the shuffle hash join (and may still broadcast when a small
    * corpus makes the vocabulary tiny). Only the 1-row total-count scalar
    * is explicitly broadcast.
    *
    * Determinism: Spark's `ln` is StrictMath (fdlibm) while DuckDB's is
    * the platform libm — they disagree in the LAST ULP for some integer
    * arguments (e.g. ln 74), so no raw `ln` may reach an output column.
    * Every NLL is quantized through decimal(38,6) first; the mean sums
    * those quantized values and the max compares them.
    */
  def unigramLm(s: SparkSession, dir: String): DataFrame = {
    val t   = toks(s, dir)
    val tc  = t.groupBy("t").agg(count(lit(1)).as("c"))
    val tot = t.agg(count(lit(1)).cast("double").as("n_total"))
    val nllQ = (log(col("n_total")) - log(col("c").cast("double"))).cast("decimal(38,6)")
    t.join(tc, "t")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(nllQ).cast("double") / count(lit(1))).as("mean_nll"),
        max(nllQ).cast("double").as("max_nll"))
  }

  /** Bigram language-model scoring — the next-order refinement of
    * [[unigramLm]]: score each document by the mean conditional negative
    * log-likelihood `ln c(w1·) - ln c(w1 w2)` of its adjacent token
    * pairs (both counts trained on the corpus's own bigram stream, so
    * the conditional is a proper probability). Like the unigram LM, BOTH
    * model joins stay unhinted — bigram types outnumber unigram types,
    * so a forced broadcast would be even more wrong at scale; the
    * planner/AQE picks shuffle joins when the model tables outgrow the
    * broadcast budget.
    */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables
      .documents(s, dir)
      .select(col("doc_id"), filter(Tokenize.tokenCol(col("text")), _ =!= "").as("toks"))
      .select(col("doc_id"), explode(TextHash.shingles(col("toks"), 2)).as("b"))
      // tokens cannot contain spaces (the tokenizer splits on non-letter
      // runs), so the shingle's first space is an exact prefix boundary
      .withColumn("w1", substring_index(col("b"), " ", 1))
    val c2 = bg.groupBy("b").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("w1").as("w1c")).agg(count(lit(1)).as("c1"))
    // quantized before ANY aggregate — Spark's StrictMath ln and DuckDB's
    // libm ln differ in the last ulp for some counts (see unigramLm)
    val nllQ = (log(col("c1").cast("double")) - log(col("c2").cast("double")))
      .cast("decimal(38,6)")
    bg.join(c2, "b")
      .join(c1, col("w1") === col("w1c"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(nllQ).cast("double") / count(lit(1))).as("mean_nll"),
        max(nllQ).cast("double").as("max_nll"))
  }

  /** Absolute-discount mass for the Kneser–Ney model — 0.75 (Chen &
    * Goodman 1999's fixed-D variant) is exact in binary floating point,
    * so the discount itself contributes no cross-engine drift.
    */
  val KnDiscount = 0.75

  /** Interpolated Kneser–Ney bigram scoring — the smoothing [[bigramLm]]
    * deliberately lacks: the raw MLE conditional assigns the SAME
    * probability to a bigram seen 3/3 times in one rare context as to
    * one seen 30k/30k times, and generalizes nothing across contexts.
    * KN discounts every observed bigram by a fixed mass D and redistributes
    * it via the CONTINUATION probability — how many distinct left
    * contexts a word follows, not how often it occurs — the estimator
    * that famously scores "Francisco" low despite high raw frequency
    * because it only ever follows "San":
    *
    *   P(w2|w1) = [ max(c(w1 w2) − D, 0) + D · N1+(w1·) · N1+(·w2)/N1+(··) ]
    *              / c(w1·)
    *
    * with N1+(w1·) = distinct followers of w1, N1+(·w2) = distinct
    * contexts preceding w2, N1+(··) = total distinct bigram types. Each
    * document's score is the mean/max negative log of that probability
    * over its adjacent token pairs — the quality-filtering signal with
    * proper mass reserved for unseen continuations.
    *
    * Scale shape: the bigram stream is checkpointed once and feeds all
    * four model aggregations (type counts, follower/context fan-outs,
    * type total) plus the scoring join — the multi-consumer discipline
    * of [[llrTop]]; the three model joins stay unhinted (bigram-type and
    * vocabulary tables outgrow any broadcast budget at corpus scale, AQE
    * may still broadcast small ones); only the 1-row type-total rides as
    * an explicit broadcast. No zero/ln(0) path exists: every scored
    * bigram was trained on, so c ≥ 1 gives max(c−D,0) ≥ 0.25.
    *
    * Determinism: the probability is one fixed IEEE expression tree over
    * integer-valued doubles — both engines round each step identically —
    * and the `ln` (libm-divergent in the last ulp) quantizes through
    * decimal(38,6) before any aggregate, the [[unigramLm]] rule.
    */
  def bigramKn(s: SparkSession, dir: String): DataFrame =
    bigramKnOn(Ckpt.Stages(Tables.documents(s, dir), "text", dir))

  private[ops] def bigramKnOf(docs: DataFrame): DataFrame = bigramKnOn(Ckpt.Stages(docs))

  /** The bigram stream is the `kn-bg` stage ([[graft.Ckpt.Stages]]): the
    * catalog entry memoizes it per session — the returned frame scans it
    * lazily, so a per-invocation checkpoint could never be freed and
    * accumulated under repeated catalog runs — and
    * [[bigramKnOf]] materializes it once for that call.
    */
  private def bigramKnOn(h: Ckpt.Stages): DataFrame = {
    val bg = h.stage("kn-bg")(h.in
      .select(col("doc_id"), filter(Tokenize.tokenCol(col("text")), _ =!= "").as("toks"))
      .select(col("doc_id"), explode(TextHash.shingles(col("toks"), 2)).as("b"))
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .withColumn("w2", substring_index(col("b"), " ", -1)))
    val c2    = bg.groupBy("b").agg(count(lit(1)).as("c2"))
    val left  = bg.groupBy(col("w1").as("w1k"))
      .agg(count(lit(1)).as("c1"), countDistinct(col("b")).as("nfol"))
    val right = bg.groupBy(col("w2").as("w2k"))
      .agg(countDistinct(col("b")).as("nprec"))
    val types = c2.agg(count(lit(1)).cast("double").as("n_types"))
    val prob =
      (greatest(col("c2").cast("double") - lit(KnDiscount), lit(0.0)) +
        lit(KnDiscount) * col("nfol").cast("double") *
          (col("nprec").cast("double") / col("n_types"))) /
        col("c1").cast("double")
    val nllQ = (-log(prob)).cast("decimal(38,6)")
    bg.join(c2, "b")
      .join(left, col("w1") === col("w1k"))
      .join(right, col("w2") === col("w2k"))
      .crossJoin(broadcast(types))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(nllQ).cast("double") / count(lit(1))).as("mean_nll"),
        max(nllQ).cast("double").as("max_nll"))
  }

  /** CCNet-style perplexity buckets: scores quantize onto a 0.001-NLL
    * grid before ranking, so the per-language cumulative histogram runs
    * over the GRID (bounded by the NLL range — tens of thousands of rows
    * per language at any corpus size), never over the documents. Exact
    * per-document tertiles would need a per-language sort of every score
    * — the low-cardinality-window anti-pattern the catalog bans.
    */
  val PplGridScale = 3

  /** Perplexity bucketing (CCNet): score every document with the
    * [[unigramLm]] mean NLL, then split each language's corpus into
    * head / middle / tail thirds — the standard quality-tiering step
    * before mixing training data. Tertile thresholds come from a
    * cumulative count over the quantized-score histogram (integer
    * arithmetic: the first grid value with `3·cum ≥ n` / `3·cum ≥ 2n`),
    * broadcast back as a 5-row table; bucket assignment is then a pure
    * map-side comparison. Same two-pass aggregate→broadcast→map shape as
    * [[Stats.robustScale]], with the LM join as the scoring front end.
    */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    val t    = toks(s, dir)
    val tc   = t.groupBy("t").agg(count(lit(1)).as("c"))
    // Σ counts over the (small) vocabulary grid == count over the token
    // stream, without re-running tokenize+explode a third time (r15,
    // guide §2.3/§2.4)
    val tot  = tc.agg(sum(col("c")).cast("double").as("n_total"))
    val nllQ = (log(col("n_total")) - log(col("c").cast("double"))).cast("decimal(38,6)")
    val scored = t
      .join(tc, "t")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg((sum(nllQ).cast("double") / count(lit(1)))
        .cast(s"decimal(38,$PplGridScale)").as("sq"))
    val withLang = scored.join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
    val hist = withLang.groupBy("lang", "sq").agg(count(lit(1)).as("c"))
    val cum = Stats.rangeCum(hist, Seq("lang"), "sq", "c")
    val th = cum
      .groupBy("lang")
      .agg(
        min(when(col("cum") * 3 >= col("tot"), col("sq"))).as("t33"),
        min(when(col("cum") * 3 >= col("tot") * 2, col("sq"))).as("t66"))
    withLang
      .join(broadcast(th), "lang")
      .withColumn("bucket",
        when(col("sq") <= col("t33"), "head")
          .when(col("sq") <= col("t66"), "middle")
          .otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("sq")).cast("double").as("min_nll"),
        max(col("sq")).cast("double").as("max_nll"))
  }

  /** Per-document token-distribution Shannon entropy (nats) — the
    * repetitiveness signal orthogonal to [[Curation.repetition]]'s n-gram
    * ratios: `H = ln n - (Σ c·ln c)/n` over the doc's token counts. One
    * shuffle on (doc_id, token), then a per-doc rollup; `c·ln c` products
    * of exact integers go through the decimal sum.
    */
  def tokenEntropy(s: SparkSession, dir: String): DataFrame =
    toks(s, dir)
      .groupBy("doc_id", "t")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_toks"),
        sum((col("c").cast("double") * log(col("c").cast("double"))).cast("decimal(38,6)"))
          .cast("double").as("sclc"))
      .select(
        col("doc_id"),
        col("n_toks"),
        // the outer ln(n) is quantized with the whole expression — raw
        // lns never reach an output (StrictMath vs libm last-ulp skew)
        (log(col("n_toks").cast("double")) - col("sclc") / col("n_toks").cast("double"))
          .cast("decimal(38,6)").cast("double").as("entropy"))

  /** Minimum bigram support and result size for the PMI collocations. */
  val PmiMinCount = 5
  val PmiTopN     = 50

  /** Top collocations by pointwise mutual information
    * `ln(N·c12 / (c1·c2))` over corpus bigram/unigram counts with a
    * minimum-support cut — the other corpus-normalized score the
    * unigram-LM two-pass shape carries: count aggregates join back
    * unhinted (model tables outgrow any broadcast budget), the bigram
    * total rides as a 1-row broadcast, and the final top-N is a
    * TakeOrderedAndProject over the support-filtered survivors. The PMI
    * is quantized through decimal(38,6) (four lns — StrictMath/libm
    * last-ulp hazard) BEFORE ordering, with the bigram string as the
    * total tiebreak.
    */
  def pmiTop(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables
      .documents(s, dir)
      .select(filter(Tokenize.tokenCol(col("text")), _ =!= "").as("toks"))
      .select(explode(TextHash.shingles(col("toks"), 2)).as("b"))
    val c12 = bg.groupBy("b").agg(count(lit(1)).as("c12")).filter(col("c12") >= PmiMinCount)
    val uni = toks(s, dir).groupBy("t").agg(count(lit(1)).as("c"))
    val tot = bg.agg(count(lit(1)).cast("double").as("n_bg"))
    c12
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .withColumn("w2", substring_index(col("b"), " ", -1))
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .select(
        col("b").as("bigram"),
        col("c12"),
        (log(col("n_bg")) + log(col("c12").cast("double")) -
          log(col("c1").cast("double")) - log(col("c2").cast("double")))
          .cast("decimal(38,6)").cast("double").as("pmi"))
      .orderBy(desc("pmi"), asc("bigram"))
      .limit(PmiTopN)
  }

  /** Minimum bigram support and result size for the LLR collocations. */
  val LlrMinCount = 5
  val LlrTopN     = 50

  /** Top collocations by Dunning's log-likelihood ratio (G², Dunning
    * 1993) — the significance-test counterpart of [[pmiTop]]: PMI
    * over-rewards rare pairs (two hapaxes that co-occur once get a huge
    * score), while G² weighs the full 2×2 contingency table of
    * bigram-position counts, so high scores need both association AND
    * evidence mass. Cells use BIGRAM-POSITION marginals (bigrams whose
    * first word is w1, whose second is w2, total bigrams N) — the
    * construction that keeps every cell non-negative by identity, unlike
    * raw unigram counts. Zero cells contribute zero (their x·ln x limit),
    * and each zero guard coincides exactly with the denominator that
    * would vanish, so no ln(0)/division-by-zero path exists.
    *
    * Scale shape: the bigram stream is checkpointed once and feeds all
    * four count aggregations (support, two marginals, total) — the
    * [[graft.ops.Curation.kmvOverlapOf]] multi-consumer discipline;
    * marginal joins are unhinted (model tables outgrow broadcast), the
    * 1-row total rides as a broadcast, and the final top-N is a
    * TakeOrderedAndProject over support-filtered survivors. The G² is
    * quantized through decimal(38,6) before ordering (four lns —
    * StrictMath/libm last-ulp hazard), bigram string as total tiebreak.
    */
  def llrTop(s: SparkSession, dir: String): DataFrame =
    llrTopOn(Ckpt.Stages(Tables.documents(s, dir), "text", dir))

  private[ops] def llrTopOf(docs: DataFrame): DataFrame = llrTopOn(Ckpt.Stages(docs))

  /** The bigram stream is the `llr-bg` stage — see [[bigramKnOn]]. */
  private def llrTopOn(h: Ckpt.Stages): DataFrame = {
    val bg = h.stage("llr-bg")(h.in
      .select(filter(Tokenize.tokenCol(col("text")), _ =!= "").as("toks"))
      .select(explode(TextHash.shingles(col("toks"), 2)).as("b")))
    val c12 = bg.groupBy("b").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= LlrMinCount)
    val first  = bg.groupBy(substring_index(col("b"), " ", 1).as("w1"))
      .agg(count(lit(1)).as("c1"))
    val second = bg.groupBy(substring_index(col("b"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("c2"))
    val tot = bg.agg(count(lit(1)).cast("double").as("n_bg"))
    val n = col("n_bg")
    val k = col("c12").cast("double")
    val r = col("c1").cast("double")
    val c = col("c2").cast("double")
    val t11 = k * log(n * k / (r * c))
    val t12 = when(r - k > 0.0,
      (r - k) * log(n * (r - k) / (r * (n - c)))).otherwise(lit(0.0))
    val t21 = when(c - k > 0.0,
      (c - k) * log(n * (c - k) / ((n - r) * c))).otherwise(lit(0.0))
    val t22 = when(n - r - c + k > 0.0,
      (n - r - c + k) * log(n * (n - r - c + k) / ((n - r) * (n - c))))
      .otherwise(lit(0.0))
    c12
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .withColumn("w2", substring_index(col("b"), " ", -1))
      .join(first, "w1")
      .join(second, "w2")
      .crossJoin(broadcast(tot))
      .select(
        col("b").as("bigram"),
        col("c12"),
        (lit(2.0) * (t11 + t12 + t21 + t22))
          .cast("decimal(38,6)").cast("double").as("llr"))
      .orderBy(desc("llr"), asc("bigram"))
      .limit(LlrTopN)
  }

  /** Terms per language entering the Zipf fit. */
  val ZipfTopN = 1000

  /** Zipf-law exponent per language: least-squares slope of ln(frequency)
    * on ln(rank) over each language's [[ZipfTopN]] most frequent tokens —
    * the corpus-health diagnostic (natural text ≈ -1; pathological
    * corpora drift). The per-language ranking runs on [[graft.plans.GroupedTopK]]
    * (bounded per-group heaps, spill-guarded) instead of a window: the
    * ranked relation is the whole vocabulary, and a 5-partition window
    * sort over 10⁸ types is the low-cardinality-window anti-pattern the
    * catalog bans. The regression itself is five decimal-exact sums over
    * ≤[[ZipfTopN]] rows per language.
    */
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    val ltc = Tables
      .documents(s, dir)
      .select(col("lang"), explode(Tokenize.tokenCol(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("lang", "t")
      .agg(count(lit(1)).as("c"))
    val top = graft.plans.GroupedTopK.topK(
      ltc, keys = Seq("lang"), order = Seq("c" -> false, "t" -> true), k = ZipfTopN,
      rankName = "rnk")
    val x = log(col("rnk").cast("double"))
    val y = log(col("c").cast("double"))
    def dsumD(c: Column) = sum(c.cast("decimal(38,6)")).cast("double")
    top
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_terms"),
        dsumD(x).as("sx"),
        dsumD(y).as("sy"),
        dsumD(x * y).as("sxy"),
        dsumD(x * x).as("sxx"))
      .select(
        col("lang"),
        col("n_terms"),
        ((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx"))).as("zipf_slope"))
  }

  /** Document fingerprinting: md5 of the sorted-distinct-token canonical
    * form plus a polynomial rolling hash over the token stream
    * (order-sensitive — distinguishes permuted docs the canonical form
    * maps together).
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), Tokenize.tokenCol(col("text")).as("raw"))
      .select(col("doc_id"), filter(col("raw"), _ =!= "").as("toks"))
      .select(
        col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))).as("canonical_fp"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => (acc * 31 + TextHash.hash60(t)) % RollPrime).as("rolling_fp"))

  /** Canonical text normalization — the first stage of every dedup /
    * fingerprint pipeline: Unicode NFC (composed vs decomposed code
    * points hash differently; [[graft.functions.NfcNormalize]] is a
    * native codegen expression, see its doc for why not a UDF), then
    * lowercase, URL removal, whitespace collapse, trim. Pure projection:
    * embarrassingly parallel, zero shuffles, whole-stage codegen
    * end-to-end.
    *
    * Locale parity constraint: Spark's non-ASCII `lower()` delegates to
    * `String.toLowerCase()` under the JVM DEFAULT locale, while DuckDB's
    * is locale-independent — under e.g. tr_TR a dotted/dotless-i corpus
    * would diverge. The Verify/Bench harness mains pin `Locale.ROOT`
    * (production deployments should run the JVM with `-Duser.language`
    * pinned the same way).
    */
  def normalizeText(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        trim(regexp_replace(
          regexp_replace(
            graft.functions.TextFunctions.nfc(lower(col("text"))),
            "https?://\\S+", " "),
          "\\s+", " ")).as("norm_text"))

  /** Gopher-style quality-rule battery (Rae et al. 2021 §A1.1 — the
    * standard pre-training document filter): per-document word count
    * bounds, mean word length bounds, symbol-to-word ratio ('#' and
    * '...'), bullet-line and ellipsis-line ratios, alphabetic-word
    * fraction, and a stopword-presence floor, folded into one `keep`
    * verdict.
    *
    * Scale: every signal is an array/string expression over the doc's
    * own text — a pure projection with ZERO exchanges (pinned in
    * PlanAuditSpec), embarrassingly parallel at any corpus size, fully
    * inside whole-stage codegen. The catalog's other quality scorer
    * (`text_quality`) aggregates the exploded token stream; this one
    * demonstrates the shuffle-free formulation.
    */
  def gopherQuality(s: SparkSession, dir: String): DataFrame =
    gopherQualityOf(Tables.documents(s, dir))

  def gopherQualityOf(docs: DataFrame): DataFrame = {
    val stopArr = Stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    docs
      .withColumn("ws", expr("filter(split(text, ' +'), w -> w <> '')"))
      .withColumn("ls", split(col("text"), "\n"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_lines", size(col("ls")).cast("long"))
      .withColumn("sum_len",
        expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))"))
      .withColumn("n_hash",
        (length(col("text")) - length(regexp_replace(col("text"), "#", ""))).cast("long"))
      .withColumn("n_ellipsis",
        expr("(length(text) - length(replace(text, '...', ''))) div 3"))
      .withColumn("n_bullet",
        expr("size(filter(ls, l -> startswith(l, '- ') OR startswith(l, '* ')))").cast("long"))
      .withColumn("n_ell_end", expr("size(filter(ls, l -> l LIKE '%...'))").cast("long"))
      .withColumn("n_alpha", expr("size(filter(ws, w -> w RLIKE '\\\\p{L}'))").cast("long"))
      .withColumn("n_stop", expr(s"size(filter(ws, w -> array_contains($stopArr, w)))").cast("long"))
      .select(
        col("doc_id"),
        col("n_words"),
        (col("sum_len").cast("double") / col("n_words").cast("double")).as("mean_word_len"),
        ((col("n_hash") + col("n_ellipsis")).cast("double") / col("n_words").cast("double"))
          .as("symbol_ratio"),
        (col("n_bullet").cast("double") / col("n_lines").cast("double")).as("bullet_ratio"),
        (col("n_ell_end").cast("double") / col("n_lines").cast("double")).as("ellipsis_ratio"),
        (col("n_alpha").cast("double") / col("n_words").cast("double")).as("alpha_ratio"),
        col("n_stop"),
        (col("n_words").between(GopherMinWords, GopherMaxWords) &&
          (col("sum_len").cast("double") / col("n_words").cast("double")).between(3.0, 10.0) &&
          ((col("n_hash") + col("n_ellipsis")).cast("double") / col("n_words").cast("double")) <= 0.1 &&
          (col("n_bullet").cast("double") / col("n_lines").cast("double")) <= 0.9 &&
          (col("n_ell_end").cast("double") / col("n_lines").cast("double")) <= 0.3 &&
          (col("n_alpha").cast("double") / col("n_words").cast("double")) >= 0.8 &&
          col("n_stop") >= GopherMinStop).as("keep"))
  }

  /** [[gopherQuality]] rule bounds (the Gopher paper's, except the word
    * floor lowered to fit the synthetic docs' length distribution).
    */
  val GopherMinWords = 20L
  val GopherMaxWords = 100000L
  val GopherMinStop  = 2L

  /** One byte-pair-encoding merge-selection round at character level:
    * the most frequent adjacent character pairs across the corpus,
    * weighted by word frequency — the inner step of BPE tokenizer
    * training (Sennrich et al. 2016), whose scale shape is exactly this
    * aggregate-the-pair-stream query repeated per merge.
    *
    * Scale: pairs are generated from the WORD-FREQUENCY table (Heaps-law
    * bounded), not the raw token stream — the standard trick that makes
    * each merge round corpus-size-independent: one shuffle to build
    * (word, count), then pair extraction and the weighted count run over
    * distinct words only.
    */
  def bpePairs(s: SparkSession, dir: String): DataFrame =
    bpePairsOf(toks(s, dir))

  def bpePairsOf(tokens: DataFrame): DataFrame = {
    val wf = tokens.groupBy("t").agg(count(lit(1)).as("c"))
    wf.filter(length(col("t")) >= 2)
      .select(col("c"),
        explode(expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum(col("c")).as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(20)
  }

  /** Number of merge rounds [[bpeTrain]] unrolls (and its oracle mirrors
    * as chained CTEs).
    */
  val BpeRounds = 5

  /** Full iterative BPE tokenizer training (Sennrich et al. 2016) for
    * [[BpeRounds]] merges — the iterative flagship of the text family,
    * as [[graft.ops.Graph.pagerank]] is for graphs: each round counts
    * adjacent symbol pairs weighted by word frequency, adopts the most
    * frequent pair (count desc, then lexicographic — a total order, so
    * the learned merge table is deterministic), and rewrites every
    * word's symbol sequence. Emits one row per round: the adopted merge
    * and its count at adoption time.
    *
    * ENGINE-PARITY CORE: a word's symbol sequence is a chr(31)-joined
    * string (the unit separator can't occur inside `\\p{L}+` tokens),
    * so the merge rewrite is a literal `replace(s, l||chr(31)||r,
    * l||r)` — and literal replace has IDENTICAL left-to-right
    * non-overlapping semantics in Spark and DuckDB ("a a a" under
    * merge (a,a) becomes [aa, a] in both). No lambda-fold semantics to
    * keep in sync.
    *
    * Scale shape: every round runs over the WORD-FREQUENCY table
    * (Heaps-law bounded — millions of rows at 100 TB, not trillions),
    * never the corpus: one corpus shuffle builds (word, count), then
    * each round is pair-explode → partial-aggregated count → a
    * TakeOrderedAndProject top-1 → a 1-row broadcast onto the rewrite.
    * Each round's word table is localCheckpoint'ed and the one it
    * supersedes freed, so round k's plan never re-derives rounds
    * 1..k−1 and the loop holds two generations at most.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeFitShared(s, dir)._1

  /** Memoized BPE fit per (application, sf-dir), one [[graft.Ckpt]]
    * entry `text:bpe:<dir>`: text_bpe_train and text_bpe_apply consume
    * the SAME [[BpeRounds]]-round training loop (~2 eager checkpoint
    * actions per round), and each used to re-run it privately per
    * invocation (r15, guide §2.4). Both frames are Heaps-bounded word
    * tables held as executor blocks; they stay for the session and are
    * freed together by `Ckpt.release` or eviction.
    */
  private def bpeFitShared(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Ckpt.cachedPair(s, s"text:bpe:$dir")(bpeFit(toks(s, dir)))

  def bpeTrainOf(tokens: DataFrame): DataFrame = {
    val (merges, seg) = bpeFit(tokens)
    Ckpt.free(seg)
    merges
  }

  /** The shared train loop: returns the learned merge table (round,
    * l_sym, r_sym, n) AND the final segmented word table (t, s, c) --
    * both checkpointed; the caller frees whichever it doesn't keep.
    */
  private[graft] def bpeFit(tokens: DataFrame): (DataFrame, DataFrame) = {
    var words = tokens.groupBy("t").agg(count(lit(1)).as("c"))
      .select(col("t"), expr(
        "array_join(transform(sequence(1, length(t)), i -> substring(t, i, 1)), chr(31))")
        .as("s"), col("c"))
      .transform(Ckpt.apply)
    val bests = Seq.newBuilder[DataFrame]
    for (round <- 1 to BpeRounds) {
      val pairs = words
        .select(col("c"), split(col("s"), "\u001f").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(a) - 1), " +
            "i -> struct(element_at(a, i) AS l_sym, element_at(a, i + 1) AS r_sym))"))
          .as("p"))
        .groupBy(col("p.l_sym").as("l_sym"), col("p.r_sym").as("r_sym"))
        .agg(sum(col("c")).as("n"))
      val best = pairs
        .orderBy(desc("n"), asc("l_sym"), asc("r_sym"))
        .limit(1)
        .transform(Ckpt.apply) // 1 row; frees the pair scan for reuse below
      bests += best.withColumn("round", lit(round.toLong))
      val next = words
        .crossJoin(broadcast(best.select(col("l_sym"), col("r_sym"))))
        .select(col("t"), expr(
          "replace(s, concat(l_sym, chr(31), r_sym), concat(l_sym, r_sym))").as("s"),
          col("c"))
        .transform(Ckpt.apply)
      Ckpt.free(words)
      words = next
    }
    val merges = bests.result().reduce(_ union _)
      .select(col("round"), col("l_sym"), col("r_sym"), col("n"))
    (merges, words)
  }

  /** BPE tokenization APPLY step: segment every document with the merge
    * table [[bpeTrain]] just learned and report per-doc subword
    * statistics -- `fertility` (subwords per word) is THE standard
    * tokenizer-quality metric per corpus slice (a tokenizer trained on
    * one language has fertility ~1.x there and blows up on unseen
    * scripts, which is how training-data language mix problems surface).
    *
    * Scale shape: segmentation cost lives on the Heaps-bounded word
    * table (the final generation of the training loop, already
    * materialized), so the only corpus-sized work is ONE hash equi-join
    * of the token stream against (word -> subword count) -- the
    * [[unigramLm]] vocabulary-join shape, deliberately unhinted so AQE
    * picks broadcast vs shuffle from measured sizes -- plus the per-doc
    * partial+final aggregate.
    */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val (_, seg) = bpeFitShared(s, dir)
    val nsub = seg.select(col("t"),
      size(split(col("s"), "\u001f")).cast("long").as("nsub"))
    // join the session-memoized COMPACT (doc, term, tf) table instead of
    // the raw token stream (r15, guide §2.3 — aggregate before the
    // join): per-doc word/subword totals weight by tf, so the join
    // carries |doc × distinct-term| rows, not |occurrences|, and the
    // per-invocation tokenize pass disappears. Σtf == count over the
    // stream and Σ tf·nsub == Σ nsub over the stream — exact longs.
    graft.ops.Curation.tfAllShared(s, dir)
      .join(nsub, "t")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * col("nsub")).as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        (col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"))
  }

  /** Hashed-feature geometry for [[qualityClf]]: feature strings hash
    * into [[ClfBuckets]] buckets (the fastText trick — a fixed-width
    * weight vector regardless of vocabulary size), and each bucket's
    * weight is a deterministic pseudo-random integer in [-1000, 1000]
    * derived by Knuth's multiplicative hash, so the DuckDB oracle states
    * the identical model with no weight table shipped anywhere.
    */
  val ClfBuckets   = 1024L
  val ClfWeightA   = 2654435761L // Knuth multiplicative constant
  val ClfWeightMod = 2001L

  /** fastText-style quality classifier inference: word unigrams + bigrams
    * hash into a fixed bucket space, the doc score is the mean bucket
    * weight, and the keep verdict is its sign — the linear-classifier
    * quality filter (CCNet / LLaMA-style) as one embarrassingly parallel
    * pass.
    *
    * Scale shape: features never materialize as strings past the hash —
    * each token/bigram row becomes an integer weight immediately, and the
    * only shuffle is the per-doc partial+final sum of (count, Σw). The
    * weight "vector" is arithmetic, so nothing broadcasts; a learned
    * model of [[ClfBuckets]] floats would broadcast in one block.
    * Determinism: integer count and integer weight sum, then ONE IEEE
    * division — no float accumulation order anywhere.
    */
  def qualityClf(s: SparkSession, dir: String): DataFrame =
    clfFeats(s, dir)
      .select(
        col("doc_id"),
        col("n_feats"),
        (col("snum").cast("double") / (col("n_feats") * 1000L).cast("double")).as("score"),
        (col("snum") >= 0).as("keep"))

  /** Memoized per-doc classifier feature aggregate (doc_id, lang,
    * n_feats, snum) — the tokenize + unigram/bigram explode + per-feature
    * md5 hash pass that text_quality_clf, clf_auc AND clf_calibration
    * each re-ran per invocation (r15, guide §2.4; the md5 feature hash is
    * the dominant per-row cost and is pinned by the oracle, so sharing
    * the pass is the only way to pay it once). lang rides as a
    * functionally-dependent group key (doc_id is unique), so dropping it
    * reproduces the lang-free grouping exactly.
    */
  private def clfFeats(s: SparkSession, dir: String): DataFrame =
    graft.Ckpt.cached(s, s"text:clf-feats:$dir")(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        filter(Tokenize.tokenCol(col("text")), _ =!= "").as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("lang"),
        explode(concat(col("toks"), graft.functions.TextHash.shingles(col("toks"), 2))).as("f"))
      .select(col("doc_id"), col("lang"),
        (pmod(graft.functions.TextHash.hash60(col("f")), lit(ClfBuckets)) * ClfWeightA
          % ClfWeightMod - 1000L).as("w"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_feats"), sum("w").as("snum")))

  /** Exact ROC-AUC of the [[qualityClf]] score against an "is English"
    * reference label — the model-evaluation companion to the classifier:
    * AUC is the probability a random positive outranks a random negative,
    * computed exactly from tie-corrected rank statistics (AUC =
    * U/(n₊·n₋), the [[Stats.mannWhitneyOf]] identity), never from a
    * sampled or binned curve.
    *
    * Scale shape: the per-doc score pass is [[qualityClf]] itself; the
    * label attaches by carrying `lang` through the same per-doc
    * aggregation (zero extra joins over the corpus); scores collapse to
    * their distinct-value histogram and the cumulative negative-count
    * runs through [[Stats.rangeCum]]'s range-partitioned prefix sum
    * (via [[Stats.pairRankCum]]'s packed payload — one shared range
    * exchange). The final row is one global aggregate of exact integer
    * products.
    */
  def clfAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = scoredWithLang(s, dir)
    val cum = Stats.pairRankCum(scored, col("score"),
      col("lang") === "en", col("lang") =!= "en")
    val a = cum.agg(
      sum(col("ca")).as("np"),
      sum(col("cb")).as("nn"),
      sum((col("ca") * (col("cum") - col("cb"))).cast("decimal(38,0)")).as("u1"),
      sum((col("ca") * col("cb")).cast("decimal(38,0)")).as("utie"))
    def d(c: String) = col(c).cast("double")
    a.select(
      col("np").as("n_pos"),
      col("nn").as("n_neg"),
      ((d("u1") + lit(0.5) * d("utie")) / (d("np") * d("nn"))).as("auc"))
  }

  /** Reliability diagram + Brier decomposition for [[qualityClf]]: map
    * the score to a clipped linear probability p = clamp((score+1)/2),
    * bin into 10 fixed-width probability deciles, and report each bin's
    * size, mean predicted p, empirical positive rate (is-English), and
    * mean Brier term (p − y)² — the standard calibration audit for any
    * keep/drop filter before it gates a corpus.
    *
    * Scale shape: one [[qualityClf]] pass, then a partial+final
    * aggregate onto a ≤10-row grid — no joins, no windows. Determinism:
    * p and (p−y)² are IEEE-deterministic per doc; their per-bin sums go
    * through decimal(38,9) (order-independent — a raw double sum would
    * depend on partitioning), then one division. A binary double can
    * never sit exactly on a decimal half-ULP, so the decimal rounding
    * is engine-independent.
    */
  def clfCalibration(s: SparkSession, dir: String): DataFrame = {
    val p = greatest(lit(0.0), least(lit(1.0), (col("score") + 1.0) / 2.0))
    val y = when(col("lang") === "en", 1.0).otherwise(0.0)
    scoredWithLang(s, dir)
      .select(p.as("p"), y.as("y"))
      .groupBy(least(floor(col("p") * 10), lit(9.0)).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("p").cast("decimal(38,9)")).cast("double") / count(lit(1)))
          .as("mean_p"),
        (sum(col("y").cast("decimal(38,9)")).cast("double") / count(lit(1)))
          .as("pos_rate"),
        (sum(((col("p") - col("y")) * (col("p") - col("y"))).cast("decimal(38,9)"))
          .cast("double") / count(lit(1))).as("brier"))
  }

  /** Per-doc [[qualityClf]] score with the doc's `lang` carried through
    * the feature aggregation as a group key (doc_id is unique, so the
    * extra key changes no groups and costs no join).
    */
  private def scoredWithLang(s: SparkSession, dir: String): DataFrame =
    clfFeats(s, dir)
      .select(col("doc_id"), col("lang"),
        (col("snum").cast("double") / (col("n_feats") * 1000L).cast("double")).as("score"))

  /** Per-document trigram novelty: the share of a doc's distinct
    * trigrams whose corpus-wide FIRST occurrence (minimum doc_id) is
    * this doc — the "how much genuinely new text does this document
    * contribute" curation signal (a syndication copy scores ~0, fresh
    * content ~1; the per-doc complement of [[Dedup]]'s pairwise
    * overlap views). Documents with fewer than 3 tokens have no
    * trigrams and no row.
    *
    * Scale shape: reuses the dedup family's hashed shingle table
    * (8-byte keys), one partial-aggregated min per shingle, one
    * equi-join back, one per-doc count — every stage linear in the
    * shingle stream, no pair expansion at all.
    */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.docShingles(s, dir) // the memoized dedup-family table
    val first = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "sh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tri"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_tri"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_tri").cast("double")).as("novelty"))
  }

  /** Result size for [[rake]] — total order (score desc, phrase asc),
    * so the cap compiles to TakeOrderedAndProject.
    */
  val RakeTopN = 40

  /** MTLD factor threshold (the canonical 0.72 of McCarthy & Jarvis) and
    * the per-document token window the walk runs over — the cap bounds
    * BOTH engines' sequential state (the oracle unrolls the walk as a
    * recursive CTE whose row count is Σ min(len, cap)).
    */
  val MtldTtr       = 0.72
  val MtldMaxTokens = 120

  /** Catalog entry: MTLD lexical diversity per document. */
  def mtld(s: SparkSession, dir: String): DataFrame =
    mtldOf(Tables.documents(s, dir))

  /** MTLD — Measure of Textual Lexical Diversity (McCarthy & Jarvis
    * 2010), the length-robust replacement for the raw type-token ratio
    * already in [[quality]]: TTR decays mechanically with document
    * length, so a threshold on it misranks long documents; MTLD instead
    * walks the token stream counting how many times the RUNNING TTR
    * drains below [[MtldTtr]] (each drain = one "factor"), plus a
    * proportional partial factor for the leftover tail, and reports
    * tokens-per-factor. High MTLD = sustained lexical variety; low =
    * repetitive text (boilerplate, keyword stuffing) — a standard
    * quality-filter feature. Computed over the first [[MtldMaxTokens]]
    * tokens (a windowed estimate — the walk is inherently sequential,
    * and the window bounds the per-doc state in both engines). Text
    * that never drains (running TTR pinned at 1, zero factor mass)
    * scores its full token count — pure variety must not rank below
    * boilerplate.
    *
    * Scale shape: one tokenize, then a PER-DOCUMENT `aggregate` fold
    * over the (capped) token array — embarrassingly parallel across
    * documents, state bounded by the window. Determinism: the running
    * TTR is one IEEE divide of exact small ints per step and the
    * threshold compare uses the same literal in both engines; the
    * oracle's recursive CTE replays the identical walk step for step.
    */
  private[ops] def mtldOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      col("doc_id"),
      slice(filter(Tokenize.tokenCol(col("text")), _ =!= ""),
        1, MtldMaxTokens).as("toks"))
      .filter(size(col("toks")) > 0)
    val emptyTypes = array().cast("array<string>")
    val init = struct(
      lit(0L).as("factors"), lit(0L).as("t"), emptyTypes.as("types"))
    val fin = aggregate(
      col("toks"),
      init,
      (st, tok) => {
        val types1 = when(array_contains(st.getField("types"), tok),
          st.getField("types"))
          .otherwise(array_append(st.getField("types"), tok))
        val t1    = st.getField("t") + lit(1L)
        val ttr   = size(types1).cast("double") / t1.cast("double")
        val drain = ttr < lit(MtldTtr)
        struct(
          (st.getField("factors") + when(drain, 1L).otherwise(0L)).as("factors"),
          when(drain, 0L).otherwise(t1).as("t"),
          when(drain, emptyTypes).otherwise(types1).as("types"))
      })
    val tailT   = fin.getField("t")
    val tailTtr = size(fin.getField("types")).cast("double") / tailT.cast("double")
    val partial = when(tailT > 0L,
      (lit(1.0) - tailTtr) / (lit(1.0) - lit(MtldTtr))).otherwise(lit(0.0))
    val denom = fin.getField("factors").cast("double") + partial
    toks.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      fin.getField("factors").as("factors"),
      when(denom > 0.0, size(col("toks")).cast("double") / denom)
        .otherwise(size(col("toks")).cast("double")).as("mtld"))
  }

  /** Catalog entry: readability scores per document. */
  def readability(s: SparkSession, dir: String): DataFrame =
    readabilityOf(Tables.documents(s, dir))

  /** Flesch reading ease + Flesch-Kincaid grade per document — the
    * classic complexity features a quality mix balances on (a pretraining
    * mix that skews too easy or too hard both hurt): words from the
    * shared letter-run tokenizer, sentences as non-blank [.!?]+ segments,
    * and syllables approximated by ASCII VOWEL RUNS — the standard
    * dictionary-free proxy (one run ≈ one nucleus), chosen because it is
    * bit-reproducible in both engines' regex dialects (Java and RE2
    * agree on `[aeiou]+` extraction), unlike true hyphenation.
    *
    * Scale shape: pure scan-side projection — three regexp passes per
    * document, one row out, no shuffle at all (the text_normalize
    * discipline). Determinism: counts are exact ints; both scores are
    * single fixed-order IEEE chains over two int ratios; zero-word /
    * zero-sentence documents emit 0 for every ratio and score.
    */
  private[ops] def readabilityOf(docs: DataFrame): DataFrame = {
    val words     = size(filter(Tokenize.tokenCol(col("text")), _ =!= ""))
    val sentences = size(filter(split(col("text"), "[.!?]+"),
      x => x.rlike("\\p{L}")))
    val syllables = size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0)))
    val base = docs.select(
      col("doc_id"),
      words.cast("long").as("n_words"),
      sentences.cast("long").as("n_sentences"),
      syllables.cast("long").as("n_syllables"))
    val ok  = col("n_words") > 0L && col("n_sentences") > 0L
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    base.select(
      col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
      when(ok, wps).otherwise(0.0).as("words_per_sentence"),
      when(ok, spw).otherwise(0.0).as("syllables_per_word"),
      when(ok, lit(206.835) - lit(1.015) * wps - lit(84.6) * spw)
        .otherwise(0.0).as("flesch_ease"),
      when(ok, lit(0.39) * wps + lit(11.8) * spw - lit(15.59))
        .otherwise(0.0).as("fk_grade"))
  }

  /** Vocabulary-size design points for [[vocabCoverage]]. */
  val CoverageNs: Seq[Long] = Seq(100L, 1000L, 10000L)

  /** Vocabulary coverage curve — the question a tokenizer design starts
    * with: what fraction of corpus token OCCURRENCES does a top-N
    * frequency vocabulary cover, at each design point in [[CoverageNs]]?
    * The complement is the OOV rate a closed vocab of that size would
    * pay; the curve's knee is where BPE merges stop earning their keep.
    *
    * Scale shape: one tokenize+count builds the vocab table (memoized
    * checkpoint — three design points scan it, not the corpus); each
    * top-N is a TakeOrderedAndProject over (cnt desc, token asc) — the
    * sanctioned global top-k shape, N-bounded — feeding a 1-row partial
    * aggregate; totals ride as a 1-row broadcast. Determinism: coverage
    * is one IEEE divide of exact longs; the rank-N boundary tie breaks
    * on the token string, total in both engines.
    */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val vocab = Ckpt.cached(s, s"text:vocab-cov:$dir")(
      toks(s, dir).groupBy("t").agg(count(lit(1)).as("cnt")))
    val tot = vocab.agg(
      sum(col("cnt")).as("total"), count(lit(1)).as("vocab_size"))
    val tops = CoverageNs.map { n =>
      vocab
        .orderBy(desc("cnt"), asc("t"))
        .limit(n.toInt)
        .agg(sum(col("cnt")).as("covered"), count(lit(1)).as("n_vocab_used"))
        .select(lit(n).as("top_n"), col("n_vocab_used"), col("covered"))
    }.reduce(_ union _)
    tops
      .crossJoin(broadcast(tot))
      .select(
        col("top_n"), col("n_vocab_used"), col("covered"),
        col("total"), col("vocab_size"),
        (col("covered").cast("double") / col("total").cast("double")).as("coverage"))
  }

  /** Catalog entry: RAKE keywords over the documents table. */
  def rake(s: SparkSession, dir: String): DataFrame =
    rakeOf(Tables.documents(s, dir))

  /** RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    * keyphrase scorer curation pipelines run to label corpus slices:
    * candidate phrases are maximal stopword-free token runs, each word
    * scores degree/frequency (degree = Σ length of phrases containing
    * it, so words living in long phrases outscore equally-frequent
    * words living alone), and a phrase scores the sum of its words'
    * scores. Identical phrases collapse with their occurrence count;
    * top [[RakeTopN]] by (score, phrase).
    *
    * Scale shape: tokenize + stopword-run segmentation is scan-side
    * except one PER-DOCUMENT window (bounded by document length — the
    * catalog's sanctioned window partitioning); word scores are one
    * grouped aggregate over the phrase-word stream; phrase assembly
    * sorts only within (doc, phrase) groups. Determinism: word scores
    * are int ratios quantized to decimal(38,9) BEFORE the order-free
    * phrase sum (the composite-sum rule); the final ranking never
    * consults an unquantized double.
    */
  private[ops] def rakeOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        posexplode(filter(Tokenize.tokenCol(col("text")), _ =!= "")))
      .withColumnRenamed("col", "t")
      .withColumn("stop", col("t").isin(Stopwords: _*))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val phrased = toks
      .withColumn("pid", sum(when(col("stop"), 1L).otherwise(0L)).over(w))
      .filter(!col("stop"))
      .select("doc_id", "pid", "pos", "t")
    val phrases = phrased
      .groupBy("doc_id", "pid")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t")), " ").as("phrase"),
        count(lit(1)).as("len"))
    val words = phrased.join(phrases.select("doc_id", "pid", "len"), Seq("doc_id", "pid"))
    val wscore = words
      .groupBy("t")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("t"),
        (col("deg").cast("double") / col("freq").cast("double"))
          .cast("decimal(38,9)").as("wscore"))
    val pscore = words
      .join(wscore, "t")
      .groupBy("doc_id", "pid")
      .agg(sum(col("wscore")).as("pscore"))
    phrases
      .join(pscore, Seq("doc_id", "pid"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), max(col("pscore")).as("ps"))
      .select(col("phrase"), col("n_occurrences"), col("ps").cast("double").as("score"))
      .orderBy(desc("score"), asc("phrase"))
      .limit(RakeTopN)
  }

  val queries: Map[String, Q] = Map(
    "text_rake"        -> (rake _),
    "text_mtld"        -> (mtld _),
    "text_readability" -> (readability _),
    "text_vocab_coverage" -> (vocabCoverage _),
    "text_novelty"     -> (novelty _),
    "text_quality_clf" -> (qualityClf _),
    "text_bpe_train"   -> (bpeTrain _),
    "text_bpe_apply"   -> (bpeApply _),
    "clf_auc"          -> (clfAuc _),
    "clf_calibration"  -> (clfCalibration _),
    "text_gopher"      -> (gopherQuality _),
    "text_bpe_pairs"   -> (bpePairs _),
    "text_normalize"   -> (normalizeText _),
    "text_lang_id"     -> (langId _),
    "text_langid_confusion" -> (langIdConfusion _),
    "text_quality"     -> (quality _),
    "text_token_count" -> (tokenCount _),
    "text_top_bigrams" -> (topBigrams _),
    "text_unigram_lm"  -> (unigramLm _),
    "text_bigram_lm"   -> (bigramLm _),
    "text_bigram_kn"   -> (bigramKn _),
    "text_entropy"     -> (tokenEntropy _),
    "text_zipf_slope"  -> (zipfSlope _),
    "text_pmi"         -> (pmiTop _),
    "text_collocation_llr" -> (llrTop _),
    "text_ppl_buckets" -> (pplBuckets _),
    "text_fingerprint" -> (fingerprint _)
  )

  private[ops] val duckToks =
    "SELECT doc_id, t FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS t FROM documents) WHERE t <> ''"

  /** The composite quality score of [[quality]] as a per-doc CTE body
    * (`SELECT doc_id, quality_score FROM (duckToks) GROUP BY 1`), shared
    * with [[graft.ops.Dedup]]'s quality-aware apply oracle so the score
    * has exactly one SQL definition.
    */
  private[ops] val duckQualityCte: String =
    s"""SELECT doc_id,
       0.4 * (CAST(count(DISTINCT t) AS DOUBLE) / count(*)) +
       0.3 * (CAST(count(*) FILTER (WHERE t IN ${inList(Stopwords)}) AS DOUBLE) / count(*)) +
       0.3 * least(CAST(count(*) AS DOUBLE) / 100.0, 1.0) AS quality_score
       FROM ($duckToks) GROUP BY 1"""

  /** Adjacent-pair (bigram) stream with its prefix token, via the same
    * 1-based position self-join as the text_top_bigrams oracle.
    */
  private val duckBigrams =
    """SELECT a.doc_id, a.t || ' ' || b.t AS b, a.t AS w1 FROM
         (SELECT doc_id, generate_subscripts(l, 1) i, unnest(l) t FROM
           (SELECT doc_id, list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '') l
            FROM documents)) a
       JOIN
         (SELECT doc_id, generate_subscripts(l, 1) i, unnest(l) t FROM
           (SELECT doc_id, list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '') l
            FROM documents)) b
       ON a.doc_id = b.doc_id AND b.i = a.i + 1"""

  private[ops] def inList(ms: Seq[String]) = ms.map(m => s"'$m'").mkString("(", ", ", ")")

  /** The [[bpeTrainOf]] oracle, generated for [[BpeRounds]] rounds: the
    * same loop unrolled as chained CTEs (w0 → p1/b1 → w1 → …), with the
    * merge rewrite as the SAME literal `replace` over chr(31)-joined
    * symbol strings — left-to-right non-overlapping in both engines.
    */
  private def duckBpeChain: String = {
    def pairs(w: String) =
      s"""SELECT l_sym, r_sym, sum(c) AS n FROM (
           SELECT a.x AS l_sym, b.x AS r_sym, a.c FROM
             (SELECT s, c, generate_subscripts(ll, 1) AS i, unnest(ll) AS x
              FROM (SELECT s, c, string_split(s, chr(31)) AS ll FROM $w) q1) a
           JOIN
             (SELECT s, generate_subscripts(ll, 1) AS i, unnest(ll) AS x
              FROM (SELECT s, string_split(s, chr(31)) AS ll FROM $w) q2) b
           ON a.s = b.s AND b.i = a.i + 1) GROUP BY 1, 2"""
    val rounds = (1 to BpeRounds).map { k =>
      s"""p$k AS (${pairs(s"w${k - 1}")}),
         b$k AS (SELECT l_sym, r_sym, n FROM p$k ORDER BY n DESC, l_sym, r_sym LIMIT 1),
         w$k AS (SELECT t, replace(s, l_sym || chr(31) || r_sym, l_sym || r_sym) AS s, c
                 FROM w${k - 1}, b$k)"""
    }.mkString(",\n")
    s"""WITH wf AS (SELECT t, count(*) AS c FROM ($duckToks) GROUP BY 1),
       w0 AS (SELECT t, array_to_string(
           list_transform(generate_series(1, length(t)), i -> substr(t, i, 1)),
           chr(31)) AS s, c FROM wf),
       $rounds"""
  }

  private def duckBpeTrain: String = {
    val out = (1 to BpeRounds)
      .map(k => s"SELECT CAST($k AS BIGINT) AS round, l_sym, r_sym, CAST(n AS BIGINT) AS n FROM b$k")
      .mkString(" UNION ALL ")
    s"""$duckBpeChain
       $out"""
  }

  private def duckBpeApply: String =
    s"""$duckBpeChain,
       seg AS (SELECT t, len(string_split(s, chr(31))) AS nsub FROM w$BpeRounds)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(nsub) AS BIGINT) AS n_subwords,
         CAST(sum(nsub) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
       FROM ($duckToks) tok JOIN seg USING (t) GROUP BY 1"""

  /** Per-doc classifier score with the doc's lang — the oracle twin of
    * [[scoredWithLang]], shared by clf_auc and clf_calibration.
    */
  private lazy val duckScored =
    s"""SELECT a.doc_id, d.lang, CAST(snum AS DOUBLE) / CAST(n_feats * 1000 AS DOUBLE) AS score
       FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, CAST(sum(w) AS BIGINT) AS snum
             FROM (SELECT doc_id,
                     (${graft.functions.TextHash.duckHash60Of("f")} % $ClfBuckets) * $ClfWeightA
                       % $ClfWeightMod - 1000 AS w
                   FROM (SELECT doc_id, t AS f FROM ($duckToks)
                         UNION ALL
                         SELECT doc_id, b AS f FROM ($duckBigrams)))
             GROUP BY 1) a
       JOIN documents d USING (doc_id)"""

  val oracle: Map[String, String] = Map(
    // same phrase segmentation (stopword-prefix-count window), the same
    // quantized word scores, the same exact decimal phrase sums; token
    // positions may have gaps (raw-split subscripts vs filtered-array
    // indexes) but only their ORDER is consumed
    "text_rake" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH toks AS (
           SELECT doc_id, i AS pos, t, t IN ($stopList) AS stop FROM (
             SELECT doc_id,
               generate_subscripts(regexp_split_to_array(text, '[^\\p{L}]+'), 1) AS i,
               unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS t
             FROM documents)
           WHERE t <> ''),
         phrased AS (
           SELECT doc_id, pos, t,
             sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
           FROM toks QUALIFY NOT stop),
         phrases AS (
           SELECT doc_id, pid,
             string_agg(t, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS len
           FROM phrased GROUP BY 1, 2),
         words AS (
           SELECT p.doc_id, p.pid, p.t, ph.len
           FROM phrased p JOIN phrases ph
             ON ph.doc_id = p.doc_id AND ph.pid = p.pid),
         wscore AS (
           SELECT t, CAST(CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS DECIMAL(38,9)) AS wscore
           FROM words GROUP BY 1),
         pscore AS (
           SELECT w.doc_id, w.pid, sum(ws.wscore) AS pscore
           FROM words w JOIN wscore ws ON ws.t = w.t
           GROUP BY 1, 2)
         SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(s.pscore) AS DOUBLE) AS score
         FROM phrases ph JOIN pscore s
           ON s.doc_id = ph.doc_id AND s.pid = ph.pid
         GROUP BY 1
         ORDER BY score DESC, phrase ASC LIMIT $RakeTopN"""
    },
    // same three regex passes (RE2 and Java agree on these patterns),
    // same guarded IEEE score chains
    "text_readability" ->
      """WITH c AS (
           SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}]+'),
               t -> t <> '')) AS BIGINT) AS n_words,
             CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
               s -> regexp_matches(s, '\p{L}'))) AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
               AS n_syllables
           FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 AND n_sentences > 0
             THEN CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
             ELSE 0.0 END AS words_per_sentence,
           CASE WHEN n_words > 0 AND n_sentences > 0
             THEN CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)
             ELSE 0.0 END AS syllables_per_word,
           CASE WHEN n_words > 0 AND n_sentences > 0
             THEN 206.835 -
               1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
               84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
             ELSE 0.0 END AS flesch_ease,
           CASE WHEN n_words > 0 AND n_sentences > 0
             THEN 0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) +
               11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59
             ELSE 0.0 END AS fk_grade
         FROM c""",
    // recursive-CTE replay of the mtldOf fold — same per-step IEEE
    // divide and 0.72 compare, same list state, same partial factor
    "text_mtld" -> {
      val types1 =
        "CASE WHEN list_contains(it.types, r.tk) THEN it.types ELSE list_append(it.types, r.tk) END"
      val drain =
        s"CAST(len($types1) AS DOUBLE) / CAST(it.t + 1 AS DOUBLE) < $MtldTtr"
      val partial =
        s"""CASE WHEN it.t > 0 THEN
             (1.0 - CAST(len(it.types) AS DOUBLE) / CAST(it.t AS DOUBLE)) / (1.0 - $MtldTtr)
           ELSE 0.0 END"""
      s"""WITH RECURSIVE toks AS (
           SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn, tk
           FROM (SELECT doc_id,
               generate_subscripts(regexp_split_to_array(text, '[^\\p{L}]+'), 1) AS i,
               unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS tk
             FROM documents)
           WHERE tk <> ''
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY i) <= $MtldMaxTokens),
         nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM toks GROUP BY 1),
         it AS (
           SELECT doc_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS factors,
             CAST(0 AS BIGINT) AS t, CAST([] AS VARCHAR[]) AS types
           FROM nt
           UNION ALL
           SELECT it.doc_id, it.i + 1,
             it.factors + CASE WHEN $drain THEN 1 ELSE 0 END,
             CASE WHEN $drain THEN 0 ELSE it.t + 1 END,
             CASE WHEN $drain THEN CAST([] AS VARCHAR[]) ELSE $types1 END
           FROM it JOIN toks r ON r.doc_id = it.doc_id AND r.rn = it.i + 1)
         SELECT it.doc_id, nt.n_tokens, it.factors,
           CASE WHEN CAST(it.factors AS DOUBLE) + $partial > 0.0
             THEN CAST(nt.n_tokens AS DOUBLE) / (CAST(it.factors AS DOUBLE) + $partial)
             ELSE CAST(nt.n_tokens AS DOUBLE) END AS mtld
         FROM it JOIN nt ON nt.doc_id = it.doc_id
         WHERE it.i = nt.n_tokens"""
    },
    // one vocab CTE, three ORDER BY cnt DESC, t ASC LIMIT N prefixes —
    // the same boundary tiebreak the engine's TakeOrderedAndProject uses
    "text_vocab_coverage" -> {
      val tops = CoverageNs.map { n =>
        s"""SELECT CAST($n AS BIGINT) AS top_n,
             CAST(count(*) AS BIGINT) AS n_vocab_used,
             CAST(sum(cnt) AS BIGINT) AS covered
           FROM (SELECT cnt FROM v ORDER BY cnt DESC, t ASC LIMIT $n)"""
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT t, count(*) AS cnt FROM ($duckToks) GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS vocab_size FROM v),
         tops AS ($tops)
         SELECT top_n, n_vocab_used, covered, total, vocab_size,
           CAST(covered AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
         FROM tops CROSS JOIN tot"""
    },
    "text_novelty" ->
      s"""WITH sh AS (${Dedup.duckShingles}),
         f AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         SELECT s.doc_id, count(*) AS n_tri,
           count(*) FILTER (WHERE first_doc = s.doc_id) AS n_novel,
           CAST(count(*) FILTER (WHERE first_doc = s.doc_id) AS DOUBLE) /
             CAST(count(*) AS DOUBLE) AS novelty
         FROM sh s JOIN f USING (sh) GROUP BY 1""",
    "text_quality_clf" ->
      s"""WITH feats AS (
           SELECT doc_id, t AS f FROM ($duckToks)
           UNION ALL
           SELECT doc_id, b AS f FROM ($duckBigrams)),
         w AS (SELECT doc_id,
                 (${TextHash.duckHash60Of("f")} % $ClfBuckets) * $ClfWeightA
                   % $ClfWeightMod - 1000 AS w
               FROM feats),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                   CAST(sum(w) AS BIGINT) AS snum
                 FROM w GROUP BY 1)
         SELECT doc_id, n_feats,
           CAST(snum AS DOUBLE) / CAST(n_feats * 1000 AS DOUBLE) AS score,
           (snum >= 0) AS keep
         FROM agg""",
    "text_bpe_train" -> duckBpeTrain,
    "text_bpe_apply" -> duckBpeApply,
    "clf_auc" ->
      s"""WITH scored AS ($duckScored),
         hist AS (SELECT score AS v,
             count(*) FILTER (WHERE lang = 'en') AS cp,
             count(*) FILTER (WHERE lang <> 'en') AS cn
           FROM scored GROUP BY 1),
         cum AS (SELECT cp, cn, sum(cn) OVER (ORDER BY v) AS cumn FROM hist)
         SELECT CAST(sum(cp) AS BIGINT) AS n_pos, CAST(sum(cn) AS BIGINT) AS n_neg,
           (CAST(sum(cp * (cumn - cn)) AS DOUBLE) + 0.5 * CAST(sum(cp * cn) AS DOUBLE))
             / (CAST(sum(cp) AS DOUBLE) * CAST(sum(cn) AS DOUBLE)) AS auc
         FROM cum""",
    "clf_calibration" ->
      s"""WITH scored AS ($duckScored),
         b AS (SELECT
             greatest(0.0, least(1.0, (score + 1) / 2)) AS p,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
           FROM scored)
         SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(p AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS mean_p,
           CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS pos_rate,
           CAST(sum(CAST((p - y) * (p - y) AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS brier
         FROM b GROUP BY 1""",
    "text_gopher" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH d AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, ' +'), w -> w <> '') AS ws,
             string_split(text, chr(10)) AS ls
           FROM documents),
         sig AS (
           SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_len,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
             CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
             CAST(len(list_filter(ls, l -> starts_with(l, '- ') OR starts_with(l, '* '))) AS BIGINT) AS n_bullet,
             CAST(len(list_filter(ls, l -> l LIKE '%...')) AS BIGINT) AS n_ell_end,
             CAST(len(list_filter(ws, w -> regexp_matches(w, '\\p{L}'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS BIGINT) AS n_stop
           FROM d)
         SELECT doc_id, n_words,
           CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
           CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(n_words AS DOUBLE) AS symbol_ratio,
           CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) AS bullet_ratio,
           CAST(n_ell_end AS DOUBLE) / CAST(n_lines AS DOUBLE) AS ellipsis_ratio,
           CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_ratio,
           n_stop,
           (n_words BETWEEN $GopherMinWords AND $GopherMaxWords
             AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0
             AND CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1
             AND CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.9
             AND CAST(n_ell_end AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.3
             AND CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8
             AND n_stop >= $GopherMinStop) AS keep
         FROM sig"""
    },
    "text_bpe_pairs" ->
      s"""WITH wf AS (SELECT t, count(*) AS c FROM ($duckToks) GROUP BY 1),
         p AS (SELECT c, substring(t, CAST(i AS INT), 2) AS pair
               FROM wf, unnest(generate_series(1::BIGINT, length(t)::BIGINT - 1)) u(i)
               WHERE length(t) >= 2)
         SELECT pair, CAST(sum(c) AS BIGINT) AS n
         FROM p GROUP BY 1
         ORDER BY n DESC, pair ASC LIMIT 20""",
    "text_normalize" ->
      """SELECT doc_id,
         trim(regexp_replace(regexp_replace(nfc_normalize(lower(text)),
           'https?://\S+', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
         FROM documents""",
    "text_lang_id" -> {
      val scores = Markers
        .map { case (lang, ms) => s"count(*) FILTER (WHERE t IN ${inList(ms)}) AS s_$lang" }
        .mkString(", ")
      val best = Markers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val pred = Markers
        .map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }
        .mkString("CASE ", " ", " END")
      s"""WITH scored AS (SELECT doc_id, $scores FROM ($duckToks) GROUP BY 1)
         SELECT scored.doc_id, $pred AS pred_lang, $best AS score,
           ($pred = d.lang) AS agrees
         FROM scored JOIN documents d ON scored.doc_id = d.doc_id"""
    },
    // same prediction CTE, rolled up to the label × prediction grid
    "text_langid_confusion" -> {
      val scores = Markers
        .map { case (lang, ms) => s"count(*) FILTER (WHERE t IN ${inList(ms)}) AS s_$lang" }
        .mkString(", ")
      val best = Markers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val pred = Markers
        .map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }
        .mkString("CASE ", " ", " END")
      s"""WITH scored AS (SELECT doc_id, $scores FROM ($duckToks) GROUP BY 1),
         conf AS (
           SELECT d.lang, $pred AS pred_lang, count(*) AS n
           FROM scored JOIN documents d ON scored.doc_id = d.doc_id
           GROUP BY 1, 2),
         tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM conf GROUP BY 1)
         SELECT conf.lang, pred_lang, n,
           CAST(n AS DOUBLE) / tot AS frac_of_label
         FROM conf JOIN tot ON tot.lang = conf.lang"""
    },
    "text_quality" ->
      s"""SELECT doc_id, count(*) AS n_tokens, count(DISTINCT t) AS n_types,
         CAST(sum(length(t)) AS DOUBLE) / count(*) AS avg_token_len,
         CAST(count(DISTINCT t) AS DOUBLE) / count(*) AS type_token_ratio,
         CAST(count(*) FILTER (WHERE t IN ${inList(Stopwords)}) AS DOUBLE) / count(*) AS stopword_ratio,
         0.4 * (CAST(count(DISTINCT t) AS DOUBLE) / count(*)) +
         0.3 * (CAST(count(*) FILTER (WHERE t IN ${inList(Stopwords)}) AS DOUBLE) / count(*)) +
         0.3 * least(CAST(count(*) AS DOUBLE) / 100.0, 1.0) AS quality_score
         FROM ($duckToks) GROUP BY 1""",
    "text_token_count" ->
      """SELECT doc_id, len(string_split_regex(trim(text), ' +')) AS ws_tokens,
         len(regexp_extract_all(text, '[\p{L}]+|[0-9]+|[^\p{L}0-9\s]')) AS bpe_tokens,
         n_chars FROM documents""",
    "text_top_bigrams" ->
      """SELECT a.t || ' ' || b.t AS bigram, count(*) AS n FROM
           (SELECT doc_id, generate_subscripts(l, 1) i, unnest(l) t FROM
             (SELECT doc_id, list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '') l
              FROM documents)) a
         JOIN
           (SELECT doc_id, generate_subscripts(l, 1) i, unnest(l) t FROM
             (SELECT doc_id, list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '') l
              FROM documents)) b
         ON a.doc_id = b.doc_id AND b.i = a.i + 1
         GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT 20""",
    "text_unigram_lm" ->
      s"""WITH t AS ($duckToks),
         tc AS (SELECT t, count(*) AS c FROM t GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM t)
         SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CAST(ln(n_total) - ln(CAST(c AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE)
             / count(*) AS mean_nll,
           CAST(max(CAST(ln(n_total) - ln(CAST(c AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS max_nll
         FROM t JOIN tc USING (t), tot GROUP BY 1""",
    "text_ppl_buckets" ->
      s"""WITH t AS ($duckToks),
         tc AS (SELECT t, count(*) AS c FROM t GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM t),
         scored AS (
           SELECT doc_id,
             CAST(CAST(sum(CAST(ln(n_total) - ln(CAST(c AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE)
               / count(*) AS DECIMAL(38,$PplGridScale)) AS sq
           FROM t JOIN tc USING (t), tot GROUP BY 1),
         wl AS (SELECT s.doc_id, d.lang, s.sq FROM scored s JOIN documents d USING (doc_id)),
         hist AS (SELECT lang, sq, count(*) AS c FROM wl GROUP BY 1, 2),
         cum AS (SELECT lang, sq, c,
             CAST(sum(c) OVER (PARTITION BY lang ORDER BY sq) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS tot
           FROM hist),
         th AS (SELECT lang,
             min(CASE WHEN cum * 3 >= tot THEN sq END) AS t33,
             min(CASE WHEN cum * 3 >= tot * 2 THEN sq END) AS t66
           FROM cum GROUP BY 1)
         SELECT lang,
           CASE WHEN sq <= t33 THEN 'head' WHEN sq <= t66 THEN 'middle' ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           CAST(min(sq) AS DOUBLE) AS min_nll, CAST(max(sq) AS DOUBLE) AS max_nll
         FROM wl JOIN th USING (lang) GROUP BY 1, 2""",
    "text_bigram_lm" ->
      s"""WITH bg AS ($duckBigrams),
         cb AS (SELECT b, count(*) AS nb FROM bg GROUP BY 1),
         cw AS (SELECT w1, count(*) AS nw FROM bg GROUP BY 1)
         SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(CAST(ln(CAST(nw AS DOUBLE)) - ln(CAST(nb AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE)
             / count(*) AS mean_nll,
           CAST(max(CAST(ln(CAST(nw AS DOUBLE)) - ln(CAST(nb AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS max_nll
         FROM bg JOIN cb USING (b) JOIN cw USING (w1) GROUP BY 1""",
    // same fixed IEEE expression tree as the Spark side: discount, the
    // continuation product, and the context division in identical order,
    // ln quantized through decimal(38,6) before any aggregate
    "text_bigram_kn" ->
      s"""WITH bg AS (SELECT doc_id, b, w1, split_part(b, ' ', 2) AS w2
                      FROM ($duckBigrams)),
         cb AS (SELECT b, count(*) AS c2 FROM bg GROUP BY 1),
         lf AS (SELECT w1, count(*) AS c1, count(DISTINCT b) AS nfol
                FROM bg GROUP BY 1),
         rt AS (SELECT w2, count(DISTINCT b) AS nprec FROM bg GROUP BY 1),
         tt AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM cb),
         sc AS (SELECT doc_id,
             CAST(-ln(
               (greatest(CAST(c2 AS DOUBLE) - $KnDiscount, 0.0) +
                $KnDiscount * CAST(nfol AS DOUBLE) *
                  (CAST(nprec AS DOUBLE) / n_types)) /
               CAST(c1 AS DOUBLE)) AS DECIMAL(38,6)) AS nll
           FROM bg JOIN cb USING (b) JOIN lf USING (w1) JOIN rt USING (w2), tt)
         SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(nll) AS DOUBLE) / count(*) AS mean_nll,
           CAST(max(nll) AS DOUBLE) AS max_nll
         FROM sc GROUP BY 1""",
    "text_entropy" ->
      s"""WITH dc AS (SELECT doc_id, t, count(*) AS c FROM ($duckToks) GROUP BY 1, 2),
         a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
             CAST(sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS sclc
           FROM dc GROUP BY 1)
         SELECT doc_id, n_toks,
           CAST(CAST(ln(CAST(n_toks AS DOUBLE)) - sclc / CAST(n_toks AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS entropy
         FROM a""",
    "text_pmi" ->
      s"""WITH bg AS (SELECT b FROM ($duckBigrams)),
         c12 AS (SELECT b, count(*) AS c12 FROM bg GROUP BY 1 HAVING count(*) >= $PmiMinCount),
         uni AS (SELECT t, count(*) AS c FROM ($duckToks) GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_bg FROM bg)
         SELECT b AS bigram, c12,
           CAST(CAST(ln(n_bg) + ln(CAST(c12 AS DOUBLE))
                - ln(CAST(u1.c AS DOUBLE)) - ln(CAST(u2.c AS DOUBLE))
                AS DECIMAL(38,6)) AS DOUBLE) AS pmi
         FROM c12
         JOIN uni u1 ON u1.t = split_part(b, ' ', 1)
         JOIN uni u2 ON u2.t = split_part(b, ' ', 2), tot
         ORDER BY pmi DESC, bigram ASC LIMIT $PmiTopN""",
    // identical contingency construction: bigram-position marginals,
    // zero cells contribute zero, same multiply/divide shape inside ln
    "text_collocation_llr" ->
      s"""WITH bg AS (SELECT b FROM ($duckBigrams)),
         c12 AS (SELECT b, count(*) AS c12 FROM bg GROUP BY 1
                 HAVING count(*) >= $LlrMinCount),
         f AS (SELECT split_part(b, ' ', 1) AS w, count(*) AS c1 FROM bg GROUP BY 1),
         sn AS (SELECT split_part(b, ' ', 2) AS w, count(*) AS c2 FROM bg GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM bg),
         cells AS (SELECT b, c12,
             CAST(c12 AS DOUBLE) AS k, CAST(c1 AS DOUBLE) AS r,
             CAST(c2 AS DOUBLE) AS c, n
           FROM c12
           JOIN f ON f.w = split_part(b, ' ', 1)
           JOIN sn ON sn.w = split_part(b, ' ', 2), tot)
         SELECT b AS bigram, c12,
           CAST(CAST(2.0 * (
             k * ln(n * k / (r * c)) +
             CASE WHEN r - k > 0 THEN (r - k) * ln(n * (r - k) / (r * (n - c)))
                  ELSE 0 END +
             CASE WHEN c - k > 0 THEN (c - k) * ln(n * (c - k) / ((n - r) * c))
                  ELSE 0 END +
             CASE WHEN n - r - c + k > 0
                  THEN (n - r - c + k) * ln(n * (n - r - c + k) / ((n - r) * (n - c)))
                  ELSE 0 END)
           AS DECIMAL(38,6)) AS DOUBLE) AS llr
         FROM cells
         ORDER BY llr DESC, bigram ASC LIMIT $LlrTopN""",
    "text_zipf_slope" ->
      s"""WITH ltc AS (
           SELECT lang, t, count(*) AS c FROM (
             SELECT lang, unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS t FROM documents)
           WHERE t <> '' GROUP BY 1, 2),
         top AS (
           SELECT lang, c,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, t ASC) AS rnk
           FROM ltc QUALIFY rnk <= $ZipfTopN),
         a AS (
           SELECT lang, count(*) AS n_terms,
             CAST(sum(CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(ln(CAST(rnk AS DOUBLE)) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS sxx
           FROM top GROUP BY 1)
         SELECT lang, n_terms,
           (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) AS zipf_slope
         FROM a""",
    "text_fingerprint" ->
      s"""SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(l)), ' ')) AS canonical_fp,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(l, t -> ${TextHash.duckHash60Of("t")})),
           (a, b) -> (a * 31 + b) % $RollPrime) AS rolling_fp
         FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '') l
               FROM documents)"""
  )
}
