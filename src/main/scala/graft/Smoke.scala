package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan}
import org.apache.spark.sql.types._

/** Pre-commit smoke gate: run EVERY catalog query end-to-end on a small
  * SF dir, each result read in full through [[Profile.profile]], and exit
  * non-zero if any fails to analyze or execute.
  *
  * Exists because of the round-6 postmortem: the driver regenerated
  * `events.parquet` with a different physical timestamp type and 12
  * queries silently dropped out of the correctness gate — the failure sat
  * in a spec that wasn't re-run against the new data before snapshotting.
  * This main is seconds of wall time at sf0.001 and catches any
  * schema-drift/analysis regression across the whole catalog, so it can
  * run before every commit (`tools/smoke.sh`).
  *
  * Also audits each as-run plan ([[audit]], which PlanAuditSpec's
  * full-catalog sweep runs too; it lives here, off the test classpath,
  * so it runs from a plain `java -cp`) for unsanctioned nested-loop
  * joins: a new query that accidentally plans a cartesian product fails
  * the smoke, not the 100×-bigger bench.
  *
  * Round 12 added the two other per-query audits:
  *  - output-type lint ([[outputTypeViolation]]): no DECIMAL/FLOAT result
  *    columns — the hash-compare class of bug that cost rounds 7-11
  *    (content_sig) is structurally impossible for new queries;
  *  - unpartitioned-window pin ([[unboundedGlobalWindow]]): an empty
  *    partitionSpec plans as ONE task; it must sit over a bounded
  *    (aggregate/limit/local) input or carry a [[GlobalWindowAllowed]]
  *    boundedness argument. Round 13 tightened [[bounded]] to a
  *    cardinality-path walk: id-grouped aggregates no longer bound (their
  *    output grows with the corpus), and a bounding node on the small
  *    side of a join no longer sanctions the fact-sized join output.
  *    Round 14 closes the last documented hole: a Generate exploding an
  *    aggregate-COLLECTED array only bounds when the collected input was
  *    itself bounded.
  */
object Smoke {

  /** The ONLY sanctioned nested-loop plans in the catalog — each build
    * side is a 1-row aggregate, a grid-bounded (hours × categories)
    * table, or the operator IS a cross join. Single source of truth:
    * both this smoke gate and PlanAuditSpec's full-catalog sweep audit
    * against this set, so the two can never drift apart. Every addition
    * needs a boundedness argument in the comment at the spec site.
    */
  val NestedLoopAllowed: Set[String] = Set(
    "cross_join", "scalar_subquery", "sim_topk", "dedup_clusters",
    "text_unigram_lm", "seq_pack", "text_pmi", "q11_important",
    "corpus_mixture", "text_ppl_buckets", "curate_dsir", "graph_pagerank",
    "text_bm25", "stats_chi2", "orders_rfm", "orders_abc", "orders_basket",
    "curate_curriculum", "events_ewma", "text_bpe_train", "stats_kendall",
    "stats_mutual_info",
    // source_overlap_kmv: the sources×sources pair grid — both sides are
    // k-row-sketch source lists, bounded by the source count, never the
    // corpus (the sketch build above it is equi-shuffled)
    "source_overlap_kmv",
    // sketch_bloom: the 1-row derived-geometry (bit-space size) broadcast
    "sketch_bloom",
    // embed_rp_audit: the audit's va<vb pair grid over the
    // NumQueryVecs-bounded query set (the projection itself is scan-side)
    "embed_rp_audit",
    // sim_recall_audit: its ground-truth side IS sim_topk's brute-force
    // path, so it inherits that query's sanctioned |Q|-row broadcast
    // against the candidate stream (the ANN side under audit is the
    // equi-joined LSH bucket join, no nested loop)
    "sim_recall_audit",
    // source_setalg_kmv: same sources×sources sketch-pair grid as
    // source_overlap_kmv — both sides bounded by the source count, the
    // corpus-sized shingle stream is equi-shuffled above it
    "source_setalg_kmv",
    // text_collocation_llr: the 1-row bigram-total broadcast, same
    // shape as text_pmi (marginal joins are unhinted equi-joins)
    "text_collocation_llr",
    // text_bigram_kn: the 1-row bigram-type-total broadcast (the three
    // model joins are unhinted equi-joins, same shape as text_bigram_lm)
    "text_bigram_kn",
    // sim_rrf_fusion: inherits sim_topk's sanctioned |Q|-row broadcast
    // (its semantic branch IS topkBrute) plus the 1-row corpus-stats
    // broadcast of the bm25 family; fusion itself is equi-joined over
    // k-bounded lists
    "sim_rrf_fusion",
    // stats_benford: the 1-row total broadcast over the <=9-row digit grid
    "stats_benford",
    // curate_t_closeness: the zero-fill cross of two GRID-bounded tables
    // (hours x value-buckets groups, sensitive types) plus the 1-row
    // total broadcast — never the corpus
    "curate_t_closeness",
    // events_survival_km: the 1-row global-max-timestamp broadcast
    // against the (type, user) aggregate — never the fact table
    "events_survival_km",
    // stats_cramers_v: the stats_chi2 cell grid verbatim (row x column
    // marginal cross bounded by the contingency grid, 1-row geometry
    // broadcast)
    "stats_cramers_v",
    // sim_ndcg_audit: its ground-truth side IS sim_topk's brute-force
    // path — the same sanctioned |Q|-row broadcast sim_recall_audit
    // inherits; the audit joins above it are equi-joins on (va, vb)
    "sim_ndcg_audit",
    // sim_mmr: the candidate pool is the sanctioned |Q|-row brute
    // broadcast; the one pool join above it is an equi-join on vb
    "sim_mmr",
    // text_vocab_coverage: the 1-row corpus-total broadcast against the
    // three 1-row top-N aggregates — never the corpus or the vocab
    "text_vocab_coverage",
    // stats_cohens_d: the type-count-bounded moment-table pair grid
    // (broadcast non-equi self-join) — never the fact table
    "stats_cohens_d",
    // stats_kruskal: the 1-row (N, tie-mass) broadcast against the 1-row
    // term aggregate — never the corpus or the value grid
    "stats_kruskal",
    // graph_homophily: the 1-row edge-total broadcast against the
    // language-pair-bounded grid
    "graph_homophily",
    // source_js_divergence: the sources × top-K-vocab zero-fill cross —
    // both sides bounded (source count, JsVocabK), never the corpus
    "source_js_divergence")

  /** Driver-safe output types: the DuckDB hash-compare layer canonicalizes
    * these identically across engines. DECIMAL is the documented
    * counter-example — the `content_sig` DECIMAL(38,0) output hashed
    * differently in the two engines for five rounds even though every
    * value matched (`ops/Storage.scala` SigMod scaladoc) — and FLOAT
    * formats with different precision than DOUBLE. Both stay legal
    * INSIDE a query (exact decimal sums, float embeddings); only the
    * RESULT schema is constrained. Arrays/structs/maps of safe leaves
    * are safe: the compare layer stringifies them element-wise.
    */
  def outputTypeViolation(schema: StructType): Option[String] = {
    def bad(dt: DataType): Option[String] = dt match {
      case _: DecimalType => Some(dt.simpleString)
      case FloatType      => Some(dt.simpleString)
      case a: ArrayType   => bad(a.elementType)
      case m: MapType     => bad(m.keyType).orElse(bad(m.valueType))
      case s: StructType  => s.fields.iterator.map(f => bad(f.dataType)).collectFirst { case Some(v) => v }
      case LongType | IntegerType | ShortType | ByteType | DoubleType | StringType |
           BooleanType | DateType | TimestampType | TimestampNTZType | BinaryType => None
      case other => Some(other.simpleString)
    }
    schema.fields.iterator
      .map(f => bad(f.dataType).map(t => s"${f.name}: $t"))
      .collectFirst { case Some(v) => v }
  }

  /** Queries sanctioned to run an UNPARTITIONED window whose input is not
    * self-evidently bounded (no aggregate / limit / local scan beneath it
    * in the same stage). Every entry carries a boundedness argument —
    * the same discipline as [[NestedLoopAllowed]]. An unpartitioned
    * window is planned as AllTuples = ONE task; over a fact table that is
    * the single-task-sort scale-killer, so additions here need a reason
    * the input cannot grow with the corpus.
    */
  val GlobalWindowAllowed: Set[String] = Set(
    // EMPTY by design: every unpartitioned window in the current catalog
    // sits over an aggregate / limit / local scan in the same traversable
    // plan, so the structural rule sanctions them all. The rangeCum
    // family's per-slice offset windows ride a pid-grouped aggregate;
    // seq_pack's lane scan rides the TokenBudget-bounded selection
    // aggregate; the smoothing/audit queries window over grid aggregates.
    // A new entry needs a boundedness argument, like NestedLoopAllowed.
  )

  /** Collect every node of the FINAL physical plan, descending through
    * AQE wrappers and query-stage boundaries. An adaptive plan is the
    * as-run plan only once the frame's own QueryExecution has run
    * ([[Profile.consume]]); a frame executed through another action
    * (`count()`, a write) ran a separate execution, and its own stays at
    * the initial plan. Wrapper recursion and subquery recursion are
    * independent — a subquery hanging directly off an AQE wrapper node is
    * still collected (round-12 advice: the old mutually-exclusive match
    * arms skipped it). A reused exchange is collected as one leaf: its
    * subtree ran once, where it was first planned, and is collected there.
    */
  def finalPlanNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = p.collect { case n => n }
    here ++ here.flatMap { n =>
      val wrapped = n match {
        case a: AdaptiveSparkPlanExec => finalPlanNodes(a.executedPlan)
        case q: QueryStageExec        => finalPlanNodes(q.plan)
        case _                        => Nil
      }
      wrapped ++ n.subqueries.flatMap(finalPlanNodes)
    }
  }

  /** The as-run shape of one plan: its shuffle exchanges read by
    * partition, its reused exchanges, its joins by kind
    * (BHJ/SHJ/SMJ/BNL/CART) and the graft operators that ran. It is the
    * row PlanAuditSpec pins per query, the nested-loop test of [[audit]]
    * and ScaleSweep's flip report. Read it after [[Profile.consume]].
    *
    * Broadcast exchanges are not counted: when both sides of a join are
    * small, AQE builds on the side whose stage finished first, which
    * decides whether a fresh broadcast runs or an earlier one is reused
    * (graph_pagerank ran one or two across runs of one commit). The
    * BHJ and BNL counts pin the broadcast choice itself.
    */
  final case class Shape(shuffles: Int, reused: Int, joins: Map[String, Int],
      graft: Map[String, Int]) {
    def nestedLoop: Boolean = joins.contains("BNL") || joins.contains("CART")

    /** Tab-separated: the exchange counts, then `name=count` lists (`-` when empty). */
    def tsv: String = (Seq(shuffles, reused) ++ Seq(joins, graft).map(m =>
      if (m.isEmpty) "-" else m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")))
      .mkString("\t")
  }

  def shape(plan: SparkPlan): Shape = {
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins._
    import graft.plans.{GroupedTopKExec, PartitionPrefixSumExec, SortedGroupReduceExec}
    val nodes = finalPlanNodes(plan)
    // a shuffle read only locally is the static plan's leftover under a
    // join AQE turned into a broadcast hash join; whether it ran depends
    // on which stage finished first, so it is not counted
    val localOnly = nodes.collect { case r: AQEShuffleReadExec if r.isLocalRead => r.child }
      .collect { case q: QueryStageExec => q.plan }
    def tally(kind: PartialFunction[SparkPlan, String]) =
      nodes.collect(kind).groupBy(identity).map { case (k, v) => k -> v.size }
    Shape(
      nodes.count(n => n.isInstanceOf[ShuffleExchangeLike] && !localOnly.exists(_ eq n)),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      tally {
        case _: BroadcastHashJoinExec       => "BHJ"
        case _: ShuffledHashJoinExec        => "SHJ"
        case _: SortMergeJoinExec           => "SMJ"
        case _: BroadcastNestedLoopJoinExec => "BNL"
        case _: CartesianProductExec        => "CART"
      },
      tally {
        case _: GroupedTopKExec        => "GroupedTopK"
        case _: PartitionPrefixSumExec => "PartitionPrefixSum"
        case _: SortedGroupReduceExec  => "SortedGroupReduce"
      })
  }

  /** Attribute names that look like per-entity keys: an aggregate GROUPED
    * on one of these has output that grows with the corpus (one row per
    * document/order/vector/...), so it does NOT bound a global window the
    * way a grid/scalar aggregate does. Name-based by necessity — plans
    * carry no cardinality proof — with [[GlobalWindowAllowed]] as the
    * documented escape for a key-grouped aggregate that IS bounded.
    * Grid keys like `pid` (partition id), `z` (z-order cell), `hour`
    * deliberately do not match.
    */
  def corpusKeyedName(name: String): Boolean = {
    val n = name.toLowerCase(java.util.Locale.ROOT)
    n == "id" || n.endsWith("_id") || n.endsWith("key") || n.endsWith("_key") ||
      n == "da" || n == "db" || n == "va" || n == "vb" ||
      n == "sh" || n == "sig" || n == "digest"
  }

  /** Structural row-boundedness of a plan subtree — the input-cardinality
    * walk behind [[unboundedGlobalWindow]]. Walks the CARDINALITY PATH
    * only (round-12 advice: the old any-node-beneath search sanctioned a
    * fact.join(aggregated_dim) input because the bounding aggregate sat on
    * the join's small side):
    *
    *  - aggregates bound only when grouped on grid/scalar keys (no
    *    [[corpusKeyedName]] columns — a `groupBy(doc_id)` output grows
    *    with the corpus) or when their own input is bounded;
    *  - limits / top-k / local scans / literal ranges bound;
    *  - joins: semi/anti emit ≤ |left| (left bounded suffices); all other
    *    types can emit up to |left|·|right|, so BOTH sides must bound;
    *  - unions need every branch bounded;
    *  - Generate (explode) RE-INFLATES whatever its input collected: an
    *    explode over `groupBy(grid).agg(collect_list(x))` has the
    *    cardinality of x's input, not of the grid, so a bounded
    *    aggregate child does NOT bound it unless what was collected was
    *    itself bounded ([[collectsUnbounded]] — closes the r13 residual);
    *  - other unary nodes pass through; leaves (file/RDD scans) do not
    *    bound.
    */
  def bounded(n: SparkPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.{GenerateExec, GlobalLimitExec, LocalLimitExec,
      LocalTableScanExec, RangeExec, TakeOrderedAndProjectExec, UnionExec}
    n match {
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case q: QueryStageExec        => bounded(q.plan)
      case r: ReusedExchangeExec    => bounded(r.child)
      case a: BaseAggregateExec =>
        a.groupingExpressions.isEmpty ||
          !a.groupingExpressions.exists(_.references.exists(r => corpusKeyedName(r.name))) ||
          bounded(a.child)
      case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec |
           _: LocalTableScanExec | _: RangeExec => true
      case j: BaseJoinExec => j.joinType match {
        case LeftSemi | LeftAnti | _: ExistenceJoin => bounded(j.left)
        case _ => bounded(j.left) && bounded(j.right)
      }
      case u: UnionExec => u.children.forall(bounded)
      // a filter on PartitionPrefixSum's cell-last marker keeps exactly
      // one row per (partition, groups) cell — bounded by cluster width ×
      // grid size, the same argument as the groupBy(pid, groups) subtotal
      // aggregate it replaced (r16 rangeCum), under the same grid-key rule.
      // In an as-run plan a codegen InputAdapter sits between the two.
      case f: org.apache.spark.sql.execution.FilterExec =>
        (f.child match { case i: InputAdapter => i.child; case c => c }) match {
          case p: graft.plans.PartitionPrefixSumExec
              if p.lastAttr.exists(a =>
                f.condition.references ==
                  org.apache.spark.sql.catalyst.expressions.AttributeSet(a)) &&
                !p.groups.exists(_.references.exists(r => corpusKeyedName(r.name))) =>
            true
          case c => bounded(c)
        }
      case g: GenerateExec => bounded(g.child) && !collectsUnbounded(g.child)
      case p if p.children.size == 1 => bounded(p.children.head)
      case _ => false
    }
  }

  /** True when the subtree's nearest aggregate (walking through unary
    * nodes and AQE wrappers) collects an UNBOUNDED input into arrays —
    * i.e. the aggregate's own output is bounded but an explode above it
    * would restore pre-aggregation (corpus) cardinality. Stops at
    * joins/leaves: a non-aggregate boundary carries no collect for the
    * Generate above it to re-inflate beyond [[bounded]]'s own verdict.
    *
    * The collected INPUT's boundedness is judged below the whole
    * aggregation — a collect aggregate plans as partial + final stages,
    * and the partial stage is itself "bounded" by the grid-key rule
    * even though its arrays hold corpus content, so the walk descends
    * through consecutive collect stages before asking [[bounded]].
    */
  private def collectsUnbounded(n: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    n match {
      case a: AdaptiveSparkPlanExec              => collectsUnbounded(a.executedPlan)
      case q: QueryStageExec                     => collectsUnbounded(q.plan)
      case r: ReusedExchangeExec                 => collectsUnbounded(r.child)
      case a: BaseAggregateExec if hasCollect(a) => collectInputUnbounded(a.child)
      case _: BaseAggregateExec                  => false // non-collect agg seals re-inflation
      case p if p.children.size == 1             => collectsUnbounded(p.children.head)
      case _                                     => false
    }
  }

  private def hasCollect(a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
    a.aggregateExpressions.exists(_.aggregateFunction match {
      case _: CollectList | _: CollectSet => true
      case _                              => false
    })
  }

  /** Boundedness of what a collect-aggregation actually COLLECTED:
    * descends through the aggregation's own partial/final stages (and
    * exchanges/unary nodes between them) to the true input subtree.
    */
  private def collectInputUnbounded(n: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    n match {
      case a: AdaptiveSparkPlanExec              => collectInputUnbounded(a.executedPlan)
      case q: QueryStageExec                     => collectInputUnbounded(q.plan)
      case r: ReusedExchangeExec                 => collectInputUnbounded(r.child)
      case a: BaseAggregateExec if hasCollect(a) => collectInputUnbounded(a.child)
      case e: Exchange                           => collectInputUnbounded(e.child)
      case p: ProjectExec                        => collectInputUnbounded(p.child)
      // an as-run plan's shuffle reads and codegen wrappers
      case w @ (_: AQEShuffleReadExec | _: WholeStageCodegenExec | _: InputAdapter) =>
        collectInputUnbounded(w.children.head)
      case other                                 => !bounded(other)
    }
  }

  /** Unpartitioned-window audit: every WindowExec / WindowGroupLimitExec
    * with an empty partitionSpec must have a row-[[bounded]] input —
    * otherwise the single AllTuples task sorts an input that grows with
    * the corpus. Returns the offending node's name, or None.
    */
  def unboundedGlobalWindow(plan: SparkPlan): Option[String] = {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    finalPlanNodes(plan).collectFirst {
      case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
        s"WindowExec(${w.windowExpression.mkString(",").take(80)})"
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
        s"WindowGroupLimitExec(limit=${w.limit})"
    }
  }

  /** The per-query plan audit: the first of the three audits that `name`
    * fails on `df`'s executed plan, as one line, or None. Read it after
    * [[Profile.consume]], so the plan audited is the plan that ran. Both
    * this smoke gate and PlanAuditSpec's full-catalog sweep run it.
    */
  def audit(name: String, df: DataFrame): Option[String] = {
    val plan = df.queryExecution.executedPlan
    // the round-7-11 bug class: a result column whose type the DuckDB
    // hash-compare canonicalizes differently (DECIMAL/FLOAT)
    outputTypeViolation(df.schema).map(v => s"SMOKE OUTPUT-TYPE: $name — $v")
      .orElse(unboundedGlobalWindow(plan).filterNot(_ => GlobalWindowAllowed(name))
        .map(w => s"SMOKE GLOBAL-WINDOW: $name — $w"))
      .orElse(Option.when(shape(plan).nestedLoop && !NestedLoopAllowed(name))(
        s"SMOKE NESTED-LOOP: $name"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.envCpus(), logLevel = "ERROR")

    // each query's first failed audit, read off the plan that ran
    val violation = scala.collection.mutable.Map[String, String]()
    var bad = 0
    for (r <- Profile.profile(spark, sfDir, Nil,
        (name, df) => audit(name, df).foreach(violation(name) = _))) {
      r.error.map(e => s"SMOKE FAIL: ${r.name} — $e").orElse(violation.get(r.name)) match {
        case Some(msg) =>
          println(msg)
          bad += 1
        case None if r.count == 0 =>
          // informational only: several queries are legitimately empty at
          // sf0.001 (selective TPC-H filters on ~6k lineitem rows); the
          // driver's DuckDB gate compares exact row counts at sf0.01
          println(s"smoke empty (ok at tiny SF): ${r.name}")
        case None =>
      }
    }
    if (SparkEntry.oracleSql.keySet != SparkEntry.queries.keySet) {
      val d1 = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
      val d2 = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
      println(s"SMOKE CATALOG DRIFT: no-oracle=$d1 no-query=$d2")
      bad += 1
    }
    println(s"smoke: ${SparkEntry.queries.size} queries, $bad failures")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
