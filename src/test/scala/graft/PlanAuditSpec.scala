package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression net over plan quality: the physical properties that make
  * these queries scale must survive refactors — filters reaching the
  * parquet scan, dimension joins broadcasting, global top-k compiling to
  * TakeOrderedAndProject rather than a full sort.
  *
  * It also holds the as-run plan record,
  * `src/test/resources/graft/as_run_plans.tsv`: one row per catalog
  * query, the [[Smoke.shape]] of the plan that ran (shuffle exchanges
  * read by partition, reused exchanges, join kinds, graft operators),
  * taken in the one catalog pass the audits share. The record pins the
  * plans of this suite's session (SparkTestBase: `Sessions.builder` on
  * `local[4,2]`, 4 shuffle partitions, sf0.001). It holds only
  * what was byte-identical across runs of one commit. Left out:
  *  - jobs, stages and tasks: a query runs fewer of them when an earlier
  *    spec has already built a `Ckpt` entry it reads;
  *  - shuffles AQE reads only locally, the leftover of a join it turned
  *    into a broadcast: whether that stage ran depends on which stage
  *    finished first (dedup_containment_capped ran 7 or 8 shuffles);
  *  - broadcast exchanges: whether a join builds a fresh broadcast or
  *    reuses one follows which of its small sides finished first
  *    (graph_pagerank ran 1 or 2).
  * On a mismatch the test writes the fresh record to
  * `target/as_run_plans.tsv` and names the `cp` that adopts it.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf0001).queryExecution.executedPlan.toString

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1_pricing pushes the shipdate filter into the scan") {
    assert(plan("q1_pricing").contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q6_forecast pushes every predicate into the scan") {
    // read the scan node's metadata directly — the plan's toString
    // truncates long PushedFilters lists
    import org.apache.spark.sql.execution.FileSourceScanExec
    val pushed = SparkEntry.queries("q6_forecast")(spark, Sf0001)
      .queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f.metadata("PushedFilters") }
      .mkString
    for (f <- Seq(
        "GreaterThanOrEqual(l_shipdate,", "LessThan(l_shipdate,",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)"))
      assert(pushed.contains(f), s"missing pushed filter $f in: $pushed")
  }

  test("q5_nation_revenue broadcasts dimensions but never a fact table") {
    val p = plan("q5_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p) // nation/region dims
    // the customer⋈orders⋈lineitem spine must shuffle: every side grows
    // with the data, and an unhinted plan has broadcast lineitem whenever
    // the pruned-size estimate dipped under the 10 MB threshold
    assert(p.contains("ShuffledHashJoin"), p)
    // no fact scan may sit under a BroadcastExchange subtree
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val sp = SparkEntry.queries("q5_nation_revenue")(spark, Sf0001).queryExecution.sparkPlan
    val broadcastScans = sp.collect { case b: BroadcastExchangeExec =>
      b.collectLeaves().collect { case f: FileSourceScanExec => f.metadata("Location") }
    }.flatten
    for (fact <- Seq("lineitem", "orders", "customer"))
      assert(!broadcastScans.exists(_.contains(fact + ".parquet")),
        s"fact $fact is broadcast in q5: $broadcastScans")
  }

  test("corpus_zorder ranks distributed: no single-partition window or sort over lineitem") {
    // r8 cut files with ntile over an UNPARTITIONED window — a one-task
    // global sort of the whole table. The exact-rank formulation must
    // keep the lineitem-sized stream out of any unpartitioned
    // Window/Sort: the within-cell rank windows PARTITIONED BY z, and
    // the only global windows allowed are the offset/total prefix sums
    // over the z-grid HISTOGRAM, whose input is the grid-bounded
    // aggregate (≤ 2^16 rows at any corpus size).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("corpus_zorder")(spark, Sf0001)
      .queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    val (global, partitioned) = wins.partition(_.partitionSpec.isEmpty)
    assert(partitioned.nonEmpty, s"expected the per-cell row_number window:\n$sp")
    global.foreach { w =>
      val bounded = w.collect { case a: BaseAggregateExec
        if a.groupingExpressions.exists(_.toString.contains("z")) => a }
      assert(bounded.nonEmpty,
        s"unpartitioned window over an unbounded input:\n$w")
    }
    // the rank must NOT depend on partition identity: the r9-r11
    // spark_partition_id() formulation broke at local[32]/sf0.1 when AQE
    // coalesced its two consumer branches differently
    assert(!sp.toString.contains("SPARK_PARTITION_ID"),
      s"corpus_zorder ranks via partition identity again:\n$sp")
  }

  test("corpus_shards / curate_token_budget: rangeCum exchanges dedupe (pid alignment)") {
    // these two callers carried payload columns into rangeCum until
    // round 12 — the diverged-exchange bug class corpus_zorder hit live;
    // they now pack payload into the ord struct and must show the same
    // ReusedExchange the histogram callers pin (rangeCum itself also
    // REQUIREs the exact column set, so this is belt and braces)
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      for (q <- Seq("corpus_shards", "curate_token_budget")) {
        val p = plan(q)
        assert(p.contains("ReusedExchange"),
          s"$q's rangeCum branches materialize separate range exchanges:\n$p")
      }
    }
  }

  test("doc_global_ids: both pid consumers read ONE materialization of the range exchange") {
    // globalIds DOES rank via spark_partition_id() — which is only safe
    // when the offsets branch and the rank branch read the SAME exchange
    // materialization. Its single-column discipline (parts carries
    // exactly the range key) keeps the two subtrees canonically
    // identical, so ReuseExchange fires; this pin is the guard that the
    // discipline survives refactors (corpus_zorder lost it by carrying
    // extra payload columns, and its two diverged exchanges coalesced
    // differently under AQE at sf0.1 — the round-12 oracle-check catch).
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val p = plan("doc_global_ids")
      assert(p.contains("ReusedExchange"),
        s"globalIds' two branches materialize separate range exchanges:\n$p")
    }
  }

  test("all three MR apps reduce through the Catalyst-native secondary-sort exec") {
    // the catalog path must plan shuffle + (key, value) sort inside the
    // SQL engine under SortedGroupReduceExec, visible to AQE and SQL
    // metrics. All reference apps ride the custom exec, the engine's one
    // path.
    for (q <- Seq("mr_wc", "mr_indexer", "mr_metadata")) {
      val p = plan(q)
      assert(p.contains("SortedGroupReduce"), s"$q:\n$p")
      assert(p.contains("Sort ["), s"$q:\n$p")
      assert(p.contains("hashpartitioning(key"), s"$q:\n$p")
    }
  }

  test("topk_global is TakeOrderedAndProject, not sort+limit") {
    val p = plan("topk_global")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("join_broadcast keeps the explicit broadcast hint") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("wc has a single shuffle (partial+final agg)") {
    val p = plan("wc")
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
  }

  test("fuzzy/intersection verify stages keep their pinned-parallelism repartition") {
    // round-13: AQE coalesces post-shuffle partitions by BYTE size, and
    // the Levenshtein verify (sunk into the db-join stage by predicate
    // pushdown) serialized to ONE task at sf1 (99 s); the interCounts
    // pair-shingle expansion hit the same cliff in dedup_incremental.
    // The pinned repartition feeding the verify join is the fix; a
    // refactor that drops it reintroduces the one-task cliff at some
    // corpus size. Asserted on the OPTIMIZED LOGICAL plan: at this
    // all-broadcast tiny SF Spark legitimately elides the physical
    // exchange (nothing requires it under BHJ), while at sf1 — where the
    // joins are SMJ — the pin holds (graft.Profile: verify stage
    // 32-wide, 0/262 heavy one-task stages).
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    for (q <- Seq("dedup_fuzzy", "dedup_fuzzy_capped", "dedup_minhash", "dedup_incremental")) {
      val pins = SparkEntry.queries(q)(spark, Sf0001)
        .queryExecution.optimizedPlan
        .collect { case r: RepartitionByExpression => r.optNumPartitions }
      assert(pins.contains(Some(spark.sparkContext.defaultParallelism)),
        s"$q lost the pinned verify-stage repartition (found: $pins)")
    }
  }

  test("dedup/sim candidate joins are hash joins, never nested-loop or cartesian") {
    // every approximate-dedup strategy must bound the pair space with an
    // equi-join; a BroadcastNestedLoop/CartesianProduct here is the
    // all-pairs scale-killer this audit exists to catch
    for (q <- Seq("dedup_ngram", "dedup_minhash", "dedup_simhash", "dedup_embedding",
                  "sim_ann_lsh", "sim_ivfpq_rerank")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BroadcastNestedLoopJoin:\n$p")
    }
  }

  test("round-8 top-k queries push the group limit below the shuffle") {
    // sketch build (per-source bottom-k), pair-union top-k, and the
    // hard-negative per-query top-k must all compile to partial+final
    // WindowGroupLimit (or the GroupedTopK physical op) — a plain
    // WindowExec here sorts a source's/query's full candidate set in one
    // task, the single-task-sort scale-killer
    for (q <- Seq("source_overlap_kmv", "sim_hard_negatives")) {
      val p = plan(q)
      assert(p.contains("GroupedTopK") || p.contains("WindowGroupLimit"),
        s"$q has no pushed group limit:\n$p")
    }
    // corpus_shards' global rank must be the range-partitioned sweep,
    // never a single-partition window over the corpus
    val ps = plan("corpus_shards")
    assert(ps.contains("Exchange rangepartitioning"), ps)
  }

  test("text_top_bigrams tokenizes each document exactly once") {
    // the round-2 12.4s pathology: the regex split inlined into the
    // shingle lambda re-tokenized the doc per element_at. The fix keeps
    // the token array in its own projection; if CollapseProject ever
    // re-inlines it, the split expression shows up more than once.
    val p = plan("text_top_bigrams")
    val splits = "split\\(".r.findAllIn(p).length
    assert(splits == 1, s"expected exactly one tokenizer split in the plan, found $splits:\n$p")
  }

  test("curation scans prune to the referenced columns") {
    // a scan that reads all columns for a narrow projection is wrong at
    // any scale — sample_split must not read text, embed_assign must
    // read only the embedding
    assert(plan("sample_split").contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"))
    assert(plan("embed_assign").contains("ReadSchema: struct<embedding:array<float>>"))
  }

  test("round-4 TPC-H shapes plan as designed") {
    // q10: quarter filter reaches the orders scan, nation broadcasts,
    // top-20 is TakeOrderedAndProject (no global sort materializes)
    val p10 = plan("q10_returned")
    assert(p10.contains("TakeOrderedAndProject"), p10)
    assert(p10.contains("BroadcastHashJoin"), p10)
    assert(p10.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"), p10)
    // q13: the second aggregation (customers-per-order-count) must reuse
    // the first's tiny output — exactly two hash-partition exchanges
    // (customer-key join/agg + c_count re-agg), never a third
    val p13 = plan("q13_order_dist")
    assert(p13.split("Exchange hashpartitioning").length - 1 <= 2, p13)
    // q18: the HAVING-filtered big-order set must broadcast into a
    // left-semi hash join, not shuffle the whole orders table against it
    val p18 = plan("q18_big_orders")
    assert(p18.contains("BroadcastHashJoin") && p18.contains("LeftSemi"), p18)
  }

  test("stats queries aggregate in one shuffle") {
    // partial+final agg on the group key; the moment/correlation math is
    // pure projection on the 5-row aggregate output
    for (q <- Seq("stats_moments", "stats_corr"))
      assert(plan(q).split("Exchange hashpartitioning").length - 1 == 1, plan(q))
  }

  test("correlated subqueries decorrelate to hash joins") {
    // q4's correlated EXISTS must become a left-semi hash join on the
    // order key; q17's correlated scalar average must become a grouped
    // aggregate joined back on l_partkey — a nested-loop re-evaluation of
    // the subquery per outer row would be the O(n²) scale-killer
    val p4 = plan("q4_late_orders")
    assert(p4.contains("LeftSemi"), p4)
    assert(!p4.contains("BroadcastNestedLoopJoin") && !p4.contains("CartesianProduct"), p4)
    val p17 = plan("q17_small_qty")
    assert(p17.contains("HashAggregate") || p17.contains("SortAggregate"), p17)
    assert(!p17.contains("BroadcastNestedLoopJoin") && !p17.contains("CartesianProduct"), p17)
  }

  test("round-5 TPC-H shapes plan as designed") {
    // q21: both correlated subqueries decorrelate — a semi and an anti
    // hash join on the order key, never a per-row re-scan
    val p21 = plan("q21_waiting")
    assert(p21.contains("LeftSemi"), p21)
    assert(p21.contains("LeftAnti"), p21)
    // q8: the two-branch snowflake broadcasts every dimension; the fact
    // spine is the only shuffled input
    assert(plan("q8_market_share").contains("BroadcastHashJoin"))
    // q16: the supplier blacklist is an anti hash join, the part filter
    // broadcasts
    val p16 = plan("q16_supplier_cnt")
    assert(p16.contains("LeftAnti"), p16)
    // q15: the max-revenue filter is an equi-join against a 1-row
    // aggregate, not a window or a re-aggregation of lineitem
    assert(!plan("q15_top_supplier").contains("Window"))
    // q20: three subquery layers (IN + grouped HAVING + correlated scalar)
    // all decorrelate — semi hash join, no nested loop
    val p20 = plan("q20_promotion")
    assert(p20.contains("LeftSemi"), p20)
    assert(!p20.contains("BroadcastNestedLoopJoin") && !p20.contains("CartesianProduct"), p20)
  }

  test("stats_minmax_scale broadcasts the extremes back — no low-cardinality window") {
    // Window.partitionBy over the 5-value event_type would put a fifth of
    // the table into each of five tasks' sorts; the scale shape is a
    // partial-agg for the extremes plus a broadcast join back
    val p = plan("stats_minmax_scale")
    assert(!p.contains("Window"), s"minmax scaling regressed to a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("text_unigram_lm leaves the vocabulary join unhinted") {
    // a forced broadcast(tc) ships the whole distinct-token table; by
    // Heaps' law that is 10⁸–10⁹ rows at 100 TB — the planner must stay
    // free to pick the shuffle join. Only the 1-row corpus total may hint.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val qe = SparkEntry.queries("text_unigram_lm")(spark, Sf0001).queryExecution
    val hints = qe.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size == 1, s"expected only the corpus-total broadcast hint, got ${hints.size}")
  }

  /** One pass over the catalog through Profile.profile, each result read
    * in full and its as-run plan checked by Smoke.audit, the same audit
    * the pre-commit smoke gate runs, so the two can never drift apart.
    * The three tests below share this pass and each asserts its own
    * violation class; every query error fails all three. Smoke.audit
    * reports a query's first violation only, so a query breaking two
    * checks fails the test of the one audit reports first. The same pass
    * takes each query's as-run record row (Smoke.shape).
    */
  private lazy val catalogAudit: (Seq[String], Seq[String], Map[String, String]) = {
    val violations = scala.collection.mutable.Buffer[String]()
    val record     = scala.collection.mutable.Map[String, String]()
    val rows = Profile.profile(spark, Sf0001, Nil, (name, df) => {
      violations ++= Smoke.audit(name, df)
      record(name) = Smoke.shape(df.queryExecution.executedPlan).tsv
    })
    assert(rows.size == SparkEntry.queries.size)
    (rows.flatMap(r => r.error.map(e => s"${r.name} FAILED: $e")), violations.toSeq, record.toMap)
  }

  private def assertNoAuditViolation(tag: String): Unit = {
    val (errors, violations, _) = catalogAudit
    val bad = errors ++ violations.filter(_.startsWith(s"SMOKE $tag:"))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("full catalog: no unexpected nested-loop or cartesian plans") {
    // Reads the as-run plan, not the static one: AQE re-plans a join
    // only as a shuffle or broadcast hash join, never as a nested loop,
    // so an as-run nested loop was in the static plan too (AQE can still
    // drop a join whose side ran empty).
    // The sanctioned nested-loop plans: cross_join (the operator itself),
    // sim_topk's |Q|-row broadcast against the candidate stream, and the
    // 1-row scalar broadcasts (scalar_subquery, text_unigram_lm's corpus
    // total, text_pmi's bigram total, seq_pack's lane count,
    // q11_important's revenue threshold, corpus_mixture's weight total,
    // text_ppl_buckets' corpus total, curate_dsir's corpus/target totals,
    // text_bm25's 1-row corpus stats — each build side is an aggregate's
    // single output row; stats_chi2's contingency grid is the cross join
    // of two category-bounded marginal tables plus its 1-row total;
    // orders_rfm's three quintile-cut tables are each ONE aggregate row
    // of four boundary values broadcast onto the customers; orders_abc's
    // single-group rangeCum joins its per-slice offset table — bounded
    // by partition count — without an equi key).
    // Per-query boundedness arguments, in the order of Smoke's set:
    // graph_pagerank/dedup_clusters/text_bpe_train are eager
    // checkpointed loops (only a result scan plans here; per-round join
    // shapes are audited directly in their own tests); orders_basket's
    // build is a 1-row order-count; curate_curriculum/orders_abc are
    // single-group rangeCum callers whose 1-row total broadcasts without
    // an equi key (gini/mannwhitney/clf_auc opt out of tot and need no
    // sanction); events_ewma broadcasts the 24-row weight table (finite
    // convolution); stats_kendall's hb>ha band join has ≤24-row hourly
    // aggregates on both sides; stats_mutual_info's cells/marginals/
    // totals are category- or grid-bounded (the stats_chi2 shape);
    // orders_rfm's quintile cuts are 1-row boundary aggregates;
    // source_overlap_kmv's pair grid crosses two source-count-bounded
    // k-row sketch lists; the rest
    // are 1-row scalar broadcasts or the cross-join operator itself.
    assertNoAuditViolation("NESTED-LOOP")
  }

  test("full catalog: every result schema is driver-safe (no DECIMAL/FLOAT output columns)") {
    // the round-7-11 bug class, fenced: content_sig's DECIMAL(38,0)
    // output hashed differently in Spark and DuckDB for five rounds even
    // though every value matched. Internal decimal/float math stays
    // unconstrained — only the RESULT schema is linted.
    assertNoAuditViolation("OUTPUT-TYPE")
  }

  test("full catalog: no unpartitioned window over an unbounded input") {
    // an empty partitionSpec plans as AllTuples = ONE task; over a fact
    // table that is the single-task-sort scale-killer. Bounded inputs
    // (aggregate / limit / local scan beneath) are sanctioned
    // structurally; everything else needs a boundedness argument in
    // Smoke.GlobalWindowAllowed (same discipline as the nested-loop set).
    assertNoAuditViolation("GLOBAL-WINDOW")
  }

  private val RecordFile = "src/test/resources/graft/as_run_plans.tsv"

  /** The committed record, query name to its shape fields. */
  private lazy val committedRecord: Map[String, String] = {
    val src = scala.io.Source.fromFile(RecordFile, "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t", 2)).map(f => f(0) -> f(1)).toMap
    finally src.close()
  }

  test("as-run plan record: every query's shape matches the committed record") {
    val (errors, _, record) = catalogAudit
    assert(errors.isEmpty, errors.mkString("\n"))
    val differ = (committedRecord.keySet ++ record.keySet).toSeq.sorted
      .filter(n => committedRecord.get(n) != record.get(n))
    if (differ.nonEmpty) {
      val fresh = "target/as_run_plans.tsv"
      java.nio.file.Files.write(java.nio.file.Paths.get(fresh),
        ("# query\tshuffles\treused\tjoins\tgraft" +: record.toSeq.sorted.map {
          case (n, row) => s"$n\t$row" }).mkString("", "\n", "\n").getBytes("UTF-8"))
      def show(r: Option[String]) = r.getOrElse("(no row)")
      fail(s"${differ.size} as-run plan row(s) differ from $RecordFile:\n" + differ.map(n =>
        s"  $n\n    expected ${show(committedRecord.get(n))}\n    got      ${show(record.get(n))}")
        .mkString("\n") + s"\nto adopt the fresh record: cp $fresh $RecordFile")
    }
  }

  test("as-run plan record: window_topk run without WindowToTopKRule differs from its row") {
    // window_topk's GroupedTopK is the rule's rewrite of its row_number
    // <= 3 window (not a direct GroupedTopK.topK call): without the rule
    // the query runs Spark's window, and the record must tell
    val row = committedRecord("window_topk")
    assert(row.contains("GroupedTopK=1"), row)
    withSQLConf("spark.sql.optimizer.excludedRules" -> graft.plans.WindowToTopKRule.ruleName) {
      val df = SparkEntry.queries("window_topk")(spark, Sf0001)
      Profile.consume(df)
      assert(Smoke.shape(df.queryExecution.executedPlan).tsv != row)
    }
  }

  test("the two smoke audits actually fire on their target bug classes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // output-type lint: a DECIMAL result column (the cured content_sig
    // class) and a FLOAT one must both be flagged; nested safe types pass
    assert(Smoke.outputTypeViolation(
      StructType(Seq(StructField("sig", DecimalType(38, 0))))).isDefined)
    assert(Smoke.outputTypeViolation(
      StructType(Seq(StructField("score", FloatType)))).isDefined)
    assert(Smoke.outputTypeViolation(StructType(Seq(
      StructField("k", StringType),
      StructField("vs", ArrayType(LongType)),
      StructField("nested", StructType(Seq(StructField("d", DoubleType))))))).isEmpty)
    // global-window audit: an unpartitioned row_number over the lineitem
    // fact table is the single-task-sort scale-killer it exists to catch
    val w = org.apache.spark.sql.expressions.Window.orderBy("l_orderkey")
    val df = Tables.lineitem(spark, Sf0001)
      .withColumn("rn", row_number().over(w))
    Profile.consume(df)
    assert(Smoke.unboundedGlobalWindow(df.queryExecution.executedPlan).isDefined,
      s"audit missed a global window over a fact table:\n${df.queryExecution.executedPlan}")
    // ...and the same window over a bounded (aggregated) input passes
    val ok = Tables.lineitem(spark, Sf0001)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("n")))
    Profile.consume(ok)
    assert(Smoke.unboundedGlobalWindow(ok.queryExecution.executedPlan).isEmpty)
  }

  test("round-13 lint closures: id-grouped aggregates and small-side joins do not bound") {
    import org.apache.spark.sql.functions._
    val gw = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    // an aggregate grouped on a per-entity key has output that grows with
    // the corpus — one row per doc — so a global window over it is still
    // the single-task sort (the round-12 boundedness hole)
    val idGrouped = Tables.documents(spark, Sf0001)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(gw))
    Profile.consume(idGrouped)
    assert(Smoke.unboundedGlobalWindow(idGrouped.queryExecution.executedPlan).isDefined,
      "audit missed a global window over an id-grouped (corpus-sized) aggregate")
    // a bounding aggregate on the SMALL side of a join does not bound the
    // fact-sized join output (round-12 advice): fact.join(aggregated_dim)
    // under a global window must still be flagged
    val dim = Tables.lineitem(spark, Sf0001)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val factJoin = Tables.lineitem(spark, Sf0001)
      .join(dim, "l_returnflag")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("l_orderkey")))
    Profile.consume(factJoin)
    assert(Smoke.unboundedGlobalWindow(factJoin.queryExecution.executedPlan).isDefined,
      "audit missed a global window over a fact.join(aggregated_dim) input")
    // ...while a semi join against the fact keeps its bounded LEFT side
    // bounded: output <= |left|
    val semi = dim
      .join(Tables.lineitem(spark, Sf0001), Seq("l_returnflag"), "left_semi")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("n")))
    Profile.consume(semi)
    assert(Smoke.unboundedGlobalWindow(semi.queryExecution.executedPlan).isEmpty,
      "semi join against a bounded left side is output-bounded and must pass")
  }

  test("round-14 lint closure: exploding a collected corpus array does not bound") {
    import org.apache.spark.sql.functions._
    // a grid-keyed collect aggregate has bounded OUTPUT rows, but its
    // arrays hold the corpus — the explode above restores pre-aggregation
    // cardinality, so a global window over it is still the one-task sort
    // (the r13 residual the boundedness scaladoc documented)
    val reInflated = Tables.documents(spark, Sf0001)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang").agg(collect_list("tok").as("toks"))
      .select(col("lang"), explode(col("toks")).as("tok"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("tok")))
    Profile.consume(reInflated)
    assert(Smoke.unboundedGlobalWindow(reInflated.queryExecution.executedPlan).isDefined,
      "audit missed a global window over an explode of a collected corpus array")
    // ...while exploding a collect whose INPUT was itself bounded stays
    // bounded: the array can only hold what the bounded subtree emitted
    val boundedCollect = Tables.documents(spark, Sf0001)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(collect_list("n").as("ns"))
      .select(explode(col("ns")).as("n"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("n")))
    Profile.consume(boundedCollect)
    assert(Smoke.unboundedGlobalWindow(boundedCollect.queryExecution.executedPlan).isEmpty,
      "explode of a collect over a bounded (grid-aggregated) input must pass")
  }

  test("curate_pareto: the memoized corpus side never broadcasts") {
    // the quality input is a LogicalRDD checkpoint with no size stats, so
    // the qs-grid join plans SMJ at every SF (profile row pins SMJ=1).
    // The hazard worth a spec of its own: a future stats/AQE change
    // silently flipping to a BROADCAST of the corpus-sized side — at
    // 100 TB that is an executor-OOM, not a perf regression. The
    // grid side broadcasting would be fine; the LogicalRDD side must not.
    // This pins the planner's STATIC choice, so the frame is not run: AQE
    // broadcasts only a side it has measured under the threshold (at
    // sf0.001 the as-run plan broadcasts the tiny checkpoint scan).
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("curate_pareto")(spark, Sf0001)
    val nodes = Smoke.finalPlanNodes(df.queryExecution.executedPlan)
    val smj = nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec])
    assert(smj >= 1, "curate_pareto lost its pinned sort-merge join shape")
    for (b <- nodes.collect { case j: BroadcastHashJoinExec => j }) {
      val buildSide = b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft  => b.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
      }
      val scansCkpt = Smoke.finalPlanNodes(buildSide).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec])
      assert(!scansCkpt,
        s"curate_pareto broadcasts a checkpoint-scan (corpus-sized) build side:\n$b")
    }
  }

  test("text_bm25: partial+final WindowGroupLimit top-k, broadcast query maps, no pair shuffle") {
    val p = plan("text_bm25")
    // the per-query top-k must never regress to a full per-query sort —
    // one skewed q_doc would then sort O(corpus) rows in a single task.
    // Two group-limited shapes are sanctioned, both partial+final: the
    // repo's GroupedTopK (WindowToTopKRule, on in every session, fires
    // once the optimizer unwraps rn's cast("long")) and Spark's
    // InferWindowGroupLimit pair (when the rule is excluded).
    assert(
      p.contains("GroupedTopK") || p.split("WindowGroupLimit").length - 1 == 2,
      s"text_bm25 top-k regressed to a full per-query sort:\n$p")
    // dense-regime scorer: the query term arrays must be the broadcast
    // side of the |D|×|Q| expansion — a pair-level shuffle would mean
    // the formulation regressed to shuffling scored pairs
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the (q,d) scores are computed in a projection over the per-doc
    // impact maps: no aggregation may sit between the cross join and the
    // top-k (the old formulation aggregated ~21M pair rows here)
    val afterJoin = p.substring(0, p.indexOf("BroadcastNestedLoopJoin"))
    assert(!afterJoin.contains("HashAggregate"),
      s"pair-level aggregation reappeared above the broadcast expansion:\n$p")
  }

  test("text_bm25 postings twin: doc-local pair agg, broadcast query terms") {
    val p = planOf(graft.ops.Curation.bm25Postings(spark, Sf0001))
    // sparse-regime twin keeps the impact-postings shape: broadcast
    // query-term equi-join + doc_id-local map-side pair aggregation
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("REPARTITION_BY_COL"), s"postings lost the doc_id repartition:\n$p")
    assert(p.contains("partial_sum"), p)
    assert(
      p.contains("GroupedTopK") || p.split("WindowGroupLimit").length - 1 == 2,
      s"bm25Postings top-k regressed to a full per-query sort:\n$p")
  }

  test("rangeCum family: range-partitioned prefix sum, never a per-group whole-grid sort") {
    // every caller of Stats.rangeCum — the unbounded-domain-safe
    // cumulative shape: the distinct-value grid range-partitions, each
    // task sorts only its ordered slice
    val family = Seq(
      ("hist_equidepth", "l_returnflag", "l_extendedprice"),
      ("stats_percentiles", "l_returnflag", "l_extendedprice"),
      ("text_ppl_buckets", "lang", "sq"),
      ("stats_quantile_cont", "event_type", "v"),
      // single-group callers: group pattern = ord (a global whole-grid
      // sort would print as Sort [<ord> ...]; the slice-local sorts are
      // pid-prefixed and don't match)
      ("stats_gini", "x", "x"),
      ("stats_mannwhitney", "v", "v"),
      ("clf_auc", "v", "v"),
      ("stats_theilsen", "event_type", "s"),
      ("curate_curriculum", "n_chars", "n_chars"))
    for ((q, group, ord) <- family) {
      val p = plan(q)
      assert(p.contains("rangepartitioning"), s"$q lost the range partition:\n$p")
      // no operator may sort a whole group's grid GLOBALLY (one task per
      // group): every Sort over (group, value) must be partition-LOCAL
      // (prints as `], false, 0`). r15: the PartitionPrefixSum operator
      // replaced the pid-prefixed window sort with exactly such a local
      // (group, ord) sort over the range exchange — same slice-local
      // bound, one fewer full-data hash exchange.
      val groupGridSort = s"Sort \\[$group[^\\]]*$ord[^\\]]*\\], true".r
      for (m <- groupGridSort.findAllIn(p))
        fail(s"$q: global per-group whole-grid sort is back: $m\n$p")
      assert(p.contains("PartitionPrefixSum"), s"$q lost the local prefix-sum operator:\n$p")
      // the per-slice subtotal branch must reuse the range exchange, not
      // recompute it (two independent range samplings could disagree);
      // static planner check — AQE reuses at runtime via the stage cache,
      // which doesn't show in the pre-execution plan string
      withSQLConf("spark.sql.adaptive.enabled" -> "false") {
        val np = plan(q)
        assert(np.contains("ReusedExchange"), s"$q: offsets branch recomputes the range exchange:\n$np")
      }
    }
  }

  test("round-6 additions: bounded sides broadcast, windows stay user/grid-bounded") {
    // orders_cohort: the per-cohort size table (≤ #months rows) must
    // broadcast; the custkey spine must not sort-merge
    val pc = plan("orders_cohort")
    assert(pc.contains("BroadcastHashJoin"), pc)
    // events_transitions: one window (the user-bounded lag) feeding
    // BOTH the pair counts and the per-source totals — the totals
    // branch must reuse the pair-count exchange, not re-run the lag
    // over the corpus. Static check with AQE off (AQE reuses at
    // runtime via the stage cache, invisible in the pre-exec string).
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val pt = plan("events_transitions")
      assert("Window \\[lag".r.findAllIn(pt).size == 1, pt)
      assert(pt.contains("ReusedExchange"), pt)
      assert(pt.contains("BroadcastHashJoin"), pt)
    }
    // events_ewma: the weight fan-out must stay a broadcast (the hourly
    // grid never shuffles to meet a 24-row table)
    val pe = plan("events_ewma")
    assert(pe.contains("BroadcastNestedLoopJoin") || pe.contains("BroadcastHashJoin"), pe)
    assert(!pe.contains("SortMergeJoin"), pe)
    // graph_assortativity: degree attachment joins the edge stream to
    // the per-node degree table on the node key. The degree table is
    // corpus-sized (one row per node), so it must NOT broadcast — a
    // shuffle equi-join (sort-merge or shuffled-hash) is the correct
    // scale shape; what's forbidden is any non-equi fallback.
    val pa = plan("graph_assortativity")
    assert(pa.contains("SortMergeJoin") || pa.contains("ShuffledHashJoin"), pa)
    assert(!pa.contains("BroadcastNestedLoopJoin") && !pa.contains("CartesianProduct"), pa)
    // embed_covariance: the d² pair expansion is row-local (generate,
    // never a join) and partial aggregation collapses each partition to
    // the d² grid before the ONLY exchange (plus the final single-
    // partition collect) — shuffle volume must stay partitions × d²
    val pv = plan("embed_covariance")
    assert(!pv.contains("Join"), pv)
    assert("Exchange hashpartitioning".r.findAllIn(pv).size == 1, pv)
    assert("Generate".r.findAllIn(pv).size == 2, pv)
    // clf_calibration: one corpus pass onto the 10-row probability grid,
    // no joins, no windows
    val pb = plan("clf_calibration")
    assert(!pb.contains("Join") && !pb.contains("Window"), pb)
  }

  test("round-5 curation ops keep their bounded tables on the broadcast side") {
    // curate_dsir's bucket-weight table is bounded by the CONSTANT
    // DsirBuckets (unlike a Heaps-law vocabulary) — it must broadcast
    // back onto the feature stream, and the feature stream itself must
    // never sit under a BroadcastExchange
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val pd = plan("curate_dsir")
    assert(pd.contains("BroadcastHashJoin"), pd)
    // embed_quantize's per-dimension grid (≤ Dims rows) broadcasts back
    // onto the exploded value stream
    assert(plan("embed_quantize").contains("BroadcastHashJoin"), plan("embed_quantize"))
    // source_overlap's intersection is an equi-join on the 8-byte shingle
    // hash; the shingle stream must shuffle, never broadcast (it grows
    // with the corpus — only the source-count-bounded size table may)
    val so = SparkEntry.queries("source_overlap")(spark, Sf0001).queryExecution.sparkPlan
    val broadcastScans = so.collect { case b: BroadcastExchangeExec =>
      b.collectLeaves().collect { case f: FileSourceScanExec => f.metadata("Location") }
    }.flatten
    assert(!broadcastScans.exists(_.contains("documents.parquet")),
      s"source_overlap broadcasts the shingle stream: $broadcastScans")
  }

  test("events_scd2 plans a single user_id exchange across both windows and the agg") {
    // the change-flag window, the run-collapse aggregation, and the
    // valid_to lead all cluster by user_id: the (user_id, version)
    // groupBy must be satisfied by the existing user_id hash
    // partitioning (subset rule), not shuffle again
    val p = plan("events_scd2")
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
  }

  test("session-window queries are one shuffle into the merging session agg") {
    for (q <- Seq("events_session_native", "events_session_dyngap")) {
      val p = plan(q)
      assert(p.split("Exchange hashpartitioning").length - 1 == 1, s"$q:\n$p")
    }
  }

  test("round-6 single-pass shapes: one scan and the documented shuffles") {
    // text_quality_clf (r15): the uni+bi feature pass is memoized per
    // session (clfFeats, shared with clf_auc/clf_calibration), so the
    // query plan is a pure projection over ONE checkpoint scan — zero
    // parquet scans, zero shuffles; a regression re-tokenizing the
    // corpus shows up as a parquet scan or an exchange here
    val clf = plan("text_quality_clf")
    assert(clf.split("Scan parquet").length - 1 == 0, s"quality_clf scans:\n$clf")
    assert(clf.split("Scan ExistingRDD").length - 1 == 1, s"quality_clf memoized scan:\n$clf")
    assert(clf.split("Exchange hashpartitioning").length - 1 == 0, s"quality_clf shuffles:\n$clf")
    // stats_bootstrap: the R-replica explode is map-side — one scan, one
    // partial+final shuffle; R× rows must never cross an extra exchange
    val boot = plan("stats_bootstrap")
    assert(boot.split("Scan parquet").length - 1 == 1, s"bootstrap scans:\n$boot")
    assert(boot.split("Exchange hashpartitioning").length - 1 == 1, s"bootstrap shuffles:\n$boot")
    // audit_profile: every per-column metric from ONE scan (multi-distinct
    // expand), never a union of per-column scans
    val prof = plan("audit_profile")
    assert(prof.split("Scan parquet").length - 1 == 1, s"audit_profile scans:\n$prof")
  }

  test("events_cusum: all three windows share one event_type partitioning") {
    // hourly agg shuffle + one repartition for the window family — the
    // mean/cumsum/argmax windows must re-sort, not re-shuffle
    val p = plan("events_cusum")
    assert(p.split("Exchange hashpartitioning").length - 1 == 2, s"cusum shuffles:\n$p")
    assert(p.split(" Window ").length - 1 >= 2, s"cusum windows:\n$p")
  }

  test("round-6 ops: gopher shuffle-free, pq codebook broadcast, semantic top-k, mad prefix sums") {
    // text_gopher: every signal is an array expression over the doc's own
    // text — the whole query must plan as a scan-side projection
    val pg = plan("text_gopher")
    assert(!pg.contains("Exchange"), s"text_gopher grew a shuffle:\n$pg")
    // embed_pq: the PqM·PqK-row codebook broadcasts onto the subvector
    // stream; the stream itself must never sit under a BroadcastExchange
    val pp = plan("embed_pq")
    assert(pp.contains("BroadcastHashJoin"), pp)
    // dedup_semantic: global top-20 compiles to TakeOrderedAndProject —
    // never a full sort of the pair stream
    val psem = plan("dedup_semantic")
    assert(psem.contains("TakeOrderedAndProject"), psem)
    // stats_mad reuses the rangeCum discipline twice; no GLOBAL per-group
    // whole-grid sort may appear (slice-local sorts — `], false` — are
    // the r15 PartitionPrefixSum shape)
    val pm = plan("stats_mad")
    assert(pm.contains("rangepartitioning"), pm)
    for (m <- "Sort \\[event_type[^\\]]*g#[^\\]]*\\], true".r.findAllIn(pm))
      fail(s"stats_mad: global per-group whole-grid sort is back: $m\n$pm")
    // sim_pq_topk: the query×codeword lookup table broadcasts onto the
    // code stream, and the per-query top-k must stay group-limited
    // (partial+final WindowGroupLimit or GroupedTopK), never a full
    // per-query sort of all candidates
    val pt = plan("sim_pq_topk")
    assert(pt.contains("BroadcastHashJoin"), pt)
    assert(
      pt.contains("GroupedTopK") || pt.split("WindowGroupLimit").length - 1 == 2,
      s"sim_pq_topk top-k regressed to a full per-query sort:\n$pt")
  }

  test("text_normalize is a pure scan-side projection (no exchange at all)") {
    val p = plan("text_normalize")
    assert(!p.contains("Exchange"), p)
    // the NFC expression must sit inside whole-stage codegen, not fall
    // back to an interpreted projection — "*(1)" is toString's codegen
    // stage marker
    assert(p.contains("*(1) Project"), p)
    assert(p.contains("graft_nfc"), p)
  }

  test("graph_communities materializes the LPA labels once (no re-executed subtree)") {
    // The 3-round LPA feeds TWO consumers (community sizes + the final
    // join). Without the checkpoint the final plan re-plans the whole
    // ~6-shuffle iteration per consumer (observed r7: 20 exchanges, no
    // reuse). With the labels materialized, the remaining plan is just
    // the size aggregation and the label⋈size join over a checkpoint
    // scan — a handful of exchanges, and the iteration rounds appear
    // NOWHERE in it.
    val df = SparkEntry.queries("graph_communities")(spark, Sf0001)
    val p  = planOf(df)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 4, s"LPA subtree re-executed ($exchanges exchanges):\n$p")
    assert(p.contains("Scan ExistingRDD"), s"labels not checkpoint-scanned:\n$p")
  }

  test("graph_triangles closes wedges with hash equi-joins, never nested-loop") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_bm25 broadcasts only aggregates: 1-row stats and per-query term arrays") {
    val p = plan("text_bm25")
    // the TWO sanctioned nested-loops: the corpus-stats cross join (build
    // side = a global aggregate's single row) and the dense-scorer's
    // query-array expansion (build side = the |Q|-row collect_list
    // aggregate — benchmark-set-bounded at any corpus scale)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
    // no un-aggregated document-table scan may sit under a broadcast
    // (|corpus| and |queries| both grow with the data; only aggregate
    // outputs — qterms/tf/df/dl at fixture size, stats at any size —
    // may build)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val sp = SparkEntry.queries("text_bm25")(spark, Sf0001).queryExecution.sparkPlan
    val bareScanBroadcasts = sp.collect {
      case b: BroadcastExchangeExec if !b.toString.contains("HashAggregate") =>
        b.collectLeaves().collect { case f: FileSourceScanExec => f }
    }.flatten
    assert(bareScanBroadcasts.isEmpty,
      s"un-aggregated scan broadcast in text_bm25:\n$sp")
  }

  test("bucket_join runs shuffle-free over the co-located buckets") {
    // the whole point of the bucketed layout: a fact-fact sort-merge join
    // with ZERO exchanges (and no per-query sort either — the buckets are
    // written sorted on the join key)
    val p = plan("bucket_join")
    assert(p.contains("SortMergeJoin"), p)
    // the only exchange is the 3-group final aggregate; an unbucketed
    // lineitem x orders join would add one per join side (3 total)
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"bucketed join still shuffles its inputs:\n$p")
    assert(p.contains("SelectedBucketsCount"), p)
  }

  test("part_prune touches exactly one partition of the month-partitioned table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = SparkEntry.queries("part_prune")(spark, Sf0001)
      .queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty, "no partition filters on the scan")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scan.selectedPartitions.partitionCount}")
  }

  test("pipeline_clean_corpus consumes memoized inputs, never re-tokenizes") {
    // round-13: the quality and near-dup subtrees are memoized
    // checkpoints (Ckpt.cached), so the pipeline's plan must contain NO
    // tokenize expression at all — the r12 form re-ran the full
    // tokenize+minhash pipeline per invocation and pinned ReusedExchange
    // to keep the duplication down to one; memoization replaces both.
    val df = SparkEntry.queries("pipeline_clean_corpus")(spark, Sf0001)
    val p  = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("split("),
      s"pipeline_clean_corpus re-tokenizes inside its own plan:\n$p")
    // and the memoized inputs surface as checkpoint scans (quality +
    // near-losers), not as re-derived subtrees
    val rddScans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(rddScans.size >= 2,
      s"expected >=2 memoized checkpoint scans, got ${rddScans.size}:\n$p")
  }
}
