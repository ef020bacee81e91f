package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The shared-seam memoization contract (round 13): the heavy subtrees
  * the dedup/graph/pipeline families share — shingle table, band
  * signatures, verified minhash pairs, CC cluster labels, quality
  * scores — must materialize ONCE per (application, sf-dir) and be
  * scanned by every consumer. A refactor that silently drops a cache
  * hit (e.g. by calling an `*Of(docs)` fixture builder on the catalog
  * path) re-inflates the catalog by one full pipeline re-run per
  * consumer — the regression this spec exists to catch, since every
  * consumer still returns CORRECT rows and no oracle check would fire.
  */
class MemoizationSpec extends AnyFunSuite with SparkTestBase {

  /** RDD ids of every checkpoint scan in the frame's analyzed plan. */
  private def scanIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  test("repeated catalog invocations scan one materialization, not fresh builds") {
    for (q <- Seq("dedup_minhash", "dedup_ngram", "dedup_containment",
                  "dedup_clusters", "pipeline_clean_corpus")) {
      val a = scanIds(SparkEntry.queries(q)(spark, Sf0001))
      val b = scanIds(SparkEntry.queries(q)(spark, Sf0001))
      assert(a.nonEmpty, s"$q plans no checkpoint scan at all")
      assert(a == b,
        s"$q re-materialized its memoized inputs on a second invocation: $a vs $b")
    }
  }

  test("near-dup pair consumers share the SAME minhash materialization") {
    // clusters (via its cached CC result's lineage), pagerank, ppr and
    // the pipeline all consume minhashShared — their builds run eagerly,
    // so equality is asserted on the shared helper itself plus the two
    // lazy consumers' plans
    val shared = scanIds(ops.Dedup.minhashShared(spark, Sf0001))
    assert(shared.size == 1)
    val pipeline = scanIds(SparkEntry.queries("pipeline_clean_corpus")(spark, Sf0001))
    assert(shared.subsetOf(pipeline),
      s"pipeline_clean_corpus does not scan the shared minhash pairs: $shared vs $pipeline")
  }

  test("quality consumers share the memoized score table") {
    val shared = scanIds(ops.TextAnalysis.qualityShared(spark, Sf0001))
    assert(shared.size == 1)
    for (q <- Seq("curate_pref_pairs", "pipeline_clean_corpus")) {
      val ids = scanIds(SparkEntry.queries(q)(spark, Sf0001))
      assert(shared.subsetOf(ids),
        s"$q rebuilds quality instead of scanning the memoized table")
    }
  }

  test("cached builds keep lint-clean plans: equi-joins only, no cartesian") {
    // the memoized builds execute eagerly at first use, so the per-query
    // plan lints never see their joins — audit the raw build trees
    // directly so the all-pairs fence stays airtight over the seam.
    // buildPlansForAudit hands back the IDENTICAL `*Build` expressions
    // the Ckpt.cached sites materialize (r13 advice: stand-in trees
    // re-derived from raw parquet audited plans that never ran), so
    // every non-root build must scan its memoized inputs' checkpoints.
    for ((name, df) <- ops.Dedup.buildPlansForAudit(spark, Sf0001)) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"build $name plans a CartesianProduct:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"build $name plans a BroadcastNestedLoopJoin:\n$p")
      if (name != "shingles")
        assert(scanIds(df).nonEmpty,
          s"build $name does not scan a memoized checkpoint — the audit is " +
            s"seeing a stand-in tree, not the executed build:\n${df.queryExecution.analyzed}")
    }
  }

  test("release drops a dir's entries; the next use rebuilds bit-equal") {
    val before = ops.TextAnalysis.qualityShared(spark, Sf0001)
    val rows   = before.collect().toSet
    val ids    = scanIds(before)
    val buildsBefore = Ckpt.buildLog.count(_._1 == s"text:quality:$Sf0001")
    assert(Ckpt.release(Sf0001) > 0, "release found no entries for the test dir")
    // blocks are gone: the released checkpoints no longer sit in the
    // block manager's persistent-RDD registry
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.forall(id => !persisted.contains(id)),
      s"released entry still holds blocks: $ids vs persisted $persisted")
    // next use is a fresh materialization (new scan id, one more build
    // log row) with bit-equal content
    val after = ops.TextAnalysis.qualityShared(spark, Sf0001)
    assert(scanIds(after) != ids, "release did not force a rebuild")
    assert(after.collect().toSet == rows, "rebuilt entry differs from the released one")
    assert(Ckpt.buildLog.count(_._1 == s"text:quality:$Sf0001") == buildsBefore + 1,
      "rebuild after release must appear in the build log")
  }

  test("the build log counts a nested build once: self times sum to at most the wall") {
    val outer = "nestedtest:outer"
    val inner = "nestedtest:inner"
    val t0 = System.nanoTime()
    Ckpt.cached(spark, outer) {
      Ckpt.cached(spark, inner) { Thread.sleep(300); spark.range(10).toDF("id") }
        .select((org.apache.spark.sql.functions.col("id") + 1).as("id"))
    }
    val wallS  = (System.nanoTime() - t0) / 1e9
    val logged = Ckpt.buildLog.filter(_._1.startsWith("nestedtest:"))
    Ckpt.release("nestedtest:")
    assert(logged.map(_._1) == Seq(inner, outer))
    assert(logged.map(_._2).sum <= wallS,
      s"logged build seconds $logged exceed the outer call's wall $wallS s")
  }

  test("co-purchase edges are one Ckpt entry: logged once, rebuilt after release") {
    val key = s"graph:edges:$Sf0001"
    def edgeBuilds = Ckpt.buildLog.count(_._1 == key)
    Ckpt.release(Sf0001)
    val b0 = edgeBuilds
    SparkEntry.queries("graph_modularity")(spark, Sf0001).collect()
    assert(edgeBuilds == b0 + 1, s"graph_modularity logged $key ${edgeBuilds - b0} times")
    Ckpt.release(Sf0001)
    SparkEntry.queries("graph_modularity")(spark, Sf0001).collect()
    assert(edgeBuilds == b0 + 2, "release(dir) left the co-purchase edges standing")
  }

  test("storage-fraction LRU eviction drops old entries, protects the MRU window") {
    // seed a throwaway namespace so the LRU tail is deterministic; the
    // newest seeds sit inside Ckpt's protection window at trigger time
    val keys = (1 to 16).map(i => f"evicttest:seed$i%02d")
    val seededIds = keys.map(k =>
      k -> scanIds(Ckpt.cached(spark, k)(spark.range(10).toDF("id")))).toMap
    withSQLConf(Ckpt.EvictFractionKey -> "0.0") {
      // any nonzero storage use now exceeds the threshold: the next NEW
      // build must evict everything outside the protection window
      Ckpt.cached(spark, "evicttest:trigger")(spark.range(5).toDF("id"))
    }
    val afterIds = keys.map(k =>
      k -> scanIds(Ckpt.cached(spark, k)(spark.range(10).toDF("id")))).toMap
    assert(afterIds("evicttest:seed01") != seededIds("evicttest:seed01"),
      "oldest seed survived a floor-threshold eviction")
    assert(afterIds("evicttest:seed16") == seededIds("evicttest:seed16"),
      "an MRU-window entry was evicted mid-composition-window")
    // correctness is untouched either way: entries rebuild from thunks
    assert(Ckpt.cached(spark, "evicttest:seed01")(spark.range(10).toDF("id"))
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }

  test("curate_token_budget deliberately does NOT consume the memoized quality") {
    // the rangeCum pid-alignment fence: exchange reuse does not dedupe
    // duplicated LogicalRDD scans, so rangeCum callers must keep raw
    // subtrees (see Curation.tokenBudget). If this query ever scans the
    // shared quality checkpoint, its two range exchanges stop deduping.
    val shared = scanIds(ops.TextAnalysis.qualityShared(spark, Sf0001))
    val ids    = scanIds(SparkEntry.queries("curate_token_budget")(spark, Sf0001))
    assert(shared.intersect(ids).isEmpty,
      "curate_token_budget consumes the memoized quality checkpoint — " +
        "rangeCum's pid alignment requires the raw subtree")
  }
}
