package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestBase, Tables}

/** Scale-technique demonstrations that the oracle gate can't express:
  * bucketed co-located joins (no exchange), salting equivalence, and
  * sketch-aggregate accuracy.
  */
class ScaleSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val li = Tables.lineitem(spark, Sf0001).select("l_orderkey", "l_quantity")
    val or = Tables.orders(spark, Sf0001).select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    li.write.option("path", s"$wh/b_lineitem").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("b_lineitem")
    or.write.option("path", s"$wh/b_orders").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("b_orders")
    // force a non-broadcast join so the bucketed layout is what avoids
    // the shuffle (broadcast would mask it — and disable bucketing)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == li.count()) // every lineitem has its order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE b_lineitem")
    spark.sql("DROP TABLE b_orders")
  }

  test("orders_incr_join: all four delta quadrants populated, merge equals the direct join") {
    import org.apache.spark.sql.functions._
    val cut = lit(Relational.IncrJoinCut).cast("timestamp")
    val ord = graft.Tables.orders(spark, Sf0001)
    val li  = graft.Tables.lineitem(spark, Sf0001)
    // the fixture boundary must exercise every term of the delta algebra —
    // an empty quadrant would make the incremental path vacuously correct
    def quad(oldO: Boolean, oldL: Boolean): Long =
      ord.filter(if (oldO) col("o_orderdate") < cut else col("o_orderdate") >= cut)
        .join(
          li.filter(if (oldL) col("l_shipdate") < cut else col("l_shipdate") >= cut),
          col("o_orderkey") === col("l_orderkey"))
        .count()
    Seq((true, true), (false, true), (true, false), (false, false)).foreach { case (a, b) =>
      assert(quad(a, b) > 0, s"quadrant (oldOrders=$a, oldItems=$b) empty — fixture cut wrong")
    }
    val direct = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(38,6)")).cast("double").as("revenue"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    val incr = Relational.ordersIncrementalJoin(spark, Sf0001)
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(incr == direct, "incremental merge must be bit-equal to the full recompute")
  }

  test("salted two-phase aggregation is bit-identical to the direct agg") {
    val direct = Reference.skewAgg(spark, Sf0001).as[(String, Long, Double)].collect().toSeq
    val salted = Skew.saltedTotals(spark, Sf0001).as[(String, Long, Double)].collect().toSeq
    assert(salted == direct)
  }

  /** Temp dir that is recursively removed after `f` — the 10x fixtures
    * are hundreds of MB and must not accumulate across runs.
    */
  private def withTempDir(prefix: String)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally {
      import java.nio.file.{Files, Path}
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach((p: Path) => Files.deleteIfExists(p))
      finally walk.close() // the stream holds open directory handles
    }
  }

  test("10x events scale-up: GroupedTopK heap path holds and results replicate exactly") {
    // empirical scale point for the 100 TB argument: 1M events (10x the
    // bench SF), disjoint id spaces per copy — per-user top-5 of the
    // scaled table must contain the original result verbatim in copy 0,
    // have exactly 10x the rows, and never hit the spill fallback at the
    // default 64 MiB budget (heaps hold 5 rows x users per partition)
    val src = "/root/testdata/sf0.1"
    withTempDir("graft-10x-events") { dir =>
      val off = 1000000000L
      val ev  = Tables.events(spark, src)
      (0 until 10)
        .map(i => ev
          .withColumn("event_id", col("event_id") + lit(i * off))
          .withColumn("user_id", col("user_id") + lit(i * off)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val t0   = System.nanoTime()
      val big  = Events.topkValueFast(spark, dir)
      val rows = big.collect()
      info(f"events_topk_fast over 1M rows: ${(System.nanoTime() - t0) / 1e9}%.1f s, ${rows.length} rows")
      val base = Events.topkValueFast(spark, src)
        .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
      assert(rows.length == 10 * base.size, "scaled top-k row count is not 10x the original")
      val copy0 = rows
        .filter(_.getLong(0) < off)
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(r => (r._1, r._4)).toSeq
      assert(copy0 == base, "copy-0 slice of the 10x result diverged from the sf0.1 result")
      assert(topKExec(big).metrics("spillFallbacks").value == 0,
        "default budget must keep bounded per-user heaps on the heap path at 1M rows")
    }
  }

  test("duplication-heavy 10x corpus: minhash finds exactly the predicted pair volume") {
    // candidate-volume stress: every sf0.01 document gets 10 exact copies
    // (worst case for LSH banding — identical signatures collide in every
    // band). The output is exactly predictable: C(10,2)=45 jaccard-1.0
    // pairs per copy-group plus 10x10 replicas of every original
    // near-dup pair — candidates stay bounded by genuine collisions, no
    // quadratic blow-up across groups.
    val src = "/root/testdata/sf0.01"
    withTempDir("graft-10x-docs") { dir =>
      val off  = 1000000000L
      val docs = Tables.documents(spark, src)
      // only docs long enough to shingle produce minhash signatures — the
      // predicted pair count must not silently assume every fixture doc
      // has >= ShingleN letter-tokens
      val nSig = docs
        .select(size(filter(graft.text.Tokenize.tokenCol(col("text")), _ =!= "")).as("n"))
        .filter(col("n") >= Dedup.ShingleN)
        .count()
      (0 until 10)
        .map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * off)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val basePairs = Dedup.minhash(spark, src).count()
      val t0  = System.nanoTime()
      val big = Dedup.minhash(spark, dir).as[(Long, Long, Double)].collect()
      info(f"dedup_minhash over ${10 * nSig} shingleable docs: ${(System.nanoTime() - t0) / 1e9}%.1f s, ${big.length} pairs")
      val intraGroup = big.filter { case (da, db, _) => da % off == db % off }
      assert(intraGroup.length == 45 * nSig, "missing exact-copy pairs (LSH recall must be 1.0 on identical docs)")
      assert(intraGroup.forall(_._3 == 1.0), "exact copies must verify at jaccard 1.0")
      assert(big.length == 45 * nSig + 100 * basePairs,
        s"pair volume ${big.length} != predicted ${45 * nSig + 100 * basePairs}")
    }
  }

  test("AQE splits the skewed partition of a hot-key join") {
    // the runtime half of the skew story (Skew.saltedTotals is the manual
    // half): 95% of the fact rows share one join key, thresholds scaled
    // to the fixture, and AQE must re-plan the join with the hot
    // partition split (isSkewJoin) while returning exactly one row per
    // fact row
    import org.apache.spark.sql.execution.joins.ShuffledJoin
    val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
    withTempDir("graft-skew") { dir =>
      // materialize both sides as MULTI-FILE parquet first: AQE splits a
      // skewed reduce partition at map-output-block granularity, so the
      // hot key's bytes must come from several mappers — reading a
      // single-row-group file gives one mapper, whose block is
      // indivisible, and the skew rule silently declines to split
      li.select(
          when(col("l_orderkey") % 20 =!= 0, lit(0L)).otherwise(col("l_orderkey")).as("k"),
          col("l_quantity"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$dir/fact.parquet")
      val fact = spark.read.parquet(s"$dir/fact.parquet")
      fact.select("k").distinct().withColumn("payload", col("k") * 2)
        .write.mode("overwrite").parquet(s"$dir/dim.parquet")
      val dim = spark.read.parquet(s"$dir/dim.parquet")
      withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold"                        -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold"               -> "-1",
        "spark.sql.adaptive.skewJoin.enabled"                         -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor"           -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes"             -> "64KB") {
        val j = fact.join(dim, "k")
        // execute j's own physical plan (count() would plan a different
        // query and leave this AdaptiveSparkPlan un-finalized)
        assert(j.queryExecution.toRdd.count() == fact.count(),
          "hot-key join lost or duplicated rows")
        val joins = graft.Smoke.finalPlanNodes(j.queryExecution.executedPlan)
          .collect { case s: ShuffledJoin => s }
        assert(joins.nonEmpty, "expected a shuffled join in the adaptive plan")
        assert(joins.exists(_.isSkewJoin),
          s"AQE did not mark the join skew-split:\n${j.queryExecution.executedPlan}")
      }
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the injected-semi-join feature that matters at 100 TB: a selective
    // dimension filter becomes a bloom filter evaluated on the FACT scan,
    // so rows that cannot join die before the shuffle instead of after
    // it. Thresholds are lowered because the fixture is KB-sized; the
    // shape is what's being pinned, not the sizes.
    withSQLConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, Sf0001).select("l_orderkey", "l_quantity")
      val sel = Tables.orders(spark, Sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$plan")
      // the filter is a may-contain test — results must be exactly the
      // unfiltered join's
      var want = -1L
      withSQLConf("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        want = li.join(sel, col("l_orderkey") === col("o_orderkey")).count()
      }
      assert(want > 0 && joined.count() == want)
    }
  }

  test("every shared-tmpdir scratch path carries an app-unique component") {
    // Lesson from the round-7 corpus_csv/corpus_jsonl hash failures: a
    // scratch dir keyed only by scale factor is world-shared mutable
    // state — any concurrent JVM (bench overlapping verify, a parallel
    // shard) tears the read-back. Rule (SCALING.md): every materialized
    // intermediate under java.io.tmpdir must key its path by
    // applicationId (or use a fresh createTempDirectory). Enforced here
    // as a source audit so a future operator can't silently regress.
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty)
    for (f <- files) {
      val lines = java.nio.file.Files.readAllLines(f).asScala.toVector
      for ((l, i) <- lines.zipWithIndex if l.contains("java.io.tmpdir")) {
        val ctx = lines.slice(i, math.min(lines.size, i + 4)).mkString(" ")
        assert(ctx.contains("applicationId"),
          s"$f:${i + 1} builds a tmpdir path without an app-unique component: $l")
      }
    }
  }

  test("LSH/cluster geometry derives from table size, matching the oracle pin at fixture scale") {
    // one formula, two evaluation sites: the static oracle SQL pins the
    // geometry at the fixture row count, the Spark side derives it from
    // the real table — equal at the gate by construction
    assert(Similarity.planesFor(Dedup.FixtureEmbRows, Dedup.EmbTargetBucket) == Dedup.EmbPlanes)
    assert(Similarity.planesFor(Dedup.FixtureEmbRows, Similarity.AnnTargetBucket)
      == Similarity.NumPlanes)
    assert(Curation.centroidsFor(Dedup.FixtureEmbRows, Dedup.SemTargetCluster)
      == Curation.KCentroids)
    assert(Tables.embeddingsCount(spark, Sf0001) == Dedup.FixtureEmbRows)
    // occupancy-constant growth: 2^planes buckets ∝ n, centroids ∝ n
    assert(Similarity.planesFor(1L << 30, 64) == 24)
    assert(Curation.centroidsFor(1L << 20, 64) == (1 << 14))
    assert(Similarity.planesFor(100, 1000) == 1) // never degenerate to 0 planes
    // minhash banding: the S-curve planner reproduces the oracle-pinned
    // 12x3 geometry at the 0.5 Jaccard target, and tracks the threshold
    assert(Dedup.bandRowsFor(Dedup.JaccardThreshold, Dedup.NumHashes) == Dedup.BandRows)
    assert(Dedup.bandRowsFor(0.8, 36) == 9)  // high threshold -> narrower bands
    assert(Dedup.bandRowsFor(0.2, 36) == 2)  // low threshold -> wider bands
  }

  test("approx_count_distinct lands within 5% of exact") {
    val li    = Tables.lineitem(spark, Sf0001)
    val exact = li.select(count_distinct(col("l_orderkey"))).as[Long].head()
    val approx = li.select(approx_count_distinct(col("l_orderkey"), 0.01)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("bigint-image envelope guard is exact below 2^63 and raises loudly past it") {
    // below the envelope: the guard is a value-identical passthrough
    val ok = Seq("123456789", "-42").toDF("v")
      .agg(Relational.guardLongImage(
        sum(col("v").cast("decimal(38,0)")), "probe").as("g"))
      .select(col("g")).as[Long].head()
    assert(ok == 123456747L)
    // past it: a non-ANSI decimal->long cast would WRAP silently; the
    // guard must raise instead (SCALING.md round-15: envelopes are
    // enforced, not advisory)
    val e = intercept[Throwable] {
      Seq("9000000000000000000", "9000000000000000000").toDF("v")
        .agg(Relational.guardLongImage(
          sum(col("v").cast("decimal(38,0)")), "probe").as("g"))
        .collect()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else t.getMessage :: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("2^63")), chain(e).mkString(" | "))
  }

  test("q1_pricing's dsum trips the envelope guard on an over-envelope fixture") {
    // end-to-end: a lineitem whose quantity sum image exceeds 2^63/1e6
    // must fail the QUERY, not drift 1 ULP (or wrap) in silence
    val dir = java.nio.file.Files.createTempDirectory("graft-envelope").toFile
    dir.deleteOnExit()
    import java.sql.Timestamp
    Seq(
      ("A", "F", Timestamp.valueOf("1995-01-01 00:00:00"), 9.3e12, 1.0, 0.0, 0.0),
      ("A", "F", Timestamp.valueOf("1995-01-02 00:00:00"), 9.3e12, 1.0, 0.0, 0.0))
      .toDF("l_returnflag", "l_linestatus", "l_shipdate",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val e = intercept[Throwable] {
      SparkEntry.queries("q1_pricing")(spark, dir.toString).collect()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else t.getMessage :: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("2^63")), chain(e).mkString(" | "))
  }
}
