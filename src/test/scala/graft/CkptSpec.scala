package graft

import org.scalatest.funsuite.AnyFunSuite

/** The [[Ckpt]] materialization seam: reliable-checkpoint mode must be a
  * pure storage-substrate swap — identical results, same LogicalRDD scan
  * surface — so the iterative ops (connected components, pagerank, BPE)
  * can run executor-loss-safe on a cluster by flipping one conf.
  */
class CkptSpec extends AnyFunSuite with SparkTestBase {

  private def withReliable[A](f: => A): A = {
    spark.conf.set(Ckpt.ReliableKey, "true")
    try f
    finally spark.conf.unset(Ckpt.ReliableKey)
  }

  test("reliable mode: same rows as local mode for an iterative op") {
    val local = ops.Dedup.clusters(spark, Sf0001).collect().toSet
    val rel   = withReliable(ops.Dedup.clusters(spark, Sf0001).collect().toSet)
    assert(rel == local)
    assert(spark.sparkContext.getCheckpointDir.isDefined,
      "reliable mode must provision a checkpoint dir")
  }

  test("reliable mode: checkpoint surfaces as the same scan shape") {
    import org.apache.spark.sql.functions._
    val df = spark.range(100).toDF("id").withColumn("v", col("id") * 2)
    val l  = Ckpt(df)
    val r  = withReliable(Ckpt(df))
    assert(r.collect().toSeq == l.collect().toSeq)
    // both modes truncate lineage to an RDD scan leaf: downstream plan
    // shapes (audited in PlanAuditSpec) cannot differ between modes
    def leaf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.collectLeaves().map(_.nodeName).toList
    assert(leaf(l) == leaf(r), s"${leaf(l)} vs ${leaf(r)}")
  }

  test("reliable checkpoint files actually exist under the checkpoint dir") {
    withReliable {
      Ckpt(spark.range(10).toDF("id")).count()
      val dir = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
      def files(f: java.io.File): Iterator[java.io.File] =
        Iterator(f) ++ Option(f.listFiles()).iterator.flatten.flatMap(files)
      assert(files(dir).exists(_.getName.startsWith("part-")),
        s"no checkpoint part files under $dir")
    }
  }

  private def ckptRdds(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
  private def ckptIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    ckptRdds(df).map(_.id).toSet

  test("cached entries key on the checkpoint substrate (reliable flip)") {
    // r13 advice: pin directly that a session flipping reliable mode is
    // never served the local-mode blocks (they don't survive executor
    // loss — the exact guarantee the flip buys)
    val key   = "ckptspec:substrate"
    val local = Ckpt.cached(spark, key)(spark.range(50).toDF("id"))
    val rel   = withReliable(Ckpt.cached(spark, key)(spark.range(50).toDF("id")))
    assert(ckptIds(rel) != ckptIds(local),
      "reliable-mode lookup was served the local-mode materialization")
    assert(rel.collect().toSeq == local.collect().toSeq)
    // flipping BACK is again served the original local entry (memoized)
    assert(ckptIds(Ckpt.cached(spark, key)(spark.range(50).toDF("id"))) == ckptIds(local))
  }

  test("freeing checkpoints logs no WARN: superseded generations and a release") {
    import spark.implicits._
    // RDD.unpersist warns on every locally checkpointed RDD that its
    // lineage cannot be recomputed; freeing a dead generation is the
    // point, so the free path must say nothing
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L)).toDF("da", "db")
    val lines = warnings {
      // k-core's peel loop frees each superseded edge generation and
      // its last one: the 2-core here is the triangle 1-2-3
      assert(ops.Graph.kcore(pairs, k = 2).count() == 3L)
      Ckpt.cached(spark, "warntest:entry")(pairs).count()
      assert(Ckpt.release("warntest:") == 1)
    }
    assert(lines.isEmpty, lines.mkString("\n"))
  }

  test("chaos: reliable checkpoints survive block loss; local blocks are gone for good") {
    // localCheckpoint truncates lineage — once its blocks are wiped
    // (the single-JVM stand-in for losing an executor), the scan is
    // unrecoverable. That is the documented local-mode trade-off...
    val l = Ckpt(spark.range(0, 1000, 1, 4).toDF("id"))
    ckptRdds(l).foreach(_.unpersist(blocking = true))
    intercept[Exception](l.count())
    // ...and the reliable substrate is exactly the cure: same wipe, but
    // the data lives in checkpoint FILES, so the scan recovers fully
    withReliable {
      val r = Ckpt(spark.range(0, 1000, 1, 4).toDF("id"))
      ckptRdds(r).foreach(_.unpersist(blocking = true))
      assert(r.count() === 1000L)
    }
  }

  test("chaos: reliable-mode iterative op recovers from an injected task failure") {
    // r13 verdict item 6: kill a task mid-iteration with reliable mode
    // on and prove the run converges to the clean answer. The crashing
    // source sits UNDER connected components' first checkpoint build, so
    // the failure fires inside a reliable checkpoint job; local[4,2]
    // gives Spark one retry (the BehavioralSpec crash-test harness).
    // Genuine executor loss is not constructible on local[*] — the
    // block-loss chaos test above covers that half of the guarantee.
    import spark.implicits._
    CkptSpec.crashes.set(0)
    val base = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 10L))
      .toDF("da", "db")
    val crashing = base.as[(Long, Long)].repartition(4).mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 &&
        CkptSpec.crashes.getAndIncrement() == 0)
        throw new RuntimeException("injected crash under a reliable checkpoint")
      it
    }.toDF("da", "db")
    val expected = ops.Dedup.connectedComponents(base).collect().toSet
    val got = withReliable(ops.Dedup.connectedComponents(crashing).collect().toSet)
    assert(CkptSpec.crashes.get() >= 1, "crash was never injected")
    assert(got == expected, "reliable-mode recovery diverged from the clean run")
  }
}

object CkptSpec {
  /** Cross-task crash latch for the failure-injection test (static so
    * the serialized closure shares one counter across attempts).
    */
  val crashes = new java.util.concurrent.atomic.AtomicInteger(0)
}
