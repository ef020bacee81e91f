package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestBase, Tables}

/** Write-side maintenance operators: small-file compaction and
  * sorted-layout data skipping. Both are empirical demonstrations — the
  * property asserted is the one that pays at 100 TB (file counts, rows
  * actually read), not just result equality.
  */
class StorageSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("compact rewrites a small-file mess into ceil(bytes/target) files, losslessly") {
    val base   = Files.createTempDirectory("graft-compact")
    val inDir  = base.resolve("in").toString
    val outDir = base.resolve("out").toString
    // simulate an incremental writer: 64 tiny files
    val ev = Tables.events(spark, Sf0001)
    ev.repartition(64).write.parquet(inDir)
    val inBytes = {
      val p  = new org.apache.hadoop.fs.Path(inDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    }
    val target = inBytes / 3 // force a 3..4-file plan regardless of fixture size
    val (before, after) = Storage.compact(spark, inDir, outDir, target)
    assert(before == 64)
    assert(after == math.ceil(inBytes.toDouble / target).toInt)
    // lossless: same multiset of rows
    val a = spark.read.parquet(inDir).orderBy("event_id").collect()
    val b = spark.read.parquet(outDir).orderBy("event_id").collect()
    assert(a.sameElements(b))
  }

  test("compact sizes a partitioned (nested) input from its real bytes") {
    // a flat listStatus sums 0 bytes for hive-partitioned data (the
    // files live in subdirectories) and would silently collapse the
    // table into one output file
    val base   = Files.createTempDirectory("graft-compact-nested")
    val inDir  = base.resolve("in").toString
    val outDir = base.resolve("out").toString
    val ev = Tables.events(spark, Sf0001)
      .withColumn("et", org.apache.spark.sql.functions.col("event_type"))
    ev.repartition(8).write.partitionBy("et").parquet(inDir)
    val inBytes = {
      val p  = new org.apache.hadoop.fs.Path(inDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var (n, b) = (0, 0L)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { n += 1; b += f.getLen }
      }
      assert(n > 8, s"expected nested files, saw $n") // one dir per event type x 8
      b
    }
    val target = inBytes / 3
    val (before, after) = Storage.compact(spark, inDir, outDir, target)
    assert(before > 8)
    assert(after == math.ceil(inBytes.toDouble / target).toInt, s"before=$before after=$after")
    assert(spark.read.parquet(outDir).count() == ev.count())
  }

  test("z-ordered layout prunes on BOTH dimensions where a single-column sort cannot") {
    // quantized 2-D point set: user bucket x value bucket. The user-sorted
    // layout prunes user filters but reads EVERYTHING for a value filter;
    // the z-ordered layout confines a value range to a subset of groups.
    val base = Files.createTempDirectory("graft-zorder")
    val byUser   = base.resolve("byUser").toString
    val zOrdered = base.resolve("z").toString
    val pts = Tables.events(spark, Sf0001)
      .select(
        col("event_id"),
        (col("user_id") % 1024).as("ua"),
        floor(col("value")).cast("long").as("vb"))
    Storage.writeSorted(spark, pts, "ua", byUser, numFiles = 8, rowGroupBytes = 16L << 10)
    Storage.writeZOrdered(spark, pts, "ua", "vb", zOrdered, numFiles = 8, rowGroupBytes = 16L << 10)

    def rowsReadFor(dir: String): (Long, Long) = {
      import org.apache.spark.sql.execution.FileSourceScanExec
      val df = spark.read.parquet(dir).filter(col("vb") < 8L) // value-only box side
      val matched = df.collect().length.toLong
      val scans = graft.Smoke.finalPlanNodes(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
      (matched, scans.map(_.metrics("numOutputRows").value).sum)
    }

    val total = pts.count()
    val (matchedU, readByUser) = rowsReadFor(byUser)
    val (matchedZ, readZ)      = rowsReadFor(zOrdered)
    assert(matchedU == matchedZ && matchedZ > 0)
    // user-sorted layout: value ranges span every group, nothing prunes
    assert(readByUser == total, s"expected full read on the user-sorted copy, got $readByUser of $total")
    // z-order: the value bits participate in the layout, so the same
    // filter skips groups
    assert(readZ < total,
      s"z-ordered layout read $readZ of $total rows — no pruning on the second dimension")
  }

  test("sorted layout prunes row groups a random layout cannot") {
    val base      = Files.createTempDirectory("graft-skip")
    val sortedDir = base.resolve("sorted").toString
    val randomDir = base.resolve("random").toString
    val ev = Tables.events(spark, Sf0001).select("event_id", "value")
    Storage.writeSorted(spark, ev, "value", sortedDir)
    // same tiny row groups, random order — every group spans the full range
    ev.repartition(4).write.mode("overwrite")
      .option("parquet.block.size", (64L << 10).toString).parquet(randomDir)

    def rowsReadFor(dir: String): (Long, Long) = {
      import org.apache.spark.sql.execution.FileSourceScanExec
      // ~bottom 2% of the fixture's value range (values span ~0.03..330)
      val df = spark.read.parquet(dir).filter(col("value") < lit(1.0))
      // collect() (not count()) so the metrics we read below belong to
      // the plan that actually ran — count() builds its own QueryExecution
      val matched = df.collect().length.toLong
      val scans = graft.Smoke.finalPlanNodes(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
      val read = scans.map(_.metrics("numOutputRows").value).sum
      (matched, read)
    }

    val total = ev.count()
    val (matchedS, readSorted) = rowsReadFor(sortedDir)
    val (matchedR, readRandom) = rowsReadFor(randomDir)
    assert(matchedS == matchedR && matchedS > 0) // same answer either way
    // random layout: min/max stats are useless, every row group survives
    assert(readRandom == total, s"expected full read, got $readRandom of $total")
    // sorted layout: only the row groups overlapping the range survive
    // their min/max check (the fixture yields one surviving group of the
    // four — 250 of 1000 rows)
    assert(readSorted <= total / 4,
      s"sorted layout read $readSorted of $total rows — row-group pruning not effective")
  }

  test("orc round trip preserves the corpus summary bit-for-bit") {
    val direct = Storage.corpusSummary(graft.Tables.documents(spark, Sf0001))
      .as[(String, String, Long, Long, java.math.BigDecimal)].collect().sortBy(r => (r._1, r._2))
    val orc = Storage.orcRoundtrip(spark, Sf0001)
      .as[(String, String, Long, Long, java.math.BigDecimal)].collect().sortBy(r => (r._1, r._2))
    assert(orc.nonEmpty && orc.toSeq == direct.toSeq)
  }

  test("ref-integrity audit counts injected orphans, zero on the intact fixture") {
    // the synthetic warehouse is referentially intact — every edge 0
    val clean = Relational.refIntegrity(spark, Sf0001)
      .as[(String, Long, Long, Double)].collect()
    assert(clean.length == 7)
    assert(clean.forall(_._3 == 0L), s"intact fixture reported orphans: ${clean.toSeq}")
    // corrupt a copy: drop 10 orders and 2 nations; every other table intact
    val dir = Files.createTempDirectory("graft-refint").toString
    val dropped = Tables.orders(spark, Sf0001).select("o_orderkey")
      .orderBy("o_orderkey").limit(10).as[Long].collect().toSet
    Seq("lineitem", "customer", "supplier", "part", "region").foreach { t =>
      spark.read.parquet(s"$Sf0001/$t.parquet").write.parquet(s"$dir/$t.parquet")
    }
    Tables.orders(spark, Sf0001).filter(!col("o_orderkey").isin(dropped.toSeq: _*))
      .write.parquet(s"$dir/orders.parquet")
    spark.read.parquet(s"$Sf0001/nation.parquet").filter(col("n_nationkey") >= 2)
      .write.parquet(s"$dir/nation.parquet")
    val got = Relational.refIntegrity(spark, dir)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    val liOrph = Tables.lineitem(spark, Sf0001)
      .filter(col("l_orderkey").isin(dropped.toSeq: _*)).count()
    val custOrph = Tables.customer(spark, Sf0001).filter(col("c_nationkey") < 2).count()
    val suppOrph = Tables.supplier(spark, Sf0001).filter(col("s_nationkey") < 2).count()
    assert(liOrph > 0 && custOrph > 0, "corruption should create orphans")
    assert(got("lineitem->orders") == liOrph)
    assert(got("customer->nation") == custOrph)
    assert(got("supplier->nation") == suppOrph)
    assert(got("lineitem->part") == 0L && got("nation->region") == 0L)
  }

  test("corpus_zorder: zone maps are sound, complete, and prune more than a time-ordered cut") {
    val li = Tables.lineitem(spark, Sf0001)
    val audit = Storage.zorderAudit(spark, Sf0001).collect()
    assert(audit.length == Storage.ZFiles)
    assert(audit.map(_.getAs[Long]("n_rows")).sum == li.count())
    // zone-map soundness: a file marked prunable must contain zero hits —
    // skipping it can never change the query result
    audit.foreach { r =>
      if (r.getAs[Boolean]("prunable")) assert(r.getAs[Long]("n_hits") == 0L)
      assert(r.getAs[Long]("min_a") >= 0L && r.getAs[Long]("max_a") <= 255L)
      assert(r.getAs[Long]("min_b") >= 0L && r.getAs[Long]("max_b") <= 255L)
    }
    // completeness: per-file hits sum to the direct predicate count
    val direct = li.filter(
      least(floor(datediff(to_date(col("l_shipdate")),
        lit("1995-01-01").cast("date")).cast("double") / 10.0), lit(255L))
        .between(Storage.zLoA, Storage.zHiA) &&
      least(floor(col("l_extendedprice") / 500.0), lit(255L))
        .between(Storage.zLoB, Storage.zHiB)).count()
    assert(audit.map(_.getAs[Long]("n_hits")).sum == direct)
    // the layout pays: the same file cut ordered by l_orderkey (the
    // append/time order a lake gets by default) leaves nearly every file
    // spanning the full (qa, qb) range, so the Z-order cut must prune
    // strictly more files — this is the re-layout's business case
    import org.apache.spark.sql.expressions.Window
    val q = li.select(
      least(floor(datediff(to_date(col("l_shipdate")),
        lit("1995-01-01").cast("date")).cast("double") / 10.0), lit(255L)).as("qa"),
      least(floor(col("l_extendedprice") / 500.0), lit(255L)).as("qb"),
      col("l_orderkey"), col("l_linenumber"))
    val keyCut = q
      .withColumn("file_id",
        ntile(Storage.ZFiles).over(Window.orderBy("l_orderkey", "l_linenumber")))
      .groupBy("file_id")
      .agg(min("qa").as("min_a"), max("qa").as("max_a"),
        min("qb").as("min_b"), max("qb").as("max_b"))
      .filter(col("max_a") < Storage.zLoA || col("min_a") > Storage.zHiA ||
        col("max_b") < Storage.zLoB || col("min_b") > Storage.zHiB)
      .count()
    val zPrunable = audit.count(_.getAs[Boolean]("prunable")).toLong
    assert(zPrunable > keyCut,
      s"z-order pruned $zPrunable files, time-order cut pruned $keyCut")
    assert(zPrunable >= Storage.ZFiles / 2)
  }
}
