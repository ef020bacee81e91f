package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Skewed-ingest probe (round-12 verdict item 6): a Gutenberg-shaped
  * directory — one ~600 KB file plus many tiny ones — is exactly the
  * reference's 1-file-=-1-task hazard
  * (`internal/coordinator/coordinator.go:124-133`: the map task list IS
  * the file list, so one giant file serializes the whole map phase behind
  * a straggler while N-1 workers idle on KB-sized tasks).
  *
  * Both scans avoid both halves of the hazard, and this spec pins each:
  *
  *  - SPLIT the giant: the line scan is splittable, so
  *    `spark.sql.files.maxPartitionBytes` cuts the 600 KB file into ~10
  *    parallel tasks — no straggler.
  *  - PACK the tiny: the whole-file scan (F1) puts its files into one task
  *    per core, not one task per file (at 100 TB with millions of small
  *    objects, per-file tasks are a scheduler/listing DoS).
  *
  * The whole-file scan is unsplittable by definition, and its map function
  * does work in proportion to a file's bytes, so it packs the files
  * largest-first onto the least-loaded task (`TextSources.wholeFiles`);
  * `openCostInBytes` does not shape it. A file bigger than a core's share
  * still sets the map phase's floor; the reduce side is balanced by the
  * map→shuffle explode (MapReduceJob's flatMap emits per-token rows that
  * hash-shuffle regardless of which task read the big file).
  *
  * The measured max/mean task-byte ratios printed by this spec are the
  * SCALING.md "skewed ingest" row.
  */
class SkewIngestSpec extends AnyFunSuite with SparkTestBase {

  /** One ~600 KB file + 40 ~1.5 KB files of deterministic word text. */
  private lazy val skewDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-skew-")
    dir.toFile.deleteOnExit()
    // ~500-word ALPHABETIC vocabulary (the tokenizer splits on
    // non-letters, so digits in a word would collapse the whole corpus
    // to one key) — real reduce-side key cardinality
    def word(n: Int): String = "w" + n.toString.map(c => ('a' + (c - '0')).toChar)
    def line(seed: Int): String =
      (0 until 8).map(i => word((seed * 31 + i * 7) % 499)).mkString(" ")
    val big = new java.io.PrintWriter(s"$dir/big.txt")
    try (0 until 12000).foreach(i => big.println(line(i)))   // ~600 KB
    finally big.close()
    for (f <- 0 until 40) {
      val w = new java.io.PrintWriter(s"$dir/small_$f.txt")
      try (0 until 30).foreach(i => w.println(line(f * 1000 + i))) // ~1.5 KB
      finally w.close()
    }
    dir.toString
  }

  test("line scan splits the giant file: no single-task straggler") {
    withSQLConf(
      "spark.sql.files.maxPartitionBytes" -> (64 * 1024).toString,
      "spark.sql.files.openCostInBytes"   -> (4 * 1024).toString) {
      val df = TextReads.lines(spark, skewDir)
      val perPartition = df.rdd
        .mapPartitions(it => Iterator(it.map(_.getString(0).length + 1L).sum))
        .collect()
      val nonEmpty = perPartition.filter(_ > 0)
      // the 600 KB file must span ~10 64 KB splits: the reference would
      // run it as ONE task; here no task owns more than ~an eighth of it
      assert(nonEmpty.length >= 8,
        s"big file did not split: ${nonEmpty.length} non-empty scan tasks")
      val ratio = nonEmpty.max.toDouble / (nonEmpty.sum.toDouble / nonEmpty.length)
      assert(ratio <= 4.0,
        s"task byte skew $ratio (bytes/task: ${nonEmpty.mkString(",")})")
      info(f"line scan: ${nonEmpty.length} tasks, max/mean bytes ratio $ratio%.2f " +
        f"(reference 1-file-1-task ratio would be ~41/1.46 ≈ 28)")
    }
  }

  test("tiny files pack: far fewer tasks than files") {
    // the whole-file scan runs one task per core, whatever the file-source
    // packing confs say
    withSQLConf(
      "spark.sql.files.maxPartitionBytes" -> (128 * 1024).toString,
      "spark.sql.files.openCostInBytes"   -> (4 * 1024).toString) {
      val df = TextSources.wholeFiles(spark, s"$skewDir/small_*.txt")
      val n  = df.rdd.getNumPartitions
      // the reference schedules 40 map tasks for 40 files; packing must
      // coalesce them into a handful
      assert(n <= 8, s"40 tiny files scheduled as $n tasks — packing regressed")
      assert(df.count() == 40)
      info(s"whole-file scan: 40 files packed into $n tasks (reference: 40 tasks)")
    }
  }

  test("whole-file scan packs largest-first: no task above max(largest file, 4/3 of the mean)") {
    // file-source packing by size + openCostInBytes put 400+200+150 KB
    // (65% of the bytes) into one of 4 tasks; LPT gives 400/250/245/250
    val dir = java.nio.file.Files.createTempDirectory("graft-lpt-")
    val kb  = Seq(400, 200, 150, 100, 80, 60, 50, 40, 30, 20, 10, 5)
    for ((k, i) <- kb.zipWithIndex)
      java.nio.file.Files.write(dir.resolve(f"f$i%02d.txt"), Array.fill[Byte](k * 1024)('a'))
    val perTask = TextSources.wholeFiles(spark, s"$dir/*.txt").rdd
      .mapPartitions(it => Iterator(it.map(_.getString(1).length.toLong).sum))
      .collect()
    val total = kb.sum * 1024L
    val bound = math.max(kb.max * 1024L, 4 * total / (3 * perTask.length))
    assert(perTask.sum == total)
    assert(perTask.max <= bound,
      s"busiest task ${perTask.max} B > bound $bound B (bytes/task: ${perTask.mkString(",")})")
    info(s"whole-file scan: ${perTask.length} tasks, KB/task ${perTask.map(_ / 1024).mkString(",")}")
  }

  test("wordcount over the skewed dir balances at the shuffle regardless of scan skew") {
    // F1 whole-file scan cannot split big.txt — the map task that owns it
    // is the straggler the reference cannot avoid. The flatMap→shuffle
    // explode rebalances BEFORE the expensive per-key work: assert the
    // reduce-side keys spread across shuffle partitions (AQE coalescing
    // off — on the KB-sized fixture it would legitimately merge the tiny
    // reduce output into one partition, hiding the spread under test).
    withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val docs = TextSources.wholeFiles(spark, s"$skewDir/*.txt")
      val out  = graft.mr.MapReduceJob.run(spark, docs, graft.mr.MRApps.WordCount)
      val reduceRows = out.rdd
        .mapPartitions(it => Iterator(it.size.toLong)).collect().filter(_ > 0)
      assert(reduceRows.length > 1,
        s"reduce side ran in ${reduceRows.length} task(s) — shuffle did not spread the keys")
      val ratio = reduceRows.max.toDouble / (reduceRows.sum.toDouble / reduceRows.length)
      assert(ratio <= 2.0, s"reduce-side key skew $ratio (${reduceRows.mkString(",")})")
      info(s"reduce side: ${reduceRows.length} tasks, keys/task ${reduceRows.mkString(",")}")
      // correctness spot check: counts must cover every file's tokens
      val total = out.agg(sum(col("value").cast("long"))).collect()(0).getLong(0)
      val expected = 12000L * 8 + 40L * 30 * 8
      assert(total == expected, s"token total $total != $expected")
    }
  }
}
