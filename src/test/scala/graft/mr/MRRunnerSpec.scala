package graft.mr

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import graft.SparkTestBase
import graft.sources.TextReads

/** End-to-end CLI submission flow (`play.sh`'s golden path: run the app
  * over a file glob, read the text output back, diff against an
  * independent computation) — the catalog-external validation of the
  * whole `MRRunner` surface: argument bounds, registry lookup, glob input,
  * secondary-sort execution on `nreduce` partitions, `"key value"` text
  * output layout.
  */
class MRRunnerSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def writeFixture(): (String, String) = {
    val in  = java.nio.file.Files.createTempDirectory("mrrunner-in-")
    val out = java.nio.file.Files.createTempDirectory("mrrunner-out-").resolve("wc")
    java.nio.file.Files.writeString(in.resolve("pg-a.txt"),
      "the cat sat on the mat\nthe mat sat still\n")
    java.nio.file.Files.writeString(in.resolve("pg-b.txt"),
      "a dog, a dog! and 42 cats\n")
    java.nio.file.Files.writeString(in.resolve("notes.md"), "never read me")
    (in.toString, out.toString)
  }

  test("wc over a text glob: output layout and content match the relational twin") {
    val (in, out) = writeFixture()
    // the reduce side runs nreduce partitions: the one stage that reads
    // the shuffle (the only stage with a parent) has one task per
    // partition, and AQE does not coalesce them
    val reduceStageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.parentIds.nonEmpty) reduceStageTasks.add(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      MRRunner.run(spark, "wc", s"$in/pg-*.txt", out, nreduce = 3)
      eventually(timeout(Span(10, Seconds))) {
        // last: a stage event of an earlier suite may still be queued
        assert(reduceStageTasks.asScala.lastOption.contains(3), reduceStageTasks)
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    // output is the reference's canonical format: text part files of
    // "<key> <value>" lines (example/mrsequential/mrsequential.go:84)
    val partFiles = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    assert(partFiles.nonEmpty, s"no part files under $out")

    val got = TextReads.readKV(spark, out)
      .as[(String, String)].collect().map { case (k, v) => k -> v.toLong }.toMap

    // relational twin: same tokenizer, same count, straight DataFrame agg
    val docs = Seq(
      (1L, "the cat sat on the mat\nthe mat sat still\n"),
      (2L, "a dog, a dog! and 42 cats\n")).toDF("doc_id", "text")
    val want = graft.text.Tokenize.tokens(docs)
      .groupBy("token").count()
      .as[(String, Long)].collect().toMap

    assert(got == want, s"got=$got want=$want")
    // letters-only tokenization (the Go FieldsFunc parity): "42" is
    // never a token, punctuation never leaks into keys
    assert(got("the") == 3 && got("mat") == 2 && got("dog") == 2)
    assert(!got.contains("42") && !got.contains("dog,"))
    // the .md file was outside the glob — its tokens must be absent
    assert(!got.contains("never"))
  }

  test("a run over a glob logs no WARN or ERROR line") {
    // the logs carry only actionable lines; a file-source read of a glob
    // logs FileStreamSink's "Assume no metadata directory" WARN, with a
    // FileNotFoundException stack trace, on every read
    val (in, out) = writeFixture()
    val lines = warnings(MRRunner.run(spark, "indexer", s"$in/pg-*.txt", out, nreduce = 2))
    assert(lines.isEmpty, lines.mkString("\n"))
  }

  test("main validates its arguments before any session work") {
    intercept[IllegalArgumentException](MRRunner.main(Array("wc", "only-two")))
    val e = intercept[IllegalArgumentException](
      MRRunner.main(Array("no-such-app", "in", "out")))
    assert(e.getMessage.contains("no-such-app") && e.getMessage.contains("wc"))
    intercept[IllegalArgumentException](
      MRRunner.run(spark, "no-such-app", "in", "out", 2))
  }

  test("nreduce below 1 is rejected before any Spark work") {
    // a missing input would fail in Spark with an AnalysisException, and
    // main would start a session: the bound must trip first
    for (n <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](
        MRRunner.run(spark, "wc", "/no/such/input/*", "/no/such/out", n))
      assert(e.getMessage.contains("nreduce") && e.getMessage.contains(n.toString), e.getMessage)
      val m = intercept[IllegalArgumentException](
        MRRunner.main(Array("wc", "/no/such/input/*", "/no/such/out", n.toString)))
      assert(m.getMessage.contains("nreduce"), m.getMessage)
    }
  }
}
