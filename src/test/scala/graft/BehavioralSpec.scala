package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite
import graft.mr.{MapReduceJob, MRApps, KV, MRApp}

/** Behavioral parity with the reference's probe tests (`play.sh`):
  * crash recovery (crash.so, play.sh:268-315), parallel execution
  * (mtiming/rtiming, play.sh:131-183), and exactly-once effects
  * (jobcount, play.sh:185-208) — re-expressed against Spark's task-retry
  * and scheduling machinery.
  */
class BehavioralSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    "f1" -> "apple banana apple",
    "f2" -> "banana cherry",
    "f3" -> "cherry apple date",
    "f4" -> "date egg fig")

  test("crash injection: first task attempt dies, job still yields exact output") {
    BehavioralSpec.crashes.set(0)
    val crashingWc: MRApp = new MRApp {
      val name = "crashing-wc"
      def map(filename: String, contents: String): Seq[KV] = {
        val tc = TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0 &&
          BehavioralSpec.crashes.getAndIncrement() == 0) {
          throw new RuntimeException("injected crash (crash.go analogue)")
        }
        MRApps.WordCount.map(filename, contents)
      }
      def reduce(key: String, values: Seq[String]): Seq[String] =
        MRApps.WordCount.reduce(key, values)
    }
    val expected = MapReduceJob
      .run(spark, docs.toDF("filename", "contents"), MRApps.WordCount)
      .as[(String, String)].collect().sorted.toSeq
    val got = MapReduceJob
      .run(spark, docs.toDF("filename", "contents").repartition(4), crashingWc)
      .as[(String, String)].collect().sorted.toSeq
    assert(BehavioralSpec.crashes.get() >= 1, "crash was never injected")
    assert(got == expected, "output after recovery differs from clean run")
  }

  test("crash injection in reduce: first attempt dies, job still yields exact output") {
    // crash.go injects failure inside BOTH Map and Reduce
    // (`example/mrapps/crash/crash.go:38,50`); this is the reduce-side half
    BehavioralSpec.reduceCrashes.set(0)
    val crashingWc: MRApp = new MRApp {
      val name = "reduce-crashing-wc"
      def map(filename: String, contents: String): Seq[KV] =
        MRApps.WordCount.map(filename, contents)
      def reduce(key: String, values: Seq[String]): Seq[String] = {
        val tc = TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 &&
          BehavioralSpec.reduceCrashes.getAndIncrement() == 0) {
          throw new RuntimeException("injected reduce crash (crash.go:50 analogue)")
        }
        MRApps.WordCount.reduce(key, values)
      }
    }
    val expected = MapReduceJob
      .run(spark, docs.toDF("filename", "contents"), MRApps.WordCount)
      .as[(String, String)].collect().sorted.toSeq
    val got = MapReduceJob
      .run(spark, docs.toDF("filename", "contents").repartition(4), crashingWc)
      .as[(String, String)].collect().sorted.toSeq
    assert(BehavioralSpec.reduceCrashes.get() >= 1, "reduce crash was never injected")
    assert(got == expected, "output after reduce-side recovery differs from clean run")
  }

  test("crash injection on the secondary-sort path: streaming reduce retries to exact output") {
    // the streaming path (`MapReduceJob.runSecondarySortNative`, the one
    // MRRunner runs) has its own combine + shuffle + streaming-reduce
    // machinery; pin its retry behavior under failure too
    BehavioralSpec.ssCrashes.set(0)
    val crashingWc: MRApp = new MRApp {
      val name = "ss-crashing-wc"
      def map(filename: String, contents: String): Seq[KV] =
        MRApps.WordCount.map(filename, contents)
      def reduce(key: String, values: Seq[String]): Seq[String] =
        MRApps.WordCount.reduce(key, values)
      override def reduceStream(key: String, values: Iterator[String]): Iterator[String] = {
        val tc = TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 &&
          BehavioralSpec.ssCrashes.getAndIncrement() == 0) {
          throw new RuntimeException("injected streaming-reduce crash")
        }
        MRApps.WordCount.reduceStream(key, values)
      }
    }
    val expected = MapReduceJob
      .runSecondarySortNative(spark, docs.toDF("filename", "contents"), MRApps.WordCount, Some(4))
      .as[(String, String)].collect().sorted.toSeq
    val got = MapReduceJob
      .runSecondarySortNative(spark, docs.toDF("filename", "contents"), crashingWc, Some(4))
      .as[(String, String)].collect().sorted.toSeq
    assert(BehavioralSpec.ssCrashes.get() >= 1, "secondary-sort crash was never injected")
    assert(got == expected, "secondary-sort output after recovery differs from clean run")
  }

  test("no partial committed output after a failing job (early_exit analogue)") {
    // play.sh:210-265 asserts no output is visible before it is final; the
    // Spark analogue is commit-protocol atomicity — a job whose final-stage
    // task fails permanently must leave zero committed files
    val out = java.nio.file.Files.createTempDirectory("graft-atomicity").toFile
    out.delete()
    val failing = spark.range(100).toDF("id")
      .repartition(4)
      .filter((_: org.apache.spark.sql.Row) =>
        throw new RuntimeException("injected permanent failure before commit"))
    intercept[Exception] {
      failing.write.mode("overwrite").parquet(out.getAbsolutePath)
    }
    val committed = Option(out.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") || f.getName == "_SUCCESS")
    assert(committed.isEmpty,
      s"failed job left committed output: ${committed.map(_.getName).mkString(", ")}")
  }

  test("slow-reduce atomicity: output visible mid-job is complete-or-absent (early_exit probe)") {
    // play.sh:210-265 runs early_exit.so — reduces for some keys sleep
    // 3 s — snapshots `mr-out*` the moment ANY worker exits, and requires
    // the snapshot to `cmp` equal to the final output: anything a reader
    // can see is already final. The Spark twin: a concurrent reader polls
    // the sink directory THROUGHOUT a slow-reduce job; every committed
    // part file it ever observes must carry its final bytes (writeKV
    // moves the tasks' part files into place only after the whole job has
    // succeeded — a mid-job reader sees either nothing or the finished
    // result, never a torn file).
    val slowWc: MRApp = new MRApp {
      val name = "early-exit-wc"
      // mirror early_exit.go:21-25: one KV per file
      def map(filename: String, contents: String): Seq[KV] = Seq(KV(filename, "1"))
      // mirror early_exit.go:32-40: sleep on a key subset, count values
      def reduce(key: String, values: Seq[String]): Seq[String] = {
        if (key.contains("f1") || key.contains("f3")) Thread.sleep(1500)
        Seq(values.size.toString)
      }
    }
    val out = java.nio.file.Files.createTempDirectory("graft-early-exit").toFile
    out.delete()
    val dir = out.getAbsolutePath
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val job = Future {
      graft.sources.TextSources.writeKV(
        MapReduceJob.runSecondarySortNative(
          spark, docs.toDF("filename", "contents"), slowWc, Some(4)),
        dir)
    }
    def visible(): Map[String, String] = {
      val files = Option(out.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      files.map { f =>
        f.getName -> new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      }.toMap
    }
    // poll while the job runs — the 1.5 s reduce sleeps guarantee many
    // mid-job observations
    var polls = 0
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    while (!job.isCompleted && polls < 200) {
      snapshots += visible()
      polls += 1
      Thread.sleep(25)
    }
    Await.result(job, 60.seconds)
    assert(polls >= 10, s"only $polls polls — job finished too fast to probe")
    val finalOut = visible()
    // the reference's cmp, strengthened to every observation: anything
    // ever seen must already equal its final content
    snapshots.zipWithIndex.foreach { case (snap, i) =>
      snap.foreach { case (name, content) =>
        assert(finalOut.get(name).contains(content),
          s"poll $i saw non-final content in $name")
      }
    }
    // and the final output itself is the exact word count
    val got = finalOut.values.flatMap(_.split("\n")).filter(_.nonEmpty).toSeq.sorted
    assert(got == Seq("f1 1", "f2 1", "f3 1", "f4 1"))
  }

  /** Every entry under `dir`, hidden ones included. */
  private def entries(dir: java.io.File): Seq[String] =
    Option(dir.list()).map(_.toSeq.sorted).getOrElse(Nil)

  /** Each part file's lines under `dir`, sorted, by file name. */
  private def parts(dir: java.io.File): Map[String, Seq[String]] =
    dir.listFiles().filter(f => f.isFile && f.getName.startsWith("part-")).map { f =>
      f.getName -> java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq.sorted
    }.toMap

  test("writeKV after a permanently failing reduce leaves nothing in the sink") {
    // the reduce throws on one key in every attempt; the other partitions'
    // tasks succeed, and their output must not be visible either
    val failing: MRApp = new MRApp {
      val name = "always-failing-wc"
      def map(filename: String, contents: String): Seq[KV] =
        MRApps.WordCount.map(filename, contents)
      def reduce(key: String, values: Seq[String]): Seq[String] = {
        if (key == "cherry") throw new RuntimeException("injected permanent reduce failure")
        MRApps.WordCount.reduce(key, values)
      }
    }
    val out = java.nio.file.Files.createTempDirectory("graft-kv-fail").toFile
    intercept[Exception] {
      graft.sources.TextSources.writeKV(
        MapReduceJob.runSecondarySortNative(
          spark, docs.toDF("filename", "contents"), failing, Some(4)),
        out.getAbsolutePath)
    }
    assert(entries(out).isEmpty, s"failed job left: ${entries(out).mkString(", ")}")
  }

  test("writeKV after a reduce task crashes once yields one file per partition") {
    BehavioralSpec.writeCrashes.set(0)
    val crashingWc: MRApp = new MRApp {
      val name = "write-crashing-wc"
      def map(filename: String, contents: String): Seq[KV] =
        MRApps.WordCount.map(filename, contents)
      def reduce(key: String, values: Seq[String]): Seq[String] = {
        val tc = TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 &&
          BehavioralSpec.writeCrashes.getAndIncrement() == 0) {
          throw new RuntimeException("injected reduce crash during the write")
        }
        MRApps.WordCount.reduce(key, values)
      }
    }
    def write(app: MRApp): java.io.File = {
      val out = java.nio.file.Files.createTempDirectory("graft-kv-retry").toFile
      graft.sources.TextSources.writeKV(
        MapReduceJob.runSecondarySortNative(spark, docs.toDF("filename", "contents"), app, Some(4)),
        out.getAbsolutePath)
      out
    }
    val clean = parts(write(MRApps.WordCount))
    val out   = write(crashingWc)
    assert(BehavioralSpec.writeCrashes.get() >= 1, "write-side crash was never injected")
    val visible = entries(out).filterNot(_.startsWith("."))
    assert(visible == Seq("_SUCCESS", "part-00000", "part-00001", "part-00002", "part-00003"),
      visible)
    assert(parts(out) == clean, "output after the retried write differs from the clean run")
  }

  test("map tasks run in parallel (mtiming analogue)") {
    BehavioralSpec.concurrent.set(0)
    BehavioralSpec.maxConcurrent.set(0)
    spark.sparkContext
      .parallelize(1 to 8, 8)
      .map { i =>
        val cur = BehavioralSpec.concurrent.incrementAndGet()
        BehavioralSpec.maxConcurrent.updateAndGet(m => math.max(m, cur))
        Thread.sleep(150)
        BehavioralSpec.concurrent.decrementAndGet()
        i
      }
      .count()
    assert(BehavioralSpec.maxConcurrent.get() >= 2,
      s"max concurrency ${BehavioralSpec.maxConcurrent.get()} — tasks did not overlap")
  }

  test("exactly-once effects absent failures (jobcount analogue)") {
    BehavioralSpec.mapInvocations.set(0)
    val countingWc: MRApp = new MRApp {
      val name = "counting-wc"
      def map(filename: String, contents: String): Seq[KV] = {
        BehavioralSpec.mapInvocations.incrementAndGet()
        MRApps.WordCount.map(filename, contents)
      }
      def reduce(key: String, values: Seq[String]): Seq[String] =
        MRApps.WordCount.reduce(key, values)
    }
    MapReduceJob.run(spark, docs.toDF("filename", "contents"), countingWc).count()
    assert(BehavioralSpec.mapInvocations.get() == docs.size,
      s"map ran ${BehavioralSpec.mapInvocations.get()} times for ${docs.size} inputs")
  }
}

/** Static state shared with executor threads (same JVM in local mode). */
object BehavioralSpec {
  val crashes        = new AtomicInteger(0)
  val reduceCrashes  = new AtomicInteger(0)
  val ssCrashes      = new AtomicInteger(0)
  val writeCrashes   = new AtomicInteger(0)
  val concurrent     = new AtomicInteger(0)
  val maxConcurrent  = new AtomicInteger(0)
  val mapInvocations = new AtomicInteger(0)
}
