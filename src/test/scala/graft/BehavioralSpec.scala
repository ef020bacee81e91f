package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.util.hashing.MurmurHash3
import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite
import graft.mr.{KV, MRApp, MRApps, MRRunner}
import graft.sources.MrSequential

/** Behavioral parity with the reference's seven `play.sh` tests, each run
  * as `play.sh` runs it: `MRRunner` over a file glob (whole-file scan, the
  * engine's one path on `nreduce` reduce partitions, `writeKV`), then the
  * part files' sorted lines compared with the sequential oracle
  * ([[MrSequential]]). The input is a seeded corpus the size of the
  * reference's Gutenberg files. The probes are the wc and indexer golden
  * runs, map and reduce parallelism (mtiming/rtiming, play.sh:131-183),
  * exactly-once map calls (jobcount, play.sh:185-208), output that is
  * final when visible (early_exit, play.sh:210-265) and crash recovery
  * (crash.so, play.sh:268-315) — re-expressed against Spark's
  * task-retry and scheduling machinery.
  */
class BehavioralSpec extends AnyFunSuite with SparkTestBase {
  import BehavioralSpec._

  /** The corpus files as the whole-file scan names them (absolute paths:
    * the temp directory is outside the working directory).
    */
  private lazy val corpus: Seq[(String, String)] = {
    val dir = writeCorpus()
    new java.io.File(dir).listFiles().toSeq.sortBy(_.getName).map(f =>
      f.getAbsolutePath -> new String(Files.readAllBytes(f.toPath), UTF_8))
  }
  private def glob: String = new java.io.File(corpus.head._1).getParent + "/*.txt"

  /** `app` through MRRunner over the corpus on `nreduce` reduce
    * partitions; the output directory.
    */
  private def play(app: MRApp, nreduce: Int): String = {
    val out = Files.createTempDirectory("graft-play-").resolve("out").toString
    MRRunner.run(spark, app, glob, out, nreduce)
    out
  }

  /** Every entry under `dir`, hidden ones included. */
  private def entries(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).map(_.toSeq.sorted).getOrElse(Nil)

  test("wc over a Gutenberg-sized corpus matches the sequential oracle (wc golden run)") {
    assert(corpus.map(_._2.length).sum > 3000000, "corpus smaller than the reference's")
    assert(MrSequential.outputLines(play(MRApps.WordCount, 3)) ==
      MrSequential(MRApps.WordCount, corpus))
  }

  test("indexer over a Gutenberg-sized corpus matches the sequential oracle (indexer golden run)") {
    assert(MrSequential.outputLines(play(MRApps.Indexer, 3)) ==
      MrSequential(MRApps.Indexer, corpus))
  }

  test("map tasks run in parallel (mtiming analogue)") {
    inFlight.set(0)
    maxInFlight.set(0)
    val out = play(Probe(MRApps.FileCount, overlapMaps), 2)
    assert(maxInFlight.get() >= 2, s"max concurrency ${maxInFlight.get()} — maps did not overlap")
    assert(MrSequential.outputLines(out) == MrSequential(MRApps.FileCount, corpus))
  }

  test("reduce tasks run in parallel (rtiming analogue)") {
    inFlight.set(0)
    maxInFlight.set(0)
    val out = play(Probe(Letters, overlapReduces), 4)
    assert(maxInFlight.get() >= 2,
      s"max concurrency ${maxInFlight.get()} — reduces did not overlap")
    assert(MrSequential.outputLines(out) == MrSequential(Letters, corpus))
  }

  test("exactly-once effects absent failures (jobcount analogue)") {
    mapCalls.set(0)
    val out = play(Probe(MRApps.FileCount, countMaps), 3)
    assert(mapCalls.get() == corpus.size,
      s"map ran ${mapCalls.get()} times for ${corpus.size} inputs")
    assert(MrSequential.outputLines(out) == MrSequential(MRApps.FileCount, corpus))
  }

  test("crash injection: first task attempt dies, job still yields exact output") {
    // crash.go:23-35 at its rate, in map and reduce: a seeded third of the
    // calls throw in a task's first attempt, another third sleep; the
    // golden output is the sequential run of nocrash (metadata)
    mapCrashes.set(0)
    reduceCrashes.set(0)
    val out = play(Probe(MRApps.Metadata, crash), 4)
    info(s"crashes: ${mapCrashes.get()} in map, ${reduceCrashes.get()} in reduce")
    assert(mapCrashes.get() >= 1 && reduceCrashes.get() >= 1,
      s"crashes: ${mapCrashes.get()} in map, ${reduceCrashes.get()} in reduce")
    assert(MrSequential.outputLines(out) == MrSequential(MRApps.Metadata, corpus),
      "output after recovery differs from the sequential oracle")
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
    val out = Files.createTempDirectory("graft-early-exit").resolve("out")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val job = Future(MRRunner.run(spark, Probe(MRApps.FileCount, slowReduces), glob,
      out.toString, 4))
    def visible(): Map[String, String] = {
      val files = Option(out.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      files.map(f => f.getName -> new String(Files.readAllBytes(f.toPath), UTF_8)).toMap
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
    // and the final output itself is the exact per-file count
    assert(MrSequential.outputLines(out.toString) == MrSequential(MRApps.FileCount, corpus))
  }

  test("writeKV after a permanently failing reduce leaves nothing in the sink") {
    // the reduce throws on one key in every attempt; the other partitions'
    // tasks succeed, and their output must not be visible either
    val out = Files.createTempDirectory("graft-kv-fail").toString
    intercept[Exception] {
      MRRunner.run(spark, Probe(MRApps.FileCount, failOneReduce), glob, out, 4)
    }
    assert(entries(out).isEmpty, s"failed job left: ${entries(out).mkString(", ")}")
  }

  test("writeKV after a reduce task crashes once yields one file per partition") {
    firstReduceCrashes.set(0)
    val out = play(Probe(MRApps.FileCount, crashFirstReduce), 4)
    assert(firstReduceCrashes.get() >= 1, "write-side crash was never injected")
    val visible = entries(out).filterNot(_.startsWith("."))
    assert(visible == Seq("_SUCCESS", "part-00000", "part-00001", "part-00002", "part-00003"),
      visible)
    assert(MrSequential.outputLines(out) == MrSequential(MRApps.FileCount, corpus),
      "output after the retried write differs from the sequential oracle")
  }
}

/** The probes' apps and hooks. Counters are static: executor threads share
  * the JVM in local mode.
  */
object BehavioralSpec {
  val inFlight           = new AtomicInteger(0)
  val maxInFlight        = new AtomicInteger(0)
  val mapCalls           = new AtomicInteger(0)
  val mapCrashes         = new AtomicInteger(0)
  val reduceCrashes      = new AtomicInteger(0)
  val firstReduceCrashes = new AtomicInteger(0)

  /** `app` with `hook(phase, name)` called before each map (phase "map",
    * the file name) and each reduce (phase "reduce", the key): the
    * reference's probe apps are its plain apps plus such a side effect.
    */
  final case class Probe(app: MRApp, hook: (String, String) => Unit) extends MRApp {
    def name: String = s"${app.name}-probe"
    def map(filename: String, contents: String): Seq[KV] = {
      hook("map", filename)
      app.map(filename, contents)
    }
    def reduce(key: String, values: Seq[String]): Seq[String] = {
      hook("reduce", key)
      app.reduce(key, values)
    }
    override def reduceStream(key: String, values: Iterator[String]): Iterator[String] = {
      hook("reduce", key)
      app.reduceStream(key, values)
    }
  }

  /** rtiming.go's map (`:65-79`): ten fixed keys per file, so the reduce
    * side has keys for several partitions; reduce counts the values.
    */
  object Letters extends MRApp {
    val name = "letters"
    def map(filename: String, contents: String): Seq[KV] =
      ('a' to 'j').map(c => KV(c.toString, "1"))
    def reduce(key: String, values: Seq[String]): Seq[String] = Seq(values.size.toString)
  }

  /** Hold a call for `ms`, counting the calls held at once. */
  private def overlap(ms: Long): Unit = {
    maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
    try Thread.sleep(ms) finally inFlight.decrementAndGet()
  }

  private def base(name: String): String = new java.io.File(name).getName

  val overlapMaps: (String, String) => Unit = (phase, _) => if (phase == "map") overlap(150)
  val overlapReduces: (String, String) => Unit = (phase, _) => if (phase == "reduce") overlap(150)
  val countMaps: (String, String) => Unit =
    (phase, _) => if (phase == "map") mapCalls.incrementAndGet()

  /** early_exit.go:32-40: the reduces of two files' keys sleep. */
  val slowReduces: (String, String) => Unit = (phase, key) =>
    if (phase == "reduce" && Set("pg-1.txt", "pg-3.txt")(base(key))) Thread.sleep(1500)

  val failOneReduce: (String, String) => Unit = (phase, key) =>
    if (phase == "reduce" && base(key) == "pg-2.txt")
      throw new RuntimeException("injected permanent reduce failure")

  val crashFirstReduce: (String, String) => Unit = (phase, _) =>
    if (phase == "reduce" && TaskContext.get().attemptNumber() == 0 &&
      firstReduceCrashes.getAndIncrement() == 0)
      throw new RuntimeException("injected reduce crash during the write")

  /** crash.go:23-35 (`maybeCrash`) with a seeded hash of the phase and the
    * file's base name in place of its random draw: below 330 of 1000 the
    * call throws, below 660 it sleeps up to 100 ms (crash.go's 10 s scaled
    * down 100 times). A call throws only in its task's first attempt, so
    * no task fails twice under the test session's two attempts.
    */
  val crash: (String, String) => Unit = (phase, name) => {
    val draw = Math.floorMod(MurmurHash3.stringHash(s"$phase:${base(name)}", 6824), 1000000)
    if (draw % 1000 < 330) {
      if (TaskContext.get().attemptNumber() == 0) {
        (if (phase == "map") mapCrashes else reduceCrashes).incrementAndGet()
        throw new RuntimeException(s"injected $phase crash (crash.go analogue)")
      }
    } else if (draw % 1000 < 660) Thread.sleep(draw / 1000 % 100)
  }

  /** Writes a seeded corpus the size of the reference's Gutenberg input
    * (`pg-*.txt`, ~3.3 MB in 8 files) into a fresh temp directory and
    * returns it: Zipf(s = 1) draws over a 20,000-word vocabulary of
    * letter runs (about one word in sixteen holds a non-ASCII letter),
    * separated mostly by spaces, sometimes by newlines, punctuation or a
    * number, which the tokenizer drops. File `pg-i.txt` holds i + 1
    * shares of the bytes, so the largest file is 8 times the smallest.
    */
  def writeCorpus(): String = {
    val dir     = Files.createTempDirectory("graft-corpus-")
    val rnd     = new scala.util.Random(6824)
    def letter(): Char =
      if (rnd.nextInt(100) == 0) "éöß"(rnd.nextInt(3)) else ('a' + rnd.nextInt(26)).toChar
    val vocab   = Iterator.continually(Seq.fill(2 + rnd.nextInt(9))(letter()).mkString)
      .distinct.take(20000).toVector
    val cdf     = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
    }
    def sep(): String = rnd.nextInt(100) match {
      case n if n < 85 => " "
      case n if n < 92 => "\n"
      case n if n < 96 => ", "
      case n if n < 99 => ". "
      case _           => " 42 "
    }
    for (i <- 0 until 8) {
      val target = 3300000L * (i + 1) / 36
      val sb     = new java.lang.StringBuilder
      while (sb.length < target) sb.append(word()).append(sep())
      Files.write(dir.resolve(s"pg-$i.txt"), sb.toString.getBytes(UTF_8))
    }
    dir.toString
  }
}
