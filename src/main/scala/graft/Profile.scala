package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}

/** Per-query catalog profiler and the one-task heavy-stage audit.
  *
  * For each query it splits the wall time into construction (the catalog
  * function, `Ckpt` builds included), Catalyst planning and execution,
  * and counts the jobs, stages and tasks the whole query ran, with its
  * top stages by wall time. A stage that AQE coalesced to ONE task and
  * that still burns serious CPU is the round-13 bug class: the byte-size
  * coalescer is blind to expensive expressions (the fuzzy Levenshtein
  * verify ran 9.5e9 DP cells on one thread at sf1, SCALING.md round 13).
  * Such a stage under local[32] is a serialization cliff that widens with
  * the corpus, so every 1-task stage whose executor run time is above the
  * threshold is flagged. Final 1-row aggregations and collect-limit
  * stages stay under a 2 s threshold by construction.
  *
  * Usage: `Profile <sfDir> [thresholdMs] [query ...]` (`tools/onetask.sh`
  * wraps the classpath). No query names profile the whole catalog in name
  * order; a name listed twice is profiled twice, the second time warm.
  * Exits 1 if any stage was flagged.
  */
object Profile {
  /** One completed stage: wall ms from submission to completion, and the
    * executor run ms summed over its tasks.
    */
  final case class Stage(id: Int, tasks: Int, wallMs: Long, runMs: Long)

  /** One profiled query; `stages` are every stage it completed, catalog
    * construction's `Ckpt` builds included.
    */
  final case class Row(
      name: String, constructS: Double, planS: Double, execS: Double,
      jobs: Int, stages: Seq[Stage], error: Option[String]) {
    def tasks: Int = stages.map(_.tasks).sum

    /** 1-task stages whose executor run time exceeds `thresholdMs`,
      * heaviest first.
      */
    def flagged(thresholdMs: Long): Seq[Stage] =
      stages.filter(st => st.tasks == 1 && st.runMs > thresholdMs).sortBy(-_.runMs)
  }

  private final class Listener extends SparkListener {
    val jobs   = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.numTasks,
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
        i.taskMetrics.executorRunTime))
    }
  }

  /** Read every row and column of a result, as a user reading it does.
    * A `count()` would let Catalyst prune columns and, for the dedup
    * verdict queries, the whole match pipeline behind their
    * row-preserving left join.
    */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Profile `names` in order on one listener. Each query's events are
    * drained from the listener bus before the next query starts, so no
    * stage is dropped or credited to a neighbour.
    */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Row] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sc = spark.sparkContext
    val l  = new Listener
    sc.addSparkListener(l)
    try names.map { name =>
      GraftSqlShims.drainListeners(sc)
      l.jobs.set(0)
      l.stages.clear()
      // phase end times; a phase that threw keeps 0 and reports 0 s
      val t = Array(System.nanoTime(), 0L, 0L, 0L)
      val error =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          t(1) = System.nanoTime()
          df.queryExecution.executedPlan
          t(2) = System.nanoTime()
          consume(df)
          t(3) = System.nanoTime()
          None
        } catch {
          case NonFatal(e) => Some(String.valueOf(e.getMessage).linesIterator.take(1).mkString)
        }
      GraftSqlShims.drainListeners(sc)
      def secs(i: Int) = if (t(i) == 0L) 0.0 else (t(i) - t(i - 1)) / 1e9
      Row(name, secs(1), secs(2), secs(3), l.jobs.get, l.stages.asScala.toSeq, error)
    }
    finally sc.removeSparkListener(l)
  }

  def main(args: Array[String]): Unit = {
    val sfDir       = args.headOption.getOrElse("target/sf1")
    val thresholdMs = args.lift(1).map(_.toLong).getOrElse(2000L)
    val names       =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local("32", logLevel = "ERROR")

    println("query\tconstruct_s\tplan_s\texec_s\tjobs\tstages\ttasks\ttop3 id:tasks:wall_ms/run_ms")
    val rows = profile(spark, sfDir, names)
    for (r <- rows) {
      val top = r.stages.sortBy(-_.wallMs).take(3)
        .map(st => s"${st.id}:${st.tasks}:${st.wallMs}/${st.runMs}").mkString(" ")
      println(f"${r.name}\t${r.constructS}%.3f\t${r.planS}%.3f\t${r.execS}%.3f\t" +
        s"${r.jobs}\t${r.stages.size}\t${r.tasks}\t$top")
    }
    var flagged = 0
    for (r <- rows) {
      r.error.foreach(msg => println(s"[onetask] ${r.name} FAILED: $msg"))
      val hits = r.flagged(thresholdMs)
      if (hits.nonEmpty) {
        flagged += 1
        println(s"[onetask] ${r.name}: " +
          hits.map(st => s"stage ${st.id} ${st.runMs}ms/1task").mkString(", "))
      }
    }
    println(s"[onetask] ${rows.size} queries checked at $sfDir, $flagged flagged (threshold ${thresholdMs}ms)")
    spark.stop()
    if (flagged > 0) sys.exit(1)
  }
}
