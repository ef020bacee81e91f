package graft.mr

import org.apache.spark.sql.SparkSession
import graft.Sessions
import graft.sources.TextSources

/** CLI twin of the reference's job submission
  * (`mapreduce coord -input f1,f2 -nreduce N` + N x `mapreduce worker
  * -mrpath app.so`, `cmd/main.go:16-56`): one command runs the same
  * app-over-files workflow on Spark —
  *
  *   runMain graft.mr.MRRunner <app> <inputGlob> <outDir> [nreduce]
  *
  * `<app>` is a registry name ([[MRApps.all]] — the plugin-loading
  * analogue), input is a file glob (any Hadoop scheme), output is the
  * reference's canonical `"<key> <value>"` text format
  * (`example/mrsequential/mrsequential.go:84`), and `nreduce` (at least 1)
  * is the reduce-side partition count. Each reduce task writes its
  * partition's lines straight into `<outDir>/part-NNNNN`, as the
  * reference's `mr-out-N` ([[TextSources.writeKV]]); the files appear,
  * with `_SUCCESS`, only once the whole job has succeeded. The session
  * is the engine's one config ([[graft.Sessions]]) on `$SPARK_MASTER`
  * (default `local[4]`).
  * A user of the reference swaps their plugin `.so` for a registry entry
  * and keeps the same mental model; the coordinator/worker/heartbeat
  * machinery has no equivalent here because Spark's scheduler provides it.
  */
object MRRunner {
  /** The whole submission flow minus session lifecycle, for a registered
    * app: registry lookup, then the [[MRApp]] form. `main` wraps this in
    * its own session; MRRunnerSpec drives it under the shared test session
    * (an in-JVM spec cannot let `main` stop the session it shares),
    * covering the identical code path end to end.
    */
  def run(spark: SparkSession, appName: String, input: String, outDir: String,
      nreduce: Int): Unit =
    run(spark, lookup(appName), input, outDir, nreduce)

  /** Glob read, the MR run on `nreduce` reduce partitions, each
    * partition's lines written by its reduce task. `BehavioralSpec`'s
    * `play.sh` probes submit their instrumented apps through it.
    */
  def run(spark: SparkSession, app: MRApp, input: String, outDir: String,
      nreduce: Int): Unit = {
    requireNreduce(nreduce)
    val docs = TextSources.wholeFiles(spark, input)
    TextSources.writeKV(MapReduceJob.run(spark, docs, app, Some(nreduce)), outDir)
    println(s"[mrrunner] ${app.name} over $input -> $outDir (nreduce=$nreduce)")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: MRRunner <app> <inputGlob> <outDir> [nreduce]")
    val Array(appName, input, outDir) = args.take(3)
    val nreduce = if (args.length > 3) args(3).toInt else 4 // reference default, cmd/main.go:22
    // fail on bad arguments BEFORE paying session startup (and so the
    // spec can exercise main's validation without a session to stop)
    requireNreduce(nreduce)
    val app = lookup(appName)
    val spark = Sessions.withEnvConf(
      Sessions.builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"), nreduce.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, app, input, outDir, nreduce)
    finally spark.stop()
  }

  private def requireNreduce(nreduce: Int): Unit =
    require(nreduce >= 1, s"nreduce must be >= 1, got $nreduce")

  /** The registered app named `appName`. */
  private def lookup(appName: String): MRApp =
    MRApps.all.getOrElse(
      appName,
      throw new IllegalArgumentException(
        s"unknown app '$appName'; registered: ${MRApps.all.keys.toSeq.sorted.mkString(", ")}"))
}
