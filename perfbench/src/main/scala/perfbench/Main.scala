package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus

import graft.{Ckpt, Sessions, SparkEntry, Tables}
import graft.mr.MRRunner
import graft.ops.Storage
import graft.sources.TextSources

/** The set-up: seconds from JVM start until the first operation could be
  * timed, split by the module called.
  */
final case class Setup(total_s: Double, sessions_s: Double, tables_s: Double, warmup_s: Double)

/** One query or MapReduce job; `pass` 0 is the cold pass. */
final case class Op(
    id: Int, pass: Int, name: String, start: Long, end: Long,
    error: Option[String], builds: Seq[(String, Double)], ok: Option[Boolean])

/** State at the end of one pass. */
final case class Pass(
    index: Int, start: Long, end: Long, storage_used_mb: Double, rdd_storage_mb: Double)

/** The benchmark's JVM side. One invocation runs one workload in a single
  * closed-loop client (each operation starts after the previous one ends)
  * and writes its raw samples as JSON; `run.py` turns them into metrics.
  *
  * Pass 0 is the cold pass: the first use of every query or job in a fresh
  * JVM and session. Warm passes 1 .. `warm` follow.
  *
  * Arguments are `key=value`:
  *   workload  catalog | mr-corpus
  *   data      table directory (catalog) or corpus directory (mr)
  *   work      scratch directory for outputs
  *   out       JSON file to write
  *   warm      number of warm passes
  *   cpus      N of local[N]
  *   queries   comma-separated catalog queries, in run order
  *   trace     1: record spans and register the execution listener
  *   dump      1: after the passes, write each catalog query's result and
  *             its `SparkEntry.oracleSql` into `work/dump`, in the layout
  *             of `graft.Verify`'s dump, for the DuckDB comparison
  *             (`tools/check.py`)
  */
object Main {
  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val opt      = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val workload = opt("workload")
    val data     = opt("data")
    val work     = Paths.get(opt("work"))
    val catalog  = workload == "catalog"
    val tr       = new Tracer(opt.get("trace").contains("1"))
    val listener = if (tr.enabled) Some(new ExecListener) else None
    Files.createDirectories(work)

    // set-up, timed from JVM start
    val t0    = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = tr.span("sessions.local")(Sessions.local(opt("cpus")))
    val t1    = Clock.us
    if (catalog) tr.span("tables.resolve")(TableNames.foreach(Tables(spark, data, _).schema))
    val t2 = Clock.us
    if (catalog) tr.span("storage.warmup")(Storage.warmup(spark, data))
    val t3    = Clock.us
    val setup = Setup((t3 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }

    val json   = new ObjectMapper().registerModule(DefaultScalaModule)
    val ops    = scala.collection.mutable.ArrayBuffer[Op]()
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    var nextOp = 0
    def timedOp(pass: Int, name: String, root: String)(body: Int => Unit): Op = {
      nextOp += 1
      val id = nextOp
      val b0 = Ckpt.buildLog.size
      val t0 = Clock.us
      val err =
        try { tr.span(root, id)(body(id)); None }
        catch { case NonFatal(e) => Some(describe(e)) }
      Op(id, pass, name, t0, Clock.us, err, Ckpt.buildLog.drop(b0), None)
    }
    def endPass(index: Int, start: Long): Unit = {
      val sc   = spark.sparkContext
      val mem  = sc.getExecutorMemoryStatus.values
      val used = mem.map { case (max, free) => max - free }.sum / 1e6
      val rdd  = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
      passes += Pass(index, start, Clock.us, used, rdd)
    }
    def loop(runPass: Int => Unit): Unit =
      (0 to opt("warm").toInt).foreach { p =>
        val t = Clock.us
        runPass(p)
        endPass(p, t)
      }

    if (catalog) {
      val names = opt("queries").split(",").toSeq
      val fns   = SparkEntry.queries
      loop { p =>
        names.foreach { n =>
          ops += timedOp(p, n, "query") { id =>
            val df = tr.span("ops.construct", id)(fns(n)(spark, data))
            // consume every row and column, as a user reading the result
            // does; the write's own Catalyst planning reaches the listener
            tr.span("exec", id)(df.write.format("noop").mode("overwrite").save())
          }
        }
      }
      if (opt.get("dump").contains("1")) {
        // untimed: each result and its oracle SQL, for the DuckDB comparison
        val dump = work.resolve("dump")
        names.foreach { n =>
          try fns(n)(spark, data).write.mode("overwrite").parquet(dump.resolve(n).toString)
          catch {
            case NonFatal(e) => System.err.println(s"[perfbench] dump of $n failed: ${describe(e)}")
          }
        }
        json.writeValue(dump.resolve("oracle_sql.json").toFile,
          SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) })
      }
    } else {
      val glob  = s"$data/*.txt"
      val files = Files.list(Paths.get(data)).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".txt")).sortBy(_.toString)
        .map(f => s"$data/${f.getFileName}" -> new String(Files.readAllBytes(f), UTF_8))
      val expected = MrOracle.Apps.map(a => a -> MrOracle.run(a, files)).toMap
      loop { p =>
        if (tr.enabled) tr.span("sources.list")(TextSources.wholeFiles(spark, glob))
        MrOracle.Apps.foreach { app =>
          val outDir = work.resolve(s"out-$app")
          val op = timedOp(p, app, "mr.run") { _ =>
            MRRunner.run(spark, app, glob, outDir.toString, opt("cpus").toInt)
          }
          // untimed: compare with the sequential oracle
          ops += op.copy(ok = Some(op.error.isEmpty && readLines(outDir) == expected(app)))
        }
      }
    }

    listener.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
    val record = Map(
      "workload" -> workload,
      "cpus" -> opt("cpus").toInt,
      "setup" -> setup,
      "passes" -> passes,
      "ops" -> ops,
      "spans" -> tr.spans,
      "jobs" -> listener.map(_.jobs).getOrElse(Nil),
      "stages" -> listener.map(_.stages.values.toSeq).getOrElse(Nil),
      "phases" -> listener.map(_.phases).getOrElse(Nil))
    json.writeValue(Paths.get(opt("out")).toFile, record)
    spark.stop()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)

  /** Every line of the text part files under `dir`, sorted. */
  private def readLines(dir: Path): Vector[String] =
    Files.list(dir).iterator().asScala.toVector
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala)
      .sorted
}
