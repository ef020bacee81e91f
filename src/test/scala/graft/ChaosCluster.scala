package graft

/** Multi-JVM chaos harness (round 15, verdict stretch item): the one
  * storage property the single-JVM block-wipe analogue (CkptSpec) cannot
  * fully prove is survival of GENUINE executor loss — a separate executor
  * JVM dying with all its block-manager state mid-iteration. This main
  * runs `local-cluster[2,2,1024]` (real standalone master/workers
  * in-process, executors as REAL child JVMs), computes an iterative
  * checkpointed query twice in reliable-checkpoint mode — once clean,
  * once with one executor JVM `destroyForcibly()`d mid-job — and
  * asserts the two results are bit-equal.
  *
  * Run: `sbt "Test/runMain graft.ChaosCluster /root/testdata/sf0.01 graph_pagerank"`
  * with `SPARK_HOME` set to a Spark distribution and
  * `SPARK_SCALA_VERSION=2.13`, which the workers launch executors from
  * (results recorded in SCALING.md round-15). Kept as a test-scope main
  * rather than a ScalaTest spec: it needs a private SparkContext with a
  * local-cluster master, which cannot coexist with the suite's shared
  * local[4,2] session in one JVM. The session is [[Sessions.builder]]'s
  * (without `SPARK_GRAFT_CONF`) plus executor settings and reliable
  * checkpoints.
  */
object ChaosCluster {
  def main(args: Array[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val dir   = args.headOption.getOrElse("/root/testdata/sf0.01")
    val query = args.drop(1).headOption.getOrElse("graph_pagerank")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-chaos-ckpt")
    // executor JVMs get exactly this JVM's classpath (graft classes +
    // spark + scala), the standard Spark-internal-test idiom for
    // local-cluster, and its --add-opens list, which build.sbt sets
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens="))
    val spark = Sessions.builder("local-cluster[2,2,1024]", "8")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens.mkString(" "))
      .config(Ckpt.ReliableKey, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    println(s"[chaos] executor JVM options: ${addOpens.size} --add-opens from this JVM")

    def executorPids(): Seq[ProcessHandle] = {
      // ProcessHandle.commandLine() is EMPTY for the executor JVMs (the
      // local-cluster classpath exceeds the /proc cmdline read limit),
      // so match on the executable: every java descendant of this JVM
      // is an executor backend — nothing else is forked below us.
      ProcessHandle.current().descendants().iterator().asScala
        .filter(p => p.isAlive && p.info().command().map[Boolean](_.endsWith("java"))
          .orElse(false))
        .toSeq
    }

    def run(): Array[String] = {
      val df = SparkEntry.queries(query)(spark, dir)
      df.collect().map(_.toString).sorted
    }

    // wait for both executor JVMs to register before doing anything
    var tries = 0
    while (executorPids().size < 2 && tries < 120) { Thread.sleep(500); tries += 1 }
    val execs = executorPids()
    println(s"[chaos] ${execs.size} executor JVMs up: ${execs.map(_.pid()).mkString(", ")}")
    require(execs.size >= 2, "local-cluster did not start 2 executor JVMs")

    println(s"[chaos] clean run of $query ...")
    val t0    = System.nanoTime()
    val clean = run()
    println(f"[chaos] clean: ${clean.length} rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // the chaos run must RE-EXECUTE the iterations, not read the clean
    // run's memoized result
    val dropped = Ckpt.release("")
    println(s"[chaos] released $dropped memoized entries")

    // kill one executor JVM (SIGKILL, no shutdown hooks) ~1.5 s into the
    // chaos run — mid-iteration for every iterative catalog query at
    // this SF; the standalone master relaunches a replacement, lost
    // tasks retry against the surviving + replacement executors, and
    // reliable checkpoints (file-backed, not block-manager-backed) keep
    // prior iterations recoverable.
    val killer = new Thread(() => {
      Thread.sleep(1500)
      executorPids().headOption match {
        case Some(p) =>
          println(s"[chaos] destroying executor JVM pid=${p.pid()}")
          p.destroyForcibly()
        case None => println("[chaos] no executor JVM found to kill!")
      }
    })
    killer.setDaemon(true)

    println(s"[chaos] chaos run of $query with mid-job executor kill ...")
    val t1 = System.nanoTime()
    killer.start()
    val chaos = run()
    println(f"[chaos] chaos: ${chaos.length} rows in ${(System.nanoTime() - t1) / 1e9}%.1f s")

    val survivors = executorPids().map(_.pid())
    println(s"[chaos] executors after recovery: ${survivors.mkString(", ")}")

    if (clean.sameElements(chaos)) {
      println(s"[chaos] PASS: $query bit-equal across a real executor loss " +
        s"(${clean.length} rows)")
      spark.stop()
      sys.exit(0)
    } else {
      val diffs = clean.zip(chaos).filter { case (a, b) => a != b }
      println(s"[chaos] FAIL: ${diffs.length} differing rows (of ${clean.length})")
      diffs.take(5).foreach { case (a, b) => println(s"  clean=$a\n  chaos=$b") }
      spark.stop()
      sys.exit(1)
    }
  }
}
