package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM: the mains' engine config
  * ([[Sessions.builder]], without `SPARK_GRAFT_CONF`), so plan specs pin
  * what the mains plan. `local[4,2]` = 4 threads with maxFailures=2, so
  * the crash-recovery behavioral spec (mirroring the reference's crash
  * test, `play.sh:268-315`) can exercise task retry.
  */
trait SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("local[4,2]", "4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"

  /** The materialized GroupedTopKExec — call after an action. */
  def topKExec(df: org.apache.spark.sql.DataFrame): graft.plans.GroupedTopKExec =
    Smoke.finalPlanNodes(df.queryExecution.executedPlan)
      .collect { case g: graft.plans.GroupedTopKExec => g }.head

  /** The WARN-and-above log lines emitted while `f` runs. */
  def warnings(f: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines   = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("graft-test-warnings", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          lines.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try f
    finally { root.removeAppender(capture); capture.stop() }
    lines.toArray(Array.empty[String]).toSeq
  }

  /** Set session confs for the duration of `f`, restoring prior values. */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach { case (k, ov) => ov.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
