package graft

import org.apache.spark.sql.SparkSession

/** The engine's ONE session builder (r15 verdict item 3).
  *
  * Round 15 left the adopted engine defaults split across mains: Bench
  * ran with AQE + the shuffled-hash-join preference while Verify,
  * Explain and the probes ran Spark defaults — so verified plans,
  * committed plan dumps and sf1 profiles could silently diverge from
  * the shapes the bench actually times. Every graft main now builds its
  * session here; the adopted defaults live in exactly one place.
  *
  * Adopted defaults and why:
  *   - `spark.sql.adaptive.enabled=true` — AQE stage reuse + skew-join
  *     splitting; default since 3.2, stated for clarity.
  *   - `spark.sql.join.preferSortMergeJoin=false` — prefer shuffled-hash
  *     over sort-merge when the planner's size conditions allow (guide
  *     §3.1/§9): SHJ skips both sides' sorts. Adopted from the r15
  *     three-leg full-catalog A/B (unchanged-query min-sum 111.0 →
  *     88.2 s vs the default) and scale-safe because build-side size per
  *     task is bounded by AQE partition sizing. Join strategy cannot
  *     change results, only cost.
  *   - `spark.sql.shuffle.partitions = cores` — scale-adaptively AQE
  *     coalesces below this; the value tracks the session's parallelism
  *     rather than a constant tuned for either local mode or a cluster.
  *   - UTC + Locale.ROOT — value parity with the DuckDB oracle
  *     (timestamp rendering, non-ASCII lower()).
  *
  * Env knobs, honored by the mains ([[local]], `MRRunner.main`) so A/Bs
  * and lower-core scaling runs see identical engines, and never by the
  * test suite (`SparkTestBase`, also built by [[builder]]):
  *   - `SPARK_GRAFT_CONF="k=v;k=v"` — ad-hoc session-conf overrides for
  *     config A/Bs, e.g. `spark.local.dir=<dir>` for the shuffle and
  *     checkpoint scratch. Unset by default; a setting measured to win
  *     moves into the defaults above.
  */
object Sessions {
  /** Shared builder: `master` and the shuffle-partition count vary by
    * caller (every main takes its cores from [[envCpus]]); everything
    * else is the committed engine config. Reads no environment.
    */
  def builder(master: String, partitions: String): SparkSession.Builder = {
    // oracle-parity guard: Spark's non-ASCII lower() follows the JVM
    // default locale, DuckDB's doesn't (tr_TR dotless-i would diverge)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
  }

  /** `b` with the `SPARK_GRAFT_CONF` overrides on top: the mains' path. */
  def withEnvConf(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k.trim, v.trim)
      })
    b
  }

  /** `local[cpus]` session with `cpus` shuffle partitions — the shape
    * every catalog main uses (`cpus` from [[envCpus]]).
    */
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = withEnvConf(builder(s"local[$cpus]", cpus)).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Cores for every main: `$SPARK_GRAFT_CPUS`, else the JVM's
    * available processors.
    */
  def envCpus(): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
}
