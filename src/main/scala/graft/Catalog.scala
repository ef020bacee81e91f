package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL surface: register the driver tables as temp views (plus the graft
  * native functions) so the whole engine is usable from plain
  * `spark.sql(...)` — the catalog queries' DataFrame plans and ad-hoc SQL
  * compose over the same relations.
  */
object Catalog {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  // weak keys: never retain stopped sessions; recorded only AFTER a
  // successful registration so a failure (bad dir) isn't cached
  private val registeredDir = java.util.Collections
    .synchronizedMap(new java.util.WeakHashMap[SparkSession, String]())

  /** Register every catalog table under its name for the given scale dir
    * and install the native extensions ([[GraftExtensions.install]]).
    * Cached per (session, dir) — repeated sql() calls don't re-read
    * parquet footers.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    // synchronized on the session (same monitor as Tables.events): two
    // threads registering different dirs would otherwise interleave the
    // per-table loop and cache a mixed-dir view set
    spark.synchronized {
      if (registeredDir.get(spark) != dir) {
        TableNames.foreach(n => Tables(spark, dir, n).createOrReplaceTempView(n))
        GraftExtensions.install(spark)
        registeredDir.put(spark, dir)
      }
    }

  /** Convenience: SQL against the registered views. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(query)
  }
}
