package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The catalog is assembled from per-domain objects under `graft.ops`; each
  * contributes `queries` (Spark plans) and `oracle` (the equivalent DuckDB
  * SQL the driver cross-checks at sf0.01).
  */
object SparkEntry {
  type Q = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Reference.wc(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * first installs the native extensions, so a session built outside
    * [[Sessions]] plans every query the same way.
    */
  def queries: Map[String, Q] =
    (ops.Reference.queries ++ ops.Relational.queries ++ ops.Events.queries ++
      ops.Dedup.queries ++ ops.Similarity.queries ++ ops.TextAnalysis.queries ++
      ops.MRCompat.queries ++ multimodal.Multimodal.queries ++
      ops.TypedAgg.queries ++ ops.Skew.queries ++ ops.Pipeline.queries ++
      ops.Curation.queries ++ ops.Storage.queries ++ ops.Stats.queries ++
      ops.Graph.queries ++ ops.Sketches.queries).map { case (name, q) =>
      name -> ((s: SparkSession, dir: String) => { GraftExtensions.install(s); q(s, dir) })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver records a weaker
    * rows-only check (reserved for genuinely non-SQL-expressible ops).
    */
  def oracleSql: Map[String, String] =
    ops.Reference.oracle ++ ops.Relational.oracle ++ ops.Events.oracle ++
      ops.Dedup.oracle ++ ops.Similarity.oracle ++ ops.TextAnalysis.oracle ++
      ops.MRCompat.oracle ++ multimodal.Multimodal.oracle ++
      ops.TypedAgg.oracle ++ ops.Skew.oracle ++ ops.Pipeline.oracle ++
      ops.Curation.oracle ++ ops.Storage.oracle ++ ops.Stats.oracle ++
      ops.Graph.oracle ++ ops.Sketches.oracle
}
