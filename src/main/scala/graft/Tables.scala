package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All catalog queries resolve their inputs through here so the scan layer
  * stays in one place: at 100 TB these become partitioned/bucketed catalog
  * tables and this object is the only seam that needs to change.
  */
object Tables {
  // Memoize the ANALYZED relation per (session, dir, table): every
  // spark.read.parquet call re-lists the directory, re-reads footers
  // for schema inference, and builds a fresh InMemoryFileIndex — pure
  // fixed overhead re-paid by all ~262 catalog queries × 3+ bench runs
  // over the same immutable driver-provided files. The cached DataFrame
  // is a logical plan: per-query conf (AQE, shuffle partitions, ANSI)
  // still applies at execution, so this changes no results — the
  // driver's tables never change within a session by contract
  // (TESTDATA.md: read-only). Keyed by session identity so test suites
  // with private sessions don't share plans across stopped contexts.
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String), DataFrame]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    def build: DataFrame =
      name match {
        case "events" => eventsUncached(spark, dir)
        case _        => spark.read.parquet(s"$dir/$name.parquet")
      }
    relCache.computeIfAbsent((System.identityHashCode(spark), dir, name), _ => build)
  }

  /** `events.parquet` carries TIMESTAMP(NANOS) (see FIXTURES.md), which the
    * vectorized parquet reader surfaces as nanosecond longs under
    * `legacy.parquet.nanosAsLong`. We normalize to Spark's native
    * microsecond TimestampType — the same truncation DuckDB applies when it
    * reads nanos into its microsecond timestamps, so oracle comparisons on
    * derived time columns agree.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "events")

  private def eventsUncached(spark: SparkSession, dir: String): DataFrame = spark.synchronized {
    // The flag matters only while spark.read resolves the parquet schema
    // (eager, inside this block); synchronize the toggle window on the
    // session so concurrent plan construction (parallel suites, streaming
    // + batch) can't interleave a set/restore pair and read the wrong
    // schema or clobber another thread's restore.
    val prev = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      raw.schema("ts").dataType match {
        case LongType =>
          // `div` is integer division — ns epoch values exceed double's
          // 53-bit mantissa, so a float division here would corrupt
          // microseconds.
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          // Parquet `timestamp[us]` without timezone reads as TIMESTAMP_NTZ.
          // The session timezone is pinned to UTC (build.sbt), so the cast
          // to instant-typed TimestampType is exact and epoch-micros
          // arithmetic agrees with DuckDB reading the same file.
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      case None    => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Memoized row count of the embeddings table, the [[Ckpt]] value
    * entry `tables:emb-count:<dir>` — the scaling input for
    * occupancy-constant LSH / cluster geometry
    * ([[graft.ops.Similarity.planesFor]],
    * [[graft.ops.Curation.centroidsFor]]). A columnless parquet count is
    * answered from footer row-group metadata, so this is cheap even at
    * corpus scale, and the memo pays it once per session rather than once
    * per geometry-deriving query.
    */
  def embeddingsCount(spark: SparkSession, dir: String): Long =
    Ckpt.cachedValue(spark, s"tables:emb-count:$dir")(embeddings(spark, dir).count())
}
