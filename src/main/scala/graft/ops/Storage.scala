package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Ckpt, Tables}

/** Storage-layout operators: the two write-side techniques that pay for
  * themselves at 100 TB.
  *
  *  - bucket_join : lineitem and orders are bucketed (and sorted) on the
  *    join key at WRITE time, so the fact-fact join needs no exchange at
  *    all — the sort-merge join reads co-located buckets directly. On a
  *    real cluster this turns the single most expensive shuffle of a
  *    TPC-H-shaped workload (lineitem x orders, re-joined by every
  *    reporting query) into a one-time cost paid by the ETL writer.
  *    PlanAuditSpec asserts the executed plan contains zero shuffle
  *    exchanges.
  *  - part_prune  : orders written partitioned by month; a month-filtered
  *    aggregate must touch exactly one partition directory. The scan's
  *    partition count is asserted in PlanAuditSpec — a 100 TB table is
  *    only queryable interactively because of this directory-level
  *    pruning.
  *
  * The derived tables are materialized on first use, at most once per
  * (application, sf-dir), into the session warehouse (`spark-warehouse/`,
  * a local stand-in for the lake); results are identical to querying the
  * raw parquet, which is exactly what the DuckDB oracle does.
  */
object Storage {
  type Q = (SparkSession, String) => DataFrame

  val Buckets    = 8
  val PruneMonth = "1995-03"

  /** Scratch dirs handed out by [[scratchDir]], removed best-effort at
    * JVM exit so repeated bench passes don't accumulate tmp copies.
    */
  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratch.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch { case _: Exception => () })
        } catch { case _: Exception => () }
      }
    }))
  }

  /** PER-INVOCATION unique scratch dir for the interchange round-trips.
    *
    * History (rounds 7-9 of the driver gate): a path keyed by (sf) was
    * world-shared mutable state across JVMs; a path keyed by
    * (sf, applicationId) was still shared across INVOCATIONS within one
    * session, and the returned summary DataFrame re-reads the scratch
    * lazily on every action — so a second invocation's overwrite deleted
    * the directory under the first handle's feet mid-read (group count
    * survived, sums didn't: exactly the hash-only failure signature the
    * gate recorded two rounds running). `Files.createTempDirectory` per
    * call means no two executions — same session, parallel JVMs, driver
    * retries, anything — can EVER share a path, so the handle each
    * invocation returns reads bytes nothing else may rewrite.
    */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-$prefix-")
    scratch.add(p)
    p.toString
  }

  /** Belt-and-braces tear guard for the round-trips: eagerly count the
    * read-back and fail LOUDLY (err column in the gate, not a silent
    * hash drift) if it doesn't match what was written. With
    * per-invocation scratch this can only fire on a genuinely lossy
    * write, which is precisely when the query must not return a result.
    */
  private def readBackGuard(name: String, expected: Long, back: DataFrame): DataFrame = {
    val got = back.count()
    require(got == expected,
      s"$name round-trip torn: wrote $expected docs, read back $got")
    back
  }

  /** Deterministic short table-name tag per sf dir ("sf0.01" -> "sf0_01"). */
  private def tag(dir: String): String =
    dir.replaceAll(".*/", "").replaceAll("[^A-Za-z0-9]", "_")

  /** Drop `table` and its warehouse directory. The warehouse outlives the
    * in-memory catalog across JVM runs, and saveAsTable refuses to create
    * a "new" managed table over a leftover location
    * (LOCATION_ALREADY_EXISTS) — so a fresh session must clear both.
    */
  private def reset(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val wh   = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), table)
    val fs   = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
  }

  /** Idempotently materialize the bucketed/partitioned twins for `dir`
    * and return their table tag: the [[graft.Ckpt]] value entry
    * `storage:twins:<dir>`, built on the first `bucket_join` or
    * `part_prune` of an application and then reused (Bench runs every
    * query 3x). Ckpt's lock serializes concurrent first calls; its build
    * log shows the ETL's cost; `Ckpt.release(dir)` forgets the entry, so
    * the next use rewrites the twins.
    */
  private def ensure(s: SparkSession, dir: String): String =
    Ckpt.cachedValue(s, s"storage:twins:$dir") {
      val t = tag(dir)
      Seq(s"graft_li_bkt_$t", s"graft_ord_bkt_$t", s"graft_ord_month_$t")
        .foreach(reset(s, _))
      Tables.lineitem(s, dir)
        .write.mode("overwrite")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"graft_li_bkt_$t")
      Tables.orders(s, dir)
        .write.mode("overwrite")
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"graft_ord_bkt_$t")
      Tables.orders(s, dir)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite")
        .partitionBy("o_month")
        .saveAsTable(s"graft_ord_month_$t")
      t
    }

  /** Build the derived tables now instead of on first use — for a
    * harness that keeps the one-time ETL out of its timed queries.
    */
  def warmup(s: SparkSession, dir: String): Unit = ensure(s, dir)

  /** Revenue by order status through the co-located join. The merge hint
    * keeps the plan a sort-merge join (broadcast would also avoid the
    * exchange on the fixture, but SMJ-over-buckets is the shape that
    * scales to two 100 TB fact tables).
    */
  def bucketJoin(s: SparkSession, dir: String): DataFrame = {
    val t  = ensure(s, dir)
    val li = s.table(s"graft_li_bkt_$t").hint("merge")
    val o  = s.table(s"graft_ord_bkt_$t")
    // revenue ≈ 1.0e11 at sf1 → 1e-6-grid image 2^56.5: the direct
    // decimal→double cast diverges 1 ULP between engines past 2^53, so
    // the conversion routes through the shared guarded BIGINT image
    // (caught by the r15 extended sf1 gate; invisible at sf0.1 and below)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_items"),
        (Relational.guardLongImage(
          (sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,6)")) * lit(1000000)).cast("decimal(38,0)"),
          "bucket_join revenue").cast("double") / lit(1e6)).as("revenue"))
  }

  /** One month's order mix — a scan that must read 1 of ~80 partitions. */
  def partPrune(s: SparkSession, dir: String): DataFrame = {
    val t = ensure(s, dir)
    s.table(s"graft_ord_month_$t")
      .filter(col("o_month") === PruneMonth)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        (Relational.guardLongImage(
          (sum(col("o_totalprice").cast("decimal(38,6)")) * lit(1000000))
            .cast("decimal(38,0)"),
          "part_prune sum_price").cast("double") / lit(1e6)).as("sum_price"))
  }

  /** Small-file compaction — the table-maintenance pass every streaming
    * or incremental writer needs: thousands of KB-sized files per day
    * turn a 100 TB scan into a metadata/open()-bound crawl (and NameNode
    * / object-store listing pressure). Rewrites `inDir` into
    * `ceil(bytes / targetBytes)` files.
    *
    * `repartition(n)` (round-robin) rather than `coalesce(n)`: coalesce
    * merges file-locality-adjacent partitions without a shuffle, which
    * preserves any size skew among inputs; the shuffle buys evenly-sized
    * output files, which is the point of compaction. Returns
    * (filesBefore, filesAfter) for the caller's audit log.
    */
  def compact(
      s: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    val p  = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // recursive listing: a partitioned (or otherwise nested) input
    // keeps its data files in subdirectories — a flat listStatus would
    // sum 0 bytes and silently collapse the whole table into one file
    def parquetFiles(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it  = fs.listFiles(dir, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    }
    val files = parquetFiles(p)
    val bytes = files.map(_.getLen).sum
    val n     = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    s.read.parquet(inDir).repartition(n).write.mode("overwrite").parquet(outDir)
    val out = parquetFiles(new org.apache.hadoop.fs.Path(outDir)).length
    (files.length, out)
  }

  /** Sort-by-filter-column at write time — poor-man's Z-order: parquet
    * row-group min/max stats only prune when a row group's value range
    * is narrow, which a sorted layout guarantees and a random layout
    * destroys. `StorageSpec` demonstrates it empirically: the same
    * selective filter reads a fraction of the rows from the sorted copy
    * and every row from the unsorted one. At 100 TB this (or true
    * multi-column Z-ordering) is the difference between an interactive
    * point query and a full scan — complementary to partition pruning,
    * which only works for the partition key.
    */
  def writeSorted(s: SparkSession, df: DataFrame, sortCol: String, outDir: String,
      numFiles: Int = 4, rowGroupBytes: Long = 64L << 10): Unit =
    // range-partition + in-partition sort: every writer task works in
    // parallel AND each output file covers a disjoint value range, so
    // file-level and row-group-level stats both prune. (A repartition(1)
    // global sort would serialize the write; a plain repartition would
    // leave every file spanning the full range.)
    df.repartitionByRange(numFiles, col(sortCol)).sortWithinPartitions(sortCol)
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(outDir)

  /** Multi-column generalization of [[writeSorted]]: range-partition +
    * sort by the Z-order (Morton) key of two quantized dimensions
    * ([[graft.functions.ZOrder2]]), so every file/row-group covers a
    * locality BOX in (a, b) space and min/max stats prune selective
    * filters on EITHER column. The key is a transient sort column —
    * dropped before the write, so the stored schema is unchanged.
    */
  def writeZOrdered(s: SparkSession, df: DataFrame, a: String, b: String,
      outDir: String, numFiles: Int = 4, rowGroupBytes: Long = 64L << 10): Unit = {
    val key = graft.functions.ZOrderFunctions.zorder2(col(a), col(b))
    df.withColumn("__z", key)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(outDir)
  }

  /** Bloom-filtered layout — the pruning technique for the case the
    * other two can't touch: POINT lookups on a high-cardinality column
    * whose values are scattered (id in an append-ordered log, digest in
    * a dedup index). Sorting ([[writeSorted]]) would buy min/max pruning
    * but costs a global shuffle per maintained column; a bloom filter is
    * per-row-group metadata the writer computes for free in one pass,
    * and an equality predicate then skips every row group whose filter
    * rules the value out — no layout change, composable with any
    * partitioning, multiple columns at once. `ndv` sizes the filter
    * (parquet allocates bits for the expected distinct count; undersizing
    * raises the false-positive rate, which costs extra reads, never
    * wrong answers). StorageSpec demonstrates the skip empirically
    * against an identical copy without the filter.
    */
  def writeBloomFiltered(df: DataFrame, column: String, ndv: Long,
      outDir: String, rowGroupBytes: Long = 64L << 10): Unit =
    df.write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$column", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$column", ndv.toString)
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(outDir)

  /** Catalog entry: the documents table written out as JSONL (the corpus
    * interchange sink), read back under its explicit schema, and reduced
    * to a per-(lang, source) integrity summary — row counts, char sums,
    * and a content signature (sum of per-doc [[graft.functions.TextHash
    * .hash60]] over id + text in decimal(38,0), overflow-free at any
    * corpus size). The DuckDB oracle computes the SAME summary from the
    * original parquet, so a hash match proves the JSONL round trip is
    * lossless — including multi-line, quoted, and non-ASCII text, which
    * JSON escaping must carry through unchanged.
    *
    * The sink directory is a PER-INVOCATION unique temp location (see
    * [[scratchDir]] for why anything weaker tears under re-invocation),
    * removed at JVM exit so repeated catalog passes don't accumulate
    * copies. The write is deliberately INSIDE the measured query — this
    * catalog entry is the sink's benchmark as much as the source's —
    * and [[readBackGuard]] pins the read-back row count eagerly so a
    * lossy write fails the gate with an error, not a hash drift.
    */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val out  = scratchDir("jsonl")
    graft.sources.JsonSources.writeJsonl(docs, out)
    corpusSummary(readBackGuard("corpus_jsonl", docs.count(),
      graft.sources.JsonSources.readJsonl(s, out, docs.schema)))
  }

  /** CSV twin of [[jsonlRoundtrip]]: write the documents table through the
    * line-splittable escaped-CSV sink, read it back with the explicit
    * schema, and emit the same per-(lang, source) integrity summary. The
    * oracle reads the ORIGINAL parquet, so a hash match proves the CSV
    * round trip lossless on real corpus text (the adversarial-string edge
    * cases live in `CsvSourcesSpec`).
    */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val out  = scratchDir("csv")
    graft.sources.CsvSources.writeCsv(docs, out)
    corpusSummary(readBackGuard("corpus_csv", docs.count(),
      graft.sources.CsvSources.readCsv(s, out, docs.schema)))
  }

  /** ORC twin of [[jsonlRoundtrip]]/[[csvRoundtrip]] — the OTHER
    * columnar container Spark ships natively (the interchange format a
    * Hive/Trino-era warehouse hands a training pipeline): write the
    * documents table as ORC, read it back under the explicit schema,
    * emit the same integrity summary. Unlike the text sinks there is no
    * escaping layer to prove out — what this pins is the binary
    * columnar path itself (dictionary/RLE encodings, stripe framing)
    * round-tripping corpus text losslessly, plus the same
    * per-invocation scratch discipline.
    */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val out  = scratchDir("orc")
    docs.write.mode("overwrite").orc(out)
    corpusSummary(readBackGuard("corpus_orc", docs.count(),
      s.read.schema(docs.schema).orc(out)))
  }

  /** File count for the [[zorderAudit]] layout plan. */
  val ZFiles = 64
  /** Predicate box for the [[zorderAudit]] pruning audit, on the
    * quantized grid: ship-day bucket in [ZLoA, ZHiA], price bucket in
    * [ZLoB, ZHiB] (~18 months x ~20k–40k price band).
    */
  val (zLoA, zHiA, zLoB, zHiB) = (100L, 140L, 40L, 80L)

  /** Zone-map audit of a Z-ordered layout — the oracle-checkable twin of
    * [[writeZOrdered]]: quantize lineitem onto an 8-bit x 8-bit grid
    * (ship-day decade, 500-unit price bucket), order rows by the Morton
    * interleave of the two coordinates ([[graft.functions.ZOrder2]]),
    * cut the ordered stream into [[ZFiles]] equal files (what the
    * range-partitioned writer produces), and emit each file's zone map —
    * row count, min/max of BOTH dimensions — plus, for a fixed 2-D
    * predicate box, how many of its rows match and whether the file's
    * box misses the predicate box entirely (`prunable`: a min/max-stats
    * reader skips it without opening it). The audit is the planner's
    * evidence that a Z-order layout turns a 2-column selective scan into
    * a handful of file reads — the decision a 100 TB lake makes before
    * paying for the one-time re-layout.
    *
    * Scale shape: the quantize + interleave is a scan-side projection
    * (codegen'd native expression); the file cut is an EXACT GLOBAL RANK
    * with NO partition-identity dependence — rank = (prefix count of
    * strictly-smaller z cells, read from the GRID HISTOGRAM) + (row
    * number within the row's own z cell). The histogram is ≤ 2^16 rows
    * at ANY corpus size (it's the quantizer grid, not the data), so its
    * prefix sum is a window over a bounded aggregate and it broadcasts
    * back onto the fact stream; the within-cell rank is a window
    * PARTITIONED BY z — distributed across cells, each task sorting one
    * cell's rows (occupancy-bounded; a skewed cell means the grid is
    * too coarse — raise the quantizer resolution). `file_id =
    * (rank-1)*ZFiles div N + 1` then cuts the ordered stream into
    * ZFiles equal slices with plain integer arithmetic. Everything
    * after the rank is a per-file partial aggregate: [[ZFiles]] output
    * rows.
    *
    * History: the r8 formulation ranked through one unpartitioned ntile
    * (a one-task global sort); the r9-r11 formulation ranked via
    * `repartitionByRange` + `spark_partition_id()` consumed by TWO
    * branches — whose range exchanges AQE coalesced DIFFERENTLY at
    * local[32] sf0.1, putting the two branches' pid spaces out of
    * register and corrupting the file cut (caught by the round-12 full
    * sf0.1 oracle check; invisible at sf0.01 and at low parallelism,
    * where both branches coalesce identically). `spark_partition_id()`
    * is only safe when every consumer reads ONE materialization of the
    * exchange (the rangeCum identical-subtree discipline, or a
    * checkpoint); deriving the rank from the value grid removes the
    * dependence entirely.
    *
    * Determinism: ranks within a (z, l_orderkey, l_linenumber) tie are
    * interchangeable — equal z means equal (qa, qb), so every output
    * statistic is tie-order-free; everything else is exact integer
    * arithmetic both engines reproduce bit-for-bit at any parallelism.
    */
  def zorderAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir).select(
      least(floor(
        datediff(to_date(col("l_shipdate")), lit("1995-01-01").cast("date"))
          .cast("double") / 10.0), lit(255L)).cast("long").as("qa"),
      least(floor(col("l_extendedprice") / 500.0), lit(255L)).cast("long").as("qb"),
      col("l_orderkey"), col("l_linenumber"))
    val z = graft.functions.ZOrderFunctions.zorder2(col("qa"), col("qb"))
    val withZ = li.withColumn("z", z)
    // grid histogram: one row per occupied z cell (≤ 2^16 — bounded by
    // the quantizer, not the corpus); its global windows sit over the
    // aggregate, the structurally-sanctioned bounded shape
    val hist = withZ.groupBy("z").agg(count(lit(1)).as("cnt"))
    val cells = hist
      .withColumn("offset", coalesce(
        sum("cnt").over(
          Window.orderBy("z").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("total", sum("cnt").over(
        Window.orderBy("z").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("z", "offset", "total")
    val inCell = Window.partitionBy("z")
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    withZ
      .withColumn("rn", row_number().over(inCell).cast("long"))
      .join(broadcast(cells), "z")
      .withColumn("file_id",
        expr(s"(offset + rn - 1) * $ZFiles div total + 1"))
      .groupBy("file_id")
      .agg(
        count(lit(1)).as("n_rows"),
        min("qa").as("min_a"), max("qa").as("max_a"),
        min("qb").as("min_b"), max("qb").as("max_b"),
        count(when(
          col("qa").between(zLoA, zHiA) && col("qb").between(zLoB, zHiB),
          1)).as("n_hits"))
      .select(
        col("file_id"), col("n_rows"),
        col("min_a"), col("max_a"), col("min_b"), col("max_b"), col("n_hits"),
        (col("max_a") < zLoA || col("min_a") > zHiA ||
          col("max_b") < zLoB || col("min_b") > zHiB).as("prunable"))
  }

  /** The per-(lang, source) integrity summary shared by the batch
    * round-trip and its streaming-ingestion twin
    * ([[graft.streaming.CorpusStream.ingestProfile]]): counts, char
    * sums, and an order-free content signature (exact decimal sum of
    * per-doc hashes, folded mod 2^61-1 to a BIGINT -- beyond-int64
    * DECIMAL outputs canonicalize differently across engines at the
    * hash-compare layer even when every value matches, and a 61-bit
    * prime keeps the signature sensitive to any single-term change).
    * Works unchanged as a streaming aggregation -- every term is an
    * incremental commutative sum.
    */
  def corpusSummary(docs: DataFrame): DataFrame =
    docs.groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(graft.functions.TextHash.hash60(
            concat(col("doc_id").cast("string"), lit("\u0001"),
              coalesce(col("text"), lit(""))))
          .cast("decimal(38,0)")) % lit(SigMod))
          .cast("long").as("content_sig"))

  /** Content-signature modulus: the Mersenne prime 2^61 - 1. Applied to
    * the exact DECIMAL(38,0) sum of per-doc hash60 terms so the output
    * column is a plain BIGINT (driver-safe output type). The oracle SQL
    * below interpolates THIS constant, so the two engines cannot drift.
    */
  val SigMod: Long = (1L << 61) - 1

  val queries: Map[String, Q] = Map(
    "bucket_join" -> (bucketJoin _),
    "part_prune"  -> (partPrune _),
    "corpus_jsonl" -> (jsonlRoundtrip _),
    "corpus_csv"   -> (csvRoundtrip _),
    "corpus_orc"   -> (orcRoundtrip _),
    "corpus_zorder" -> (zorderAudit _)
  )

  /** DuckDB-side Morton interleave of two 8-bit grid coordinates `qa`,
    * `qb` — the SQL mirror of [[graft.functions.ZOrder2.interleave]]
    * restricted to the audit's 8-bit quantizers: bit k of `qa` lands at
    * position 2k, bit k of `qb` at 2k+1.
    */
  private val duckZ: String = (0 until 8).map(k =>
    s"(((qa >> $k) & 1) << ${2 * k}) + (((qb >> $k) & 1) << ${2 * k + 1})")
    .mkString(" + ")

  val oracle: Map[String, String] = Map(
    "bucket_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
         (CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "part_prune" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         (CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0) AS sum_price
         FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '$PruneMonth'
         GROUP BY 1""",
    // reads the ORIGINAL parquet — equality with the Spark side (which
    // reads its own JSONL rewrite) is the round-trip losslessness proof
    "corpus_jsonl" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(CAST(${graft.functions.TextHash.duckHash60Of(
           "CAST(doc_id AS VARCHAR) || chr(1) || coalesce(text, '')")}
           AS DECIMAL(38,0))) % $SigMod AS BIGINT) AS content_sig
         FROM documents GROUP BY 1, 2""",
    // identical oracle shape: reads the ORIGINAL parquet, so equality with
    // the Spark side (which reads its own escaped-CSV rewrite) proves the
    // CSV round trip lossless
    "corpus_csv" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(CAST(${graft.functions.TextHash.duckHash60Of(
           "CAST(doc_id AS VARCHAR) || chr(1) || coalesce(text, '')")}
           AS DECIMAL(38,0))) % $SigMod AS BIGINT) AS content_sig
         FROM documents GROUP BY 1, 2""",
    // same original-parquet oracle: equality proves the ORC columnar
    // round trip lossless
    "corpus_orc" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(CAST(${graft.functions.TextHash.duckHash60Of(
           "CAST(doc_id AS VARCHAR) || chr(1) || coalesce(text, '')")}
           AS DECIMAL(38,0))) % $SigMod AS BIGINT) AS content_sig
         FROM documents GROUP BY 1, 2""",
    // same quantize -> Morton-order -> equal-slice file cut -> zone-map
    // summary, with the interleave spelled out as shift/mask arithmetic
    // and the file cut as the SAME exact-rank integer arithmetic the
    // engine computes distributed ((rank-1)*ZFiles // N + 1 over the
    // total sort key) — identical by construction, no ntile semantics
    // to match
    "corpus_zorder" ->
      s"""WITH q AS (
           SELECT
             least(CAST(floor(CAST(date_diff('day', DATE '1995-01-01',
               CAST(l_shipdate AS DATE)) AS DOUBLE) / 10.0) AS BIGINT),
               255) AS qa,
             least(CAST(floor(l_extendedprice / 500.0) AS BIGINT), 255) AS qb,
             l_orderkey, l_linenumber
           FROM lineitem),
         z AS (SELECT *, $duckZ AS z FROM q),
         f AS (SELECT qa, qb,
             (row_number() OVER (ORDER BY z, l_orderkey, l_linenumber) - 1)
               * $ZFiles // (SELECT count(*) FROM z) + 1 AS file_id
           FROM z)
         SELECT CAST(file_id AS BIGINT) AS file_id,
           count(*) AS n_rows,
           min(qa) AS min_a, max(qa) AS max_a,
           min(qb) AS min_b, max(qb) AS max_b,
           count(*) FILTER (WHERE qa BETWEEN $zLoA AND $zHiA
             AND qb BETWEEN $zLoB AND $zHiB) AS n_hits,
           (max(qa) < $zLoA OR min(qa) > $zHiA
             OR max(qb) < $zLoB OR min(qb) > $zHiB) AS prunable
         FROM f GROUP BY 1"""
  )
}
