package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Usage: `Verify <sfDir> <outDir> [query ...]`. Query names restrict
    * the dump (a local iteration aid); none dumps the whole catalog in
    * name order. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, _*) = args
    val names = Profile.select(args.toSeq.drop(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared engine config (r15 verdict item 3): the oracle gate now runs
    // the SAME session defaults the bench times (AQE + SHJ preference),
    // so correctness exercises the benched plan shapes
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // Engine-side evidence of record (r14: the driver's CORRECTNESS
    // artifact arrived empty, leaving the round without any correctness
    // record). For every dump also compute (rows, schema, order- and
    // column-order-independent content hash) and write them to
    // outDir/verify_summary.json — self-contained proof the catalog ran
    // and what it produced, comparable round-to-round even if the
    // driver-side DuckDB compare is lost.
    val summary = scala.collection.mutable.LinkedHashMap[String, String]()
    def contentHash(path: String): (Long, String, String) = {
      import org.apache.spark.sql.functions._
      val df     = spark.read.parquet(path)
      val schema = df.schema.map(f => s"${f.name}:${f.dataType.simpleString}")
        .sorted.mkString(",")
      // per-row canonical string = to_json of the name-sorted struct;
      // aggregate with a DECIMAL sum of xxhash64 so the digest is
      // row-order-free, keeps duplicate-row multiplicity (unlike XOR),
      // and cannot hit the ANSI long-overflow that a raw sum(long) does
      val cols = df.columns.sorted.map(col)
      val agg = df
        .select(xxhash64(to_json(struct(cols.toSeq: _*))).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      (agg.getLong(0),
        if (agg.isNullAt(1)) "0" else agg.getDecimal(1).toBigInteger.toString,
        schema)
    }
    val catalog = SparkEntry.queries
    for (name <- names) {
      // names the query that any following log line comes from
      System.err.println(s"[verify] $name")
      // dump and summary fail INDEPENDENTLY: a summary-side error must
      // not record a successfully-dumped query as failed (the dump is
      // what the driver's own gate reads)
      try {
        catalog(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        summary(name) =
          try {
            val (rows, h, schema) = contentHash(s"$outDir/$name")
            s"""{"rows":$rows,"hash":"$h","schema":"$schema"}"""
          } catch { case NonFatal(e) =>
            System.err.println(s"[verify] $name summary failed: ${e.getMessage}")
            s"""{"summary_error":true}"""
          }
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        summary(name) = s"""{"error":true}"""
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val sumJson = summary
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), sumJson)
    val nFail = summary.valuesIterator.count(_.contains("\"error\""))
    val nSum  = summary.valuesIterator.count(_.contains("\"hash\""))
    println(s"[verify] ${summary.size - nFail}/${summary.size} queries dumped " +
      s"($nSum with content summaries, $nFail failed); " +
      s"summary at $outDir/verify_summary.json")
    spark.stop()
  }
}
