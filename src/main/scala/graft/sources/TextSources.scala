package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's scan/sink surface (SURVEY.md §2.1 F1/F2/F8) on Spark's
  * source API:
  *
  *  - F1 whole-file scan: one row per file, `(filename, contents)` — the
  *    reference's map input unit (`pkg/fsutil/util.go:7-21`). The
  *    reference runs one map task per file
  *    (`internal/coordinator/coordinator.go:124-133`); Spark instead packs
  *    whole files into scan tasks by size plus
  *    `spark.sql.files.openCostInBytes`, so one task may map many small
  *    files (`SkewIngestSpec` pins the packing).
  *  - F2 line scan: one row per `\n`-delimited line, trailing newline
  *    stripped (`pkg/mr/mr.go:19-36`).
  *  - F8 text sink: `"<key> <value>"` lines — the oracle's canonical
  *    output format (`example/mrsequential/mrsequential.go:84`). Spark's
  *    commit protocol replaces the reference's create-then-append
  *    (`internal/worker/worker.go:301-313`, which is also where its
  *    read-only-append bug lived, SURVEY.md §2.4.5).
  *
  * Any Hadoop-supported scheme works in the path (the analogue of the
  * reference's `FsClient` URL-scheme registry, `pkg/fsutil/fsclient.go`).
  */
object TextSources {

  /** F1: whole files as rows. `input_file_name()` yields a URL-encoded
    * absolute URI; the reference's apps key on the path as given on the
    * command line (the indexer uses it as the document id), so decode it
    * and relativize against the launch directory. Per-file rows, so the
    * typed map's codegen break is irrelevant.
    */
  def wholeFiles(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val cwd = new java.io.File(".").getCanonicalPath + "/"
    spark.read
      .option("wholetext", "true")
      .text(pathGlob)
      .select(input_file_name().as("filename"), col("value").as("contents"))
      .as[(String, String)]
      .map { case (uri, contents) =>
        val p =
          try {
            val path = new java.net.URI(uri).getPath
            if (path == null) uri else path
          } catch { case _: java.net.URISyntaxException => uri }
        (if (p.startsWith(cwd)) p.substring(cwd.length) else p) -> contents
      }
      .toDF("filename", "contents")
  }

  /** F2: lines as rows. */
  def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(col("value").as("line"))

  /** F8: write a (key, value) frame in the reference's output format.
    * Null values map to the empty string — the reference's data model has
    * no nulls ("" is its only missing representation, SURVEY.md §1.1), and
    * a bare `concat_ws` would drop the separator, producing a line
    * `readKV` cannot parse.
    */
  def writeKV(df: DataFrame, path: String): Unit =
    df.select(concat_ws(" ", coalesce(col("key"), lit("")), coalesce(col("value"), lit("")))
        .as("value"))
      .write
      .mode("overwrite")
      .text(path)

  /** Read the F8 format back: split at the first space. */
  def readKV(spark: SparkSession, path: String): DataFrame =
    lines(spark, path).select(
      regexp_extract(col("line"), "^(\\S*) (.*)$", 1).as("key"),
      regexp_extract(col("line"), "^(\\S*) (.*)$", 2).as("value"))
}
