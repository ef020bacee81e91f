package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.mr.{MapReduceJob, MRApps}

/** The generic MapReduce surface exercised as catalog queries: reference
  * apps run through [[graft.mr.MapReduceJob.run]] over `documents` (doc_id
  * standing in for filename, text for contents — FIXTURES.md §3), verified
  * against relational DuckDB oracles. The engine's one path
  * ([[graft.plans.SortedGroupReduce]]: shuffle as SQL Exchange, reduce-side
  * sort as Tungsten SortExec) carries every reference app under the
  * catalog's DuckDB oracle check. No reduce-partition count is given, so
  * AQE sizes the reduce side. `MapReduceJobSpec` pins the same path against
  * the sequential oracle (`MrSequential`) across all apps.
  */
object MRCompat {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id").cast("string").as("filename"), col("text").as("contents"))

  def mrWc(s: SparkSession, dir: String): DataFrame =
    MapReduceJob.run(s, docs(s, dir), MRApps.WordCount)

  def mrIndexer(s: SparkSession, dir: String): DataFrame =
    MapReduceJob.run(s, docs(s, dir), MRApps.Indexer)

  def mrMetadata(s: SparkSession, dir: String): DataFrame =
    MapReduceJob.run(s, docs(s, dir), MRApps.Metadata)

  val queries: Map[String, Q] = Map(
    "mr_wc"       -> (mrWc _),
    "mr_indexer"  -> (mrIndexer _),
    "mr_metadata" -> (mrMetadata _)
  )

  private val tok =
    "SELECT CAST(doc_id AS VARCHAR) doc, t AS token FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS t FROM documents) WHERE t <> ''"

  val oracle: Map[String, String] = Map(
    "mr_wc" ->
      s"SELECT token AS key, CAST(count(*) AS VARCHAR) AS value FROM ($tok) GROUP BY 1",
    "mr_indexer" ->
      s"""SELECT token AS key,
         CAST(count(DISTINCT doc) AS VARCHAR) || ' ' || array_to_string(list_sort(list(DISTINCT doc)), ',') AS value
         FROM ($tok) GROUP BY 1""",
    "mr_metadata" ->
      """SELECT CAST(doc_id AS VARCHAR) AS key,
         array_to_string(list_sort([
           CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR),
           CAST(length(text) AS VARCHAR),
           'xyzzy']), ' ') AS value
         FROM documents"""
  )
}
