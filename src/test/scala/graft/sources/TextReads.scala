package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Line reads over Spark's own text source, for specs that read text back
  * or pin the line scan (the reference's F2, `pkg/mr/mr.go:19-36`).
  */
object TextReads {

  /** One row per `\n`-delimited line, trailing newline stripped. */
  def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(col("value").as("line"))

  /** The F8 format read back: split at the first space. */
  def readKV(spark: SparkSession, path: String): DataFrame =
    lines(spark, path).select(
      regexp_extract(col("line"), "^(\\S*) (.*)$", 1).as("key"),
      regexp_extract(col("line"), "^(\\S*) (.*)$", 2).as("value"))
}
