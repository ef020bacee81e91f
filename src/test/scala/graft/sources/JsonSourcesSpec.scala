package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** JSONL round-trip: every value class that JSON escaping must carry —
  * embedded newlines (the line-splittability hazard), quotes/backslashes,
  * non-BMP unicode, control chars, empty strings vs nulls — survives
  * write+read bit-for-bit under an explicit schema.
  */
class JsonSourcesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("jsonl round-trip is lossless on adversarial strings") {
    val rows = Seq(
      (1L, "plain ascii", Option("en")),
      (2L, "embedded\nnewline and\r\ncrlf", Option("en")),
      (3L, "quotes \" and backslash \\ and tab\t", Option("de")),
      (4L, "unicode: café 中文 😀 عربى", Option("zh")),
      (5L, "control chars \u0001\u0002\u001f", Option("en")),
      (6L, "", Option("en")),
      (7L, "null lang below", None),
      (8L, "{\"looks\":\"like json\"}", Option("en")))
    val df  = rows.toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-spec-").toString
    JsonSources.writeJsonl(df, dir)
    val back = JsonSources.readJsonl(spark, dir, df.schema)
      .as[(Long, String, Option[String])].collect().sortBy(_._1).toSeq
    assert(back == rows.sortBy(_._1))
  }

  test("jsonl files are one-object-per-line and the write is re-runnable") {
    val df  = Seq((1L, "two\nlines"), (2L, "one line")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-spec-").toString
    // uncompressed so the spec can read the physical lines directly
    JsonSources.writeJsonl(df, dir, codec = "none")
    JsonSources.writeJsonl(df, dir, codec = "none") // overwrite, not append
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    val lines = files.flatMap(f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
    // 2 rows -> exactly 2 physical lines even though one text has a \n
    assert(lines.count(_.nonEmpty) == 2, lines.mkString("|"))
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
  }
}
