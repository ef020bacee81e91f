package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.mr.{MapReduceJob, MRApps}

/** End-to-end through the reference's I/O surface: whole-file scan →
  * MR wc → KV text sink → read back — the `play.sh` golden-compare shape
  * (`sort mr-out* | cmp` vs the sequential oracle).
  */
class TextSourcesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("whole-file scan preserves file granularity and content") {
    val dir = Files.createTempDirectory("graft-src").toString
    Files.writeString(java.nio.file.Paths.get(dir, "a.txt"), "hello world\nsecond line")
    Files.writeString(java.nio.file.Paths.get(dir, "b.txt"), "solo")
    val rows = TextSources.wholeFiles(spark, s"$dir/*.txt")
      .as[(String, String)].collect().sortBy(_._1)
    assert(rows.length == 2)
    assert(rows(0)._1.endsWith("a.txt") && rows(0)._2 == "hello world\nsecond line")
    assert(rows(1)._1.endsWith("b.txt") && rows(1)._2 == "solo")
  }

  test("whole-file scan decodes URI escapes and relativizes cwd paths") {
    val dir = Files.createTempDirectory("graft-enc").toString
    Files.writeString(java.nio.file.Paths.get(dir, "with space.txt"), "x")
    val name = TextSources.wholeFiles(spark, s"$dir/*.txt")
      .as[(String, String)].collect().head._1
    // as a URI the name would be file:/...with%20space.txt — the
    // reference keys on the plain path (document ids in the indexer)
    assert(name == s"$dir/with space.txt", name)
  }

  /** The whole-file reader `wholeFiles` replaced, kept as its reference:
    * Spark's `wholetext` source, the file name from `input_file_name()`
    * (a URL-encoded URI) decoded and made relative to the working
    * directory.
    */
  private def fileSourceReader(glob: String): DataFrame = {
    val cwd = new java.io.File(".").getCanonicalPath + "/"
    spark.read
      .option("wholetext", "true")
      .text(glob)
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

  private def rows(df: DataFrame): Seq[(String, String)] =
    df.as[(String, String)].collect().toSeq.sorted

  /** Names that need decoding, files Spark's listing skips, a file
    * outside the glob, text outside the BMP and a byte that is not UTF-8.
    */
  private lazy val mixedDir: Path = {
    val dir = Files.createTempDirectory("graft-whole-")
    def put(name: String, bytes: Array[Byte]): Unit = Files.write(dir.resolve(name), bytes)
    put("with space.txt", "a b".getBytes(UTF_8))
    put("50%.txt", "percent".getBytes(UTF_8))
    put("empty.txt", Array.emptyByteArray)
    put("_x.txt", "hidden".getBytes(UTF_8))
    put(".x.txt", "hidden".getBytes(UTF_8))
    put("notes.md", "never read".getBytes(UTF_8))
    put("astral.txt", "\uD835\uDC9C\uD840\uDC00 wide".getBytes(UTF_8))
    put("bad.txt", Array[Byte]('o', 'k', 0xff.toByte, '!'))
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(dir.resolve("z.txt.gz")))
    try gz.write("zipped text".getBytes(UTF_8)) finally gz.close()
    dir
  }

  test("whole-file scan gives the file source reader's rows") {
    val dir = mixedDir
    val got = rows(TextSources.wholeFiles(spark, s"$dir/*.txt"))
    assert(got == rows(fileSourceReader(s"$dir/*.txt")))
    // the empty file and the `_`/`.` names get no row, the .md is outside
    assert(got.map(_._1.stripPrefix(s"$dir/")) ==
      Seq("50%.txt", "astral.txt", "bad.txt", "with space.txt"), got)
    assert(got.toMap.apply(s"$dir/bad.txt") == "ok\uFFFD!")
    for (glob <- Seq(dir.toString, s"$dir/*.gz", s"$dir/_*.txt", s"$dir/empty.txt"))
      assert(rows(TextSources.wholeFiles(spark, glob)) == rows(fileSourceReader(glob)), glob)
  }

  test("whole-file scan names a file below the working directory by its relative path") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "graft-rel-")
    val f   = Files.writeString(dir.resolve("doc 1.txt"), "relative")
    try {
      val glob = s"target/${dir.getFileName}/*.txt"
      val got  = rows(TextSources.wholeFiles(spark, glob))
      assert(got == Seq(s"target/${dir.getFileName}/doc 1.txt" -> "relative"), got)
      assert(got == rows(fileSourceReader(glob)))
    } finally { Files.delete(f); Files.delete(dir) }
  }

  test("whole-file scan of a glob that matches nothing names the glob") {
    val glob = s"$mixedDir/*.nope"
    val e    = intercept[java.io.FileNotFoundException](TextSources.wholeFiles(spark, glob))
    assert(e.getMessage.contains(glob), e.getMessage)
  }

  test("KV sink maps a null value to the empty string (reference's no-null model)") {
    val sink = Files.createTempDirectory("graft-nullkv").toString + "/kv"
    TextSources.writeKV(
      Seq(("k1", Option("v1")), ("k2", None)).toDF("key", "value"), sink)
    val back = TextReads.readKV(spark, sink)
      .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq("k1" -> "v1", "k2" -> ""), back.toString)
  }

  test("line scan strips trailing newline, one row per line") {
    val dir = Files.createTempDirectory("graft-lines").toString
    Files.writeString(java.nio.file.Paths.get(dir, "x.txt"), "l1\nl2\n\nl4\n")
    val lines = TextReads.lines(spark, dir).as[String].collect().sorted.toSeq
    assert(lines == Seq("", "l1", "l2", "l4"))
  }

  test("wc over whole-file scan, through the KV sink, matches the golden format") {
    val ref = new java.io.File("/root/reference/example/input")
    assume(ref.isDirectory)
    val glob = ref.getAbsolutePath + "/pg-being_ernest.txt"
    val docs = TextSources.wholeFiles(spark, glob)
    val sink = Files.createTempDirectory("graft-out").toString + "/wc"
    TextSources.writeKV(MapReduceJob.run(spark, docs, MRApps.WordCount), sink)

    val back = TextReads.readKV(spark, sink)
      .as[(String, String)].collect().map { case (k, v) => s"$k $v" }.sorted.toSeq
    val file = new String(Files.readAllBytes(java.nio.file.Paths.get(glob)), UTF_8)
    assert(back == MrSequential(MRApps.WordCount, Seq(glob -> file)),
      "sink output differs from the oracle")
    assert(back.nonEmpty && back.forall(_.matches("\\S+ \\d+")))
  }
}
