package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.mr.MRApps

/** Tokenizer parity: the Spark-side `\p{L}` split must agree with the
  * Scala-side splitter used by the MR apps, and both must match Go
  * `strings.FieldsFunc(s, !unicode.IsLetter)` semantics (SURVEY.md §7.3
  * risk 1): no empty tokens, unicode letters kept, digits/punct split.
  */
class TokenizeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def sparkTokens(texts: Seq[String]): Seq[Seq[String]] =
    texts
      .zipWithIndex
      .toDF("text", "i")
      .select(col("i"), filter(Tokenize.tokenCol(col("text")), _ =!= "").as("ts"))
      .as[(Int, Seq[String])]
      .collect()
      .sortBy(_._1)
      .map(_._2)
      .toSeq

  test("empty tokens dropped at boundaries and runs") {
    assert(MRApps.tokenize("  hello,,world  ") == Seq("hello", "world"))
    assert(MRApps.tokenize("") == Seq.empty)
    assert(MRApps.tokenize("123 456") == Seq.empty)
  }

  test("unicode letters are kept (Go unicode.IsLetter parity)") {
    assert(MRApps.tokenize("café naïve 中文 Größe") == Seq("café", "naïve", "中文", "Größe"))
  }

  test("spark split agrees with scala split on fixtures") {
    val samples = Seq(
      "the quick brown fox",
      "don't split-words, ever!",
      "été déjà 北京 x1y2z",
      "  leading and trailing  ",
      "")
    assert(sparkTokens(samples) == samples.map(MRApps.tokenize))
  }

  /** The regex split the MR apps' scan replaced (`\p{L}` is
    * `Character.isLetter` of a code point).
    */
  private def regexTokens(s: String): Seq[String] =
    s.split(Tokenize.WordPattern).toSeq.filter(_.nonEmpty)

  /** Letters from every letter category, in and out of the BMP, and the
    * non-letters a scan can mistake for letters: an unpaired surrogate, a
    * combining mark (Mn), a letter number (Nl) and a spacing vowel sign
    * (Mc, Other_Alphabetic). The last two are `isAlphabetic` but not
    * letters; a per-`char` test splits the supplementary-plane letters.
    */
  private val alphabet: IndexedSeq[String] =
    ("abz ,.19éß中\tXY-".map(_.toString) ++ Seq(
      "\uD835\uDC9C", // 𝒜 U+1D49C, Lu, a surrogate pair
      "\uD840\uDC00", // 𠀀 U+20000, Lo, a surrogate pair
      "\uDC00",       // an unpaired (low) surrogate
      "\u0301",       // combining acute accent, Mn
      "\u01C5",       // ǅ, Lt
      "\u02B0",       // ʰ, Lm
      "\u216B",       // Ⅻ, Nl
      "\u093E"        // ा, Mc
    )).toIndexedSeq

  private def seededDocs(seed: Int, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  test("property: spark and scala tokenizers agree on seeded random docs") {
    val docs = seededDocs(42, 200)
    assert(sparkTokens(docs) == docs.map(MRApps.tokenize))
  }

  test("property: the code-point scan gives the regex split's tokens") {
    for (doc <- seededDocs(7, 2000))
      assert(MRApps.tokenize(doc) == regexTokens(doc), doc.codePoints.toArray.map(_.toHexString).mkString(" "))
    assert(MRApps.tokenize("x\uD835\uDC9Cy\u216Bz\u093Ew") == Seq("x\uD835\uDC9Cy", "z", "w"))
  }
}
