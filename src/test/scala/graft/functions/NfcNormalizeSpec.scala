package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** [[NfcNormalize]] behavior the catalog's ASCII fixture can't witness:
  * composed/decomposed Unicode canonicalization, the pass-through fast
  * path, and codegen/interpreted agreement. Non-ASCII forms are written
  * as \u escapes so the source encoding can't silently re-normalize them.
  */
class NfcNormalizeSpec extends AnyFunSuite with SparkTestBase {

  private val Decomposed = "cafe\u0301"  // e + U+0301 combining acute
  private val Composed   = "caf\u00e9"   // precomposed é

  private def nfcOf(values: String*): Seq[String] = {
    import spark.implicits._
    val df = values.toDF("s")
    df.select(TextFunctions.nfc(col("s")).as("n")).as[String].collect().toSeq
  }

  test("decomposed input canonicalizes to the composed form") {
    assert(Decomposed != Composed) // sanity: raw forms differ pre-NFC
    assert(nfcOf(Decomposed, Composed) == Seq(Composed, Composed))
  }

  test("already-normalized text passes through unchanged (incl. non-ASCII)") {
    val in = Seq("plain ascii", Composed, "Über-maß", "日本語")
    assert(nfcOf(in: _*) == in)
  }

  test("nulls propagate") {
    import spark.implicits._
    val df = Seq(Some(Composed), None).toDF("s")
    val out = df.select(TextFunctions.nfc(col("s")).as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some(Composed), None))
  }

  test("canonically-equal forms meet in an equality join after NFC") {
    import spark.implicits._
    val a = Seq(Decomposed).toDF("k")
    val b = Seq(Composed).toDF("k")
    // raw join misses (different code points) …
    assert(a.join(b, "k").count() == 0)
    // … the NFC'd join hits
    val an = a.select(TextFunctions.nfc(col("k")).as("k"))
    val bn = b.select(TextFunctions.nfc(col("k")).as("k"))
    assert(an.join(bn, "k").count() == 1)
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val decomposed = "A\u030a" // A + combining ring
    val composed   = "\u00c5"  // precomposed Å
    val expr = NfcNormalize(Literal(decomposed))
    // interpreted path (eval) vs the whole-stage-codegen path that
    // nfcOf's DataFrame query exercises
    assert(expr.eval(null).toString == composed)
    assert(nfcOf(decomposed) == Seq(composed))
  }
}
