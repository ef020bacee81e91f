package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode NFC normalization — the first
  * step of any text-curation pipeline that dedups or fingerprints by
  * content: the same visible string can arrive as composed (U+00E9) or
  * decomposed (U+0065 U+0301) code points, and every downstream hash,
  * shingle, and equality join silently misses the match unless both forms
  * canonicalize first.
  *
  * Spark has no built-in for this (DuckDB ships `nfc_normalize`); a Scala
  * UDF would work but boxes String per row and blocks whole-stage
  * codegen. This expression compiles (doGenCode) to a direct
  * `java.text.Normalizer.normalize` call inside the generated code, with
  * a fast-path: `Normalizer.isNormalized` is O(n) with no allocation and
  * virtually all real text is already NFC, so the common case does one
  * scan and returns the input UTF8String untouched (no copy).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  /** Shared by interpreted eval and generated code (a static call keeps
    * the generated method tiny and JIT-friendly).
    */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else
      UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

object TextFunctions {
  def nfc(s: Column): Column = column(NfcNormalize(expression(s)))
}
