package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression for the 2-column Z-order (Morton) key —
  * the multi-column generalization of sort-by-filter-column data
  * skipping (`Storage.writeSorted`): interleaving the bits of two
  * dimensions makes a file/row-group range cover a LOCALITY BOX in
  * (a, b) space, so min/max stats prune selective filters on EITHER
  * column (a single-column sort only prunes its own column). This is
  * the layout technique behind Delta/Iceberg `ZORDER BY`.
  *
  * Inputs must already be quantized to non-negative 31-bit grid
  * coordinates (rank, bucket id, truncated value — the caller picks the
  * quantizer); out-of-range input throws rather than silently wrapping
  * into a key that breaks locality. The interleave itself is the
  * classic mask-shift bit spread — O(1), branch-free, codegen'd.
  */
case class ZOrder2(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder2"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (bigint, bigint), got ($l, $r)")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder2.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrder2.interleave($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ZOrder2 {
  /** Spread the low 32 bits of x to the even bit positions. */
  private def part1by1(x0: Long): Long = {
    var x = x0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Morton key: a's bits at even positions, b's at odd. Both inputs
    * must be in [0, 2^31) so the result stays non-negative and ordering
    * is locality-preserving.
    */
  def interleave(a: Long, b: Long): Long = {
    if (a < 0 || b < 0 || a >= (1L << 31) || b >= (1L << 31))
      throw new IllegalArgumentException(
        s"graft_zorder2: inputs must be in [0, 2^31), got ($a, $b)")
    part1by1(a) | (part1by1(b) << 1)
  }
}

object ZOrderFunctions {
  def zorder2(a: Column, b: Column): Column =
    column(ZOrder2(expression(a), expression(b)))
}
