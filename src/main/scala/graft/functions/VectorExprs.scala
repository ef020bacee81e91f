package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the float-vector dot product — the hot
  * inner loop of every cosine-similarity operator (dedup_embedding,
  * sim_topk, sim_ann_lsh).
  *
  * Why an Expression and not `zip_with` + `aggregate`: the higher-order
  * functions allocate a lambda frame per element and box the accumulator;
  * this expression compiles (doGenCode) to a tight primitive loop inside
  * whole-stage codegen. Semantics are identical — a strict left-to-right
  * accumulation in double — so results are bit-equal to the fold and the
  * DuckDB oracle stays exact. Mismatched array lengths raise (as DuckDB's
  * list_inner_product does) rather than silently truncating.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_f"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float>, array<float>), got ($l, $r)")
    }
  }

  /** A null ELEMENT yields a null result (DuckDB's list_inner_product
    * semantics) — getFloat on a null slot would silently read 0.0f and
    * produce a finite, wrong dot product.
    */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array lengths differ (${x.numElements()} vs ${y.numElements()})")
    val n = x.numElements()
    var acc = 0.0
    var i   = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot_f: array lengths differ (" + $x.numElements() + " vs " + $y.numElements() + ")");
         |}
         |int $n = $x.numElements();
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value}_acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd long-vector inner product — the LSH plane-vote / projection
  * inner loop (r15, guide §1.2 per-task work / "eliminate non-codegen
  * expressions in the hot path"): `aggregate(zip_with(x, w, _*_), 0L, _+_)`
  * evaluates a lambda frame per ELEMENT with a boxed accumulator, paid
  * per (row × table × plane) in the signature builders. The loop below is
  * whole-stage-codegen; arithmetic is identical exact wrapping long
  * multiply-add, so every vote/projection is bit-equal to the fold.
  */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_l"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, array<bigint>), got ($l, $r)")
    }
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array lengths differ (${x.numElements()} vs ${y.numElements()})")
    val n = x.numElements()
    var acc = 0L
    var i   = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot_l: array lengths differ (" + $x.numElements() + " vs " + $y.numElements() + ")");
         |}
         |int $n = $x.numElements();
         |long ${ev.value}_acc = 0L;
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value}_acc += $x.getLong($i) * $y.getLong($i);
         |  }
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd long-vector squared euclidean distance Σ(x−y)² — same
  * rationale and exactness argument as [[LongDotProduct]] (the JL-audit
  * and quantized-distance hot loops).
  */
case class LongSqDist(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sqdist_l"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, array<bigint>), got ($l, $r)")
    }
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array lengths differ (${x.numElements()} vs ${y.numElements()})")
    val n = x.numElements()
    var acc = 0L
    var i   = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_sqdist_l: array lengths differ (" + $x.numElements() + " vs " + $y.numElements() + ")");
         |}
         |int $n = $x.numElements();
         |long ${ev.value}_acc = 0L;
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |  } else {
         |    long $d = $x.getLong($i) - $y.getLong($i);
         |    ${ev.value}_acc += $d * $d;
         |  }
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column helpers: each builds its native expression directly, so no
  * function registry is involved (SQL text reaches the same expressions
  * through [[graft.GraftExtensions.functions]]).
  */
object VectorFunctions {
  def dotF(a: Column, b: Column): Column =
    column(FloatDotProduct(expression(a), expression(b)))

  def dotL(a: Column, b: Column): Column =
    column(LongDotProduct(expression(a), expression(b)))

  def sqDistL(a: Column, b: Column): Column =
    column(LongSqDist(expression(a), expression(b)))
}
