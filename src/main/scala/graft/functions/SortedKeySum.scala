package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression for a sorted-merge keyed sum: given a
  * document's terms as PARALLEL SORTED arrays (keys asc + long values)
  * and a query's SORTED key array, returns Σ values[i] over keys present
  * in the query — NULL when the intersection is empty (the "this doc
  * shares no term with the query" signal, so zero-overlap pairs can be
  * filtered without a second pass).
  *
  * This is the inner loop of the dense-regime BM25 scorer
  * ([[graft.ops.Curation.bm25]]): one O(|d|+|q|) merge per (query, doc)
  * pair, compiled by doGenCode into a primitive loop of binary
  * `UTF8String` comparisons inside whole-stage codegen. The `aggregate`/
  * `element_at` higher-order formulation computes the same sum but
  * interprets the lambda per element and linear-scans the map per lookup
  * — measured 5× slower end-to-end at sf0.1. Long additions are
  * order-free and exact, so the result is bit-identical to the
  * postings-join formulation and the DuckDB oracle.
  *
  * Contract (enforced by the caller, asserted nowhere hot): keys arrays
  * sorted ascending in binary (UTF8) order — exactly what Spark's
  * `array_sort` produces for strings — with no null elements; values
  * parallel to the first keys array.
  */
case class SortedKeySum(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_key_sum"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<string>, array<long>, array<string>), got ($a, $b, $c)")
    }
  }

  /** NULL encodes "empty intersection", so the expression is nullable
    * even over non-null inputs.
    */
  override def nullable: Boolean = true

  override def nullSafeEval(k: Any, v: Any, q: Any): Any = {
    val keys = k.asInstanceOf[ArrayData]
    val vals = v.asInstanceOf[ArrayData]
    val qs   = q.asInstanceOf[ArrayData]
    var i    = 0
    var j    = 0
    var acc  = 0L
    var any  = false
    while (i < keys.numElements() && j < qs.numElements()) {
      val c = keys.getUTF8String(i).compareTo(qs.getUTF8String(j))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else {
        acc += vals.getLong(i)
        any = true
        i += 1
        j += 1
      }
    }
    if (any) acc else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k, v, q) => {
      val i   = ctx.freshName("i")
      val j   = ctx.freshName("j")
      val c   = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      val any = ctx.freshName("any")
      s"""
         |int $i = 0;
         |int $j = 0;
         |long $acc = 0L;
         |boolean $any = false;
         |while ($i < $k.numElements() && $j < $q.numElements()) {
         |  int $c = $k.getUTF8String($i).compareTo($q.getUTF8String($j));
         |  if ($c < 0) { $i++; }
         |  else if ($c > 0) { $j++; }
         |  else { $acc += $v.getLong($i); $any = true; $i++; $j++; }
         |}
         |if ($any) { ${ev.value} = $acc; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object SortedKeySumFunction {
  def sortedKeySum(keys: Column, vals: Column, qKeys: Column): Column =
    column(SortedKeySum(expression(keys), expression(vals), expression(qKeys)))
}
