package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** [[SortedKeySum]]: merge-scan semantics (sum of doc values at query
  * keys, NULL on empty intersection), interpreted/codegen agreement, and
  * type checking.
  */
class SortedKeySumSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def run(
      keys: Seq[String], vals: Seq[Long], q: Seq[String]): Option[Long] = {
    val df = Seq((keys, vals, q)).toDF("ks", "vs", "qs")
    df.select(SortedKeySumFunction.sortedKeySum(col("ks"), col("vs"), col("qs"))
        .as("s"))
      .collect()
      .headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
  }

  test("sums values whose keys intersect the query, in any overlap shape") {
    assert(run(Seq("a", "b", "c"), Seq(1L, 2L, 4L), Seq("a", "c")) == Some(5L))
    assert(run(Seq("a", "b", "c"), Seq(1L, 2L, 4L), Seq("b")) == Some(2L))
    assert(run(Seq("a", "b", "c"), Seq(1L, 2L, 4L), Seq("a", "b", "c")) == Some(7L))
    // query keys outside the doc range on both ends
    assert(run(Seq("g", "m"), Seq(10L, 20L), Seq("a", "m", "z")) == Some(20L))
  }

  test("empty intersection (and empty arrays) yield NULL, not 0") {
    assert(run(Seq("a", "b"), Seq(1L, 2L), Seq("c", "d")).isEmpty)
    assert(run(Seq.empty, Seq.empty, Seq("a")).isEmpty)
    assert(run(Seq("a"), Seq(1L), Seq.empty).isEmpty)
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    def strArr(xs: Seq[String]) =
      Literal.create(ArrayData.toArrayData(xs.map(UTF8String.fromString).toArray),
        ArrayType(StringType, containsNull = false))
    def longArr(xs: Seq[Long]) =
      Literal.create(ArrayData.toArrayData(xs.toArray),
        ArrayType(LongType, containsNull = false))
    val expr = SortedKeySum(
      strArr(Seq("a", "b", "c")), longArr(Seq(1L, 2L, 4L)), strArr(Seq("a", "c", "x")))
    assert(expr.eval(null) == 5L)
    assert(run(Seq("a", "b", "c"), Seq(1L, 2L, 4L), Seq("a", "c", "x")) == Some(5L))
    val miss = SortedKeySum(
      strArr(Seq("a")), longArr(Seq(1L)), strArr(Seq("b")))
    assert(miss.eval(null) == null)
  }

  test("rejects wrong input types at analysis") {
    val df = Seq((Seq(1L), Seq(1L), Seq("a"))).toDF("ks", "vs", "qs")
    val e = intercept[Exception] {
      df.select(SortedKeySumFunction.sortedKeySum(col("ks"), col("vs"), col("qs")))
        .collect()
    }
    assert(e.getMessage.contains("graft_sorted_key_sum"))
  }
}
