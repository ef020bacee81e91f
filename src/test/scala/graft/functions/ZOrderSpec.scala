package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class ZOrderSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("interleave puts a's bits at even and b's at odd positions") {
    assert(ZOrder2.interleave(0L, 0L) == 0L)
    assert(ZOrder2.interleave(1L, 0L) == 1L) // a bit 0 -> key bit 0
    assert(ZOrder2.interleave(0L, 1L) == 2L) // b bit 0 -> key bit 1
    assert(ZOrder2.interleave(3L, 3L) == 15L) // 0b11,0b11 -> 0b1111
    assert(ZOrder2.interleave(0xFFFFFFFFL >> 1, 0L) == 0x1555555555555555L)
  }

  test("out-of-range coordinates fail loudly instead of corrupting locality") {
    intercept[IllegalArgumentException](ZOrder2.interleave(-1L, 0L))
    intercept[IllegalArgumentException](ZOrder2.interleave(0L, 1L << 31))
  }

  test("codegen path agrees with the interpreted helper") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (123456L, 654321L), ((1L << 31) - 1, 42L))
    val got = rows.toDF("a", "b")
      .select(ZOrderFunctions.zorder2(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(got == rows.map { case (a, b) => ZOrder2.interleave(a, b) })
  }

  test("key order is locality-preserving: nearby boxes give contiguous key ranges") {
    // all 16 points of a 4x4 grid, sorted by z-key, must enumerate the
    // classic Morton curve: each quadrant's 4 points are contiguous
    val keys = for (a <- 0 to 3; b <- 0 to 3)
      yield ((a, b), ZOrder2.interleave(a.toLong, b.toLong))
    val sorted = keys.sortBy(_._2).map(_._1)
    val quadrant = sorted.grouped(4).toSeq.map(_.map { case (a, b) => (a / 2, b / 2) }.distinct)
    assert(quadrant.forall(_.size == 1), s"quadrants interleaved: $sorted")
  }
}
