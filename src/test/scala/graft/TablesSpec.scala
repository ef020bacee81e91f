package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scan layer: every driver table loads with its documented schema
  * (FIXTURES.md §2), and the events nanosecond normalization yields
  * microsecond-exact timestamps.
  */
class TablesSpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.functions._

  test("all ten tables load with their documented columns") {
    val expected = Map(
      "region"     -> Seq("r_regionkey", "r_name"),
      "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part"       -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
      "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    expected.foreach { case (name, cols) =>
      val df = Tables(spark, Sf0001, name)
      assert(df.columns.toSeq == cols, s"$name schema drifted")
      assert(df.count() > 0, s"$name is empty")
    }
  }

  test("events ts is TimestampType with sub-millisecond precision intact") {
    val ev = Tables.events(spark, Sf0001)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    // micros must not all be millisecond-aligned — sub-ms precision survives
    val subMs = ev.select(count(when(unix_micros(col("ts")) % 1000 =!= 0, 1)).as("n"))
      .head().getLong(0)
    assert(subMs > 0, "all timestamps ms-aligned: nanosecond normalization lost precision")
  }

  test("relations are cached per session, never shared across sessions") {
    val shared = Tables(spark, Sf0001, "region")
    val other  = spark.newSession()
    val rel    = Tables(other, Sf0001, "region")
    assert(rel.sparkSession eq other)
    assert(!(rel eq shared), "the shared session's relation was reused for a new session")
    assert(Tables(other, Sf0001, "region") eq rel, "a session's relation is not memoized")
  }
}
