package graft.mr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.sources.MrSequential

/** The generic MR engine's one path, AQE-sized and on a pinned
  * reduce-partition count, against the sequential oracle
  * ([[graft.sources.MrSequential]], the port of
  * `example/mrsequential/mrsequential.go:62-87`) — the reference's own
  * verification trick.
  */
class MapReduceJobSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import MapReduceJobSpec.{Concat, Echo}

  // doc-😀 (U+1F600, a UTF-16 surrogate pair) sorts before doc-Ａ
  // (U+FF21) in String order but after it in code-point order; both
  // contain "cat", so the indexer's doc list for "cat" tells the orders apart
  private val docs = Seq(
    "doc-a" -> "the cat sat on the mat",
    "doc-b" -> "the dog, the dog! barked 42 times",
    "doc-c" -> "cat dog cat — encore",
    "doc-d" -> "",
    "doc-😀" -> "cat naps",
    "doc-Ａ" -> "a cat")

  private def lines(out: DataFrame): Seq[String] =
    out.as[(String, String)].collect().map { case (k, v) => s"$k $v" }.toSeq.sorted

  /** The one path over `df`: AQE-sized, and on 3 pinned reduce partitions. */
  private def runAll(df: DataFrame, app: MRApp): Seq[(String, Seq[String])] = Seq(
    "AQE-sized" -> lines(MapReduceJob.run(spark, df, app)),
    "nreduce=3" -> lines(MapReduceJob.run(spark, df, app, Some(3))))

  for (app <- MRApps.all.values) {
    test(s"${app.name}: AQE-sized and nreduce=3 runs match the sequential oracle") {
      val expected = MrSequential(app, docs)
      for ((sizing, got) <- runAll(docs.toDF("filename", "contents"), app))
        assert(got == expected, s"$sizing run diverged for ${app.name}")
    }
  }

  test("values reach reduce in code-point order on every path") {
    assert(MRApps.codePointOrder.lt("doc-Ａ", "doc-😀") && "doc-😀" < "doc-Ａ")
    assert(MRApps.codePointOrder.lt("ab", "abc") && MRApps.codePointOrder.equiv("ab", "ab"))
    for ((sizing, got) <- runAll(docs.toDF("filename", "contents"), MRApps.Indexer))
      assert(got.contains("cat 4 doc-a,doc-c,doc-Ａ,doc-😀"), s"$sizing: $got")
  }

  test("map-side combine keeps every value's multiplicity and order") {
    // (a, x) repeats within p1, across p1/p2 (one map partition) and
    // across map partitions (p3); (b, y) repeats within p3 and across
    // partitions
    val pairs = Seq(
      "p1" -> "a x\na x\na 😀\nb y",
      "p2" -> "a x\na Ａ\nb y",
      "p3" -> "a x\nb y\nb y",
      "p4" -> "c z")
    val df = spark.sparkContext.parallelize(pairs, 2).toDF("filename", "contents")
    assert(MrSequential(Concat, pairs) == Seq("a x,x,x,x,Ａ,😀", "b y,y,y,y", "c z"))
    // Echo also checks a key's several output rows stay distinct rows
    for (app <- Seq(Concat, Echo); (sizing, got) <- runAll(df, app))
      assert(got == MrSequential(app, pairs), s"$sizing run diverged for ${app.name}")

    // the combine really ran: 11 map outputs leave the map side as 7
    // rows, distinct (key, value) pairs per map partition (4 + 3)
    val out = MapReduceJob.run(spark, df, Concat, Some(3))
    out.collect()
    val combines = graft.Smoke.finalPlanNodes(out.queryExecution.executedPlan)
      .collect { case h: HashAggregateExec => h }
    assert(combines.size == 1, out.queryExecution.executedPlan.toString)
    assert(combines.head.metrics("numOutputRows").value == 7)
  }

  test("native secondary-sort plans the shuffle+sort inside the SQL engine") {
    // the point of SortedGroupReduceExec: the strategy plans a partial
    // count aggregate on (key, value) and EnsureRequirements inserts ONE
    // hash Exchange on key above it and a Tungsten SortExec on (key,
    // value) UNDER the custom exec — and no RDD-boundary scan in between
    val df = docs.toDF("filename", "contents")
    for (nreduce <- Seq(None, Some(3))) {
      // string-level audit: AQE's initialPlan (where EnsureRequirements
      // has run) is what toString renders, but isn't reachable via
      // collect() through the AdaptiveSparkPlanExec wrapper
      val plan = MapReduceJob.run(spark, df, MRApps.Indexer, nreduce)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortedGroupReduce"), plan)
      assert("Exchange ".r.findAllIn(plan).size == 1, s"more than one exchange:\n$plan")
      val parts = nreduce.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      assert(s"Exchange hashpartitioning\\(key#\\d+, $parts\\)".r.findFirstIn(plan).nonEmpty,
        s"no SQL Exchange on key into $parts partitions:\n$plan")
      // the combine sits directly under the exchange
      assert(("Exchange hashpartitioning\\(key[^\\n]*\\n\\s*\\+- HashAggregate\\(" +
        "keys=\\[key#\\d+, value#\\d+\\], functions=\\[partial_count\\(1\\)\\]")
        .r.findFirstIn(plan).nonEmpty, s"no partial combine under the exchange:\n$plan")
      assert("Sort \\[key#\\d+ ASC NULLS FIRST, value#\\d+ ASC NULLS FIRST"
        .r.findFirstIn(plan).nonEmpty, s"no (key, value) SortExec:\n$plan")
      // and the reduce must sit DIRECTLY on the sort — no RDD boundary
      assert("SortedGroupReduce [^\\n]*\\n\\s*\\+- Sort "
        .r.findFirstIn(plan).nonEmpty, plan)
    }
    // regression: a column-less consumer must not let ColumnPruning
    // empty the child under the reduce (the node's references declare
    // both columns consumed through the app closure) — count() planned
    // an empty Project below the exec and keyAttr had nothing to bind to
    assert(MapReduceJob.run(spark, df, MRApps.Indexer)
      .count() > 0)
  }

  test("wc over reference Gutenberg input matches oracle") {
    val dir = new java.io.File("/root/reference/example/input")
    assume(dir.isDirectory, "reference inputs not present")
    val files = dir.listFiles().filter(_.getName.endsWith(".txt")).sortBy(_.getName).take(3)
    val gdocs = files.toSeq.map(f =>
      f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    val got = lines(MapReduceJob.run(spark, gdocs.toDF("filename", "contents"), MRApps.WordCount))
    assert(got == MrSequential(MRApps.WordCount, gdocs))
  }

  test("property: wc counts sum to token count (seeded random corpora)") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    for (_ <- 1 to 5) {
      val d = (1 to 4).map(i =>
        s"f$i" -> Seq.fill(rnd.nextInt(50))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val total = d.map(x => MRApps.tokenize(x._2).size).sum
      val counted = MapReduceJob.run(spark, d.toDF("filename", "contents"), MRApps.WordCount)
        .as[(String, String)].collect().map(_._2.toLong).sum
      assert(counted == total)
    }
  }
}

object MapReduceJobSpec {

  /** Each input line is one "key value" pair; reduce joins the values as
    * it receives them, so any change in order or multiplicity changes the
    * output.
    */
  object Concat extends MRApp {
    val name = "concat"
    def map(filename: String, contents: String): Seq[KV] =
      contents.split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val Array(k, v) = line.split(" ", 2)
        KV(k, v)
      }
    def reduce(key: String, values: Seq[String]): Seq[String] = Seq(values.mkString(","))
  }

  /** Concat's map; reduce emits every value as its own output row. */
  object Echo extends MRApp {
    val name = "echo"
    def map(filename: String, contents: String): Seq[KV] = Concat.map(filename, contents)
    def reduce(key: String, values: Seq[String]): Seq[String] = values
  }
}
