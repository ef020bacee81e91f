package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.{Ckpt, SparkEntry, SparkTestBase, Tables}

/** The memoized pipelines have one assembly: a catalog entry and its
  * keyless library form build the same stages ([[graft.Ckpt.Stages]])
  * and differ only in whether a stage is memoized. The catalog result is
  * the oracle-checked one, so the library form must return its rows,
  * and must leave nothing in the session memo.
  */
class MemoPathsSpec extends AnyFunSuite with SparkTestBase {

  /** Catalog query → the keyless form's input and the form itself. The
    * input may read memoized frames (the graph pair lists do); only the
    * form is held to leaving no memo trace.
    */
  private def keyless: Seq[(String, () => DataFrame, DataFrame => DataFrame)] = {
    val docs      = () => Tables.documents(spark, Sf0001)
    val nearDup   = () => Dedup.minhashShared(spark, Sf0001).select(col("da"), col("db"))
    val coPurch   = () => Graph.coPurchaseEdges(spark, Sf0001)
    def brandSeeds = Tables.part(spark, Sf0001)
      .filter(col("p_brand") === Graph.BfsSeedBrand).select(col("p_partkey"))
    Seq(
      ("dedup_ngram",              docs, Dedup.ngramOf _),
      ("dedup_containment",        docs, Dedup.containmentOf _),
      ("dedup_containment_capped", docs, Dedup.containmentCappedOf _),
      ("dedup_fuzzy",              docs, Dedup.fuzzyOf _),
      ("dedup_fuzzy_capped",       docs, Dedup.fuzzyCappedOf _),
      ("text_bigram_kn",           docs, TextAnalysis.bigramKnOf _),
      ("text_collocation_llr",     docs, TextAnalysis.llrTopOf _),
      ("source_overlap_kmv", () => Curation.withToks(spark, Sf0001), Curation.kmvOverlapOf _),
      ("graph_pagerank",    nearDup, (in: DataFrame) => Graph.pagerank(in)),
      ("graph_ppr",         nearDup, (in: DataFrame) => Graph.ppr(in)),
      ("graph_communities", coPurch, Graph.communities _),
      ("graph_modularity",  coPurch, Graph.modularity _),
      ("graph_kcore",       coPurch, (in: DataFrame) => Graph.kcore(in)),
      ("graph_bfs",         coPurch, (in: DataFrame) => Graph.bfs(in, brandSeeds)))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("each keyless form returns the catalog entry's rows") {
    for ((q, in, of) <- keyless) {
      val want = rows(SparkEntry.queries(q)(spark, Sf0001))
      assert(want.nonEmpty, s"$q: the catalog entry returns no rows to compare")
      assert(rows(of(in())) == want, s"$q: the keyless form disagrees with the catalog entry")
    }
  }

  test("a keyless call adds no build-log row and no memo entry") {
    for ((q, in, of) <- keyless) {
      val input = in()
      val (log, entries) = (Ckpt.buildLog.size, Ckpt.entries)
      of(input).collect()
      assert(Ckpt.buildLog.size == log, s"$q: keyless call logged a memo build")
      assert(Ckpt.entries == entries, s"$q: keyless call left a memo entry")
    }
  }
}
