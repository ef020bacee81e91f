package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.{Ckpt, SparkEntry, SparkTestBase, Tables}

/** The memoized text pipelines have one assembly: a catalog entry and
  * its keyless library form build the same stages
  * ([[graft.Ckpt.Stages]]) and differ only in whether a stage is
  * memoized. The catalog result is the oracle-checked one, so the
  * library form must return its rows, and must leave nothing in the
  * session memo.
  */
class MemoPathsSpec extends AnyFunSuite with SparkTestBase {

  /** Catalog query → its keyless form over the same input. */
  private def keyless: Seq[(String, () => DataFrame)] = {
    def docs = Tables.documents(spark, Sf0001)
    Seq(
      "dedup_ngram"              -> (() => Dedup.ngramOf(docs)),
      "dedup_containment"        -> (() => Dedup.containmentOf(docs)),
      "dedup_containment_capped" -> (() => Dedup.containmentCappedOf(docs)),
      "dedup_fuzzy"              -> (() => Dedup.fuzzyOf(docs)),
      "dedup_fuzzy_capped"       -> (() => Dedup.fuzzyCappedOf(docs)),
      "text_bigram_kn"           -> (() => TextAnalysis.bigramKnOf(docs)),
      "text_collocation_llr"     -> (() => TextAnalysis.llrTopOf(docs)),
      "source_overlap_kmv"       -> (() => Curation.kmvOverlapOf(Curation.withToks(spark, Sf0001))))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("each keyless form returns the catalog entry's rows") {
    for ((q, of) <- keyless) {
      val want = rows(SparkEntry.queries(q)(spark, Sf0001))
      assert(want.nonEmpty, s"$q: the catalog entry returns no rows to compare")
      assert(rows(of()) == want, s"$q: the keyless form disagrees with the catalog entry")
    }
  }

  test("a keyless call adds no build-log row and no memo entry") {
    val (log, entries) = (Ckpt.buildLog.size, Ckpt.entries)
    for ((q, of) <- keyless) {
      of().collect()
      assert(Ckpt.buildLog.size == log, s"$q: keyless call logged a memo build")
      assert(Ckpt.entries == entries, s"$q: keyless call left a memo entry")
    }
  }
}
