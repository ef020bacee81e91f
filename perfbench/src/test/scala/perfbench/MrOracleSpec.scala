package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.mr.{MRApp, MRApps}

/** Checks the benchmark's MapReduce oracle, which checks `mr-corpus`:
  * on a small fixed corpus it must render exactly what the program's app
  * definitions (map, per-key sorted reduce) produce, and the known lines.
  */
class MrOracleSpec extends AnyFunSuite {
  private val corpus = Seq(
    "in/a.txt" -> "the cat, the hat.\nThe end",
    "in/b.txt" -> "hat-trick: the cat's hat (x2) naïve Straße",
    "in/c.txt" -> "",
    "in/d.txt" -> "  42 ... \n\t !!")

  /** The app's own map and reduce, run sequentially. */
  private def viaApp(app: MRApp): Vector[String] =
    corpus.flatMap { case (f, c) => app.map(f, c) }
      .groupBy(_.key).toVector.sortBy(_._1)
      .flatMap { case (k, kvs) => app.reduce(k, kvs.map(_.value).sorted).map(v => s"$k $v") }

  test("tokenizer splits on non-letter runs and keeps non-ASCII letters") {
    assert(MrOracle.words("hat-trick: cat's (x2) naïve\tStraße") ==
      Seq("hat", "trick", "cat", "s", "x", "naïve", "Straße"))
    assert(MrOracle.words("  42 ... ").isEmpty)
  }

  test("word count matches MRApps.WordCount") {
    val lines = MrOracle.run("wc", corpus)
    assert(lines == viaApp(MRApps.WordCount))
    assert(lines.take(4) == Vector("Straße 1", "The 1", "cat 2", "end 1"))
    assert(lines.contains("the 3") && lines.contains("hat 3"))
  }

  test("inverted index matches MRApps.Indexer") {
    val lines = MrOracle.run("indexer", corpus)
    assert(lines == viaApp(MRApps.Indexer))
    assert(lines.contains("hat 2 in/a.txt,in/b.txt"))
    assert(lines.contains("end 1 in/a.txt"))
  }

  test("a changed count or document list is caught") {
    assert(MrOracle.run("wc", corpus.take(1)) != MrOracle.run("wc", corpus))
    assert(MrOracle.run("indexer", corpus.reverse) == MrOracle.run("indexer", corpus))
  }
}
