package perfbench

import scala.collection.mutable

/** Sequential MapReduce oracle, the analogue of the reference's
  * `mrsequential`: read every input file, map, group and sort by key,
  * reduce each key's sorted values, and render `"<key> <value>"` lines.
  *
  * It is written independently of `graft.mr.MRApps` (its own tokenizer
  * included), so the output check does not share code with the program it
  * checks. `MrOracleSpec` pins it to the MRApps semantics on a small fixed
  * corpus.
  */
object MrOracle {
  val Apps = Seq("wc", "indexer")

  /** Runs of letter code points, as Go's
    * `strings.FieldsFunc(s, func(r) bool { return !unicode.IsLetter(r) })`.
    */
  def words(s: String): Seq[String] = {
    val out   = mutable.ArrayBuffer[String]()
    var start = -1
    var i     = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp)) { if (start < 0) start = i }
      else if (start >= 0) { out += s.substring(start, i); start = -1 }
      i += Character.charCount(cp)
    }
    if (start >= 0) out += s.substring(start)
    out.toSeq
  }

  def map(app: String, file: String, contents: String): Seq[(String, String)] = app match {
    case "wc"      => words(contents).map(_ -> "1")
    case "indexer" => words(contents).distinct.map(_ -> file)
  }

  def reduce(app: String, values: Seq[String]): String = app match {
    case "wc"      => values.size.toString
    case "indexer" =>
      val docs = values.distinct.sorted
      s"${docs.size} ${docs.mkString(",")}"
  }

  /** Output lines of `app` over `files` (name -> contents), in key order.
    * Keys are letter runs, so key order is also the lines' sorted order.
    */
  def run(app: String, files: Seq[(String, String)]): Vector[String] = {
    val groups = mutable.HashMap[String, mutable.ArrayBuffer[String]]()
    for ((f, c) <- files; (k, v) <- map(app, f, c))
      groups.getOrElseUpdate(k, mutable.ArrayBuffer[String]()) += v
    groups.keys.toVector.sorted
      .map(k => s"$k ${reduce(app, groups(k).sorted.toSeq)}")
  }
}
