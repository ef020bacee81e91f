package graft.mr

/** The reference's example apps re-expressed against the unified trait,
  * plus the registry that replaces Go plugin loading
  * (`internal/worker/worker.go:31-59` → a Map).
  */
object MRApps {

  /** Runs of letter code points — Go
    * `strings.FieldsFunc(contents, !unicode.IsLetter)`
    * (`example/mrapps/wc/wc.go:26-29`) — in one scan. A letter is
    * `Character.isLetter` of a code point (categories Lu, Ll, Lt, Lm, Lo:
    * the same set as the regex `\p{L}`), so a surrogate pair is one
    * character, and an unpaired surrogate splits like any non-letter.
    */
  private[graft] def tokenize(contents: String): Seq[String] = {
    val out   = Vector.newBuilder[String]
    var start = -1
    var i     = 0
    while (i < contents.length) {
      val cp = contents.codePointAt(i)
      if (Character.isLetter(cp)) { if (start < 0) start = i }
      else if (start >= 0) { out += contents.substring(start, i); start = -1 }
      i += Character.charCount(cp)
    }
    if (start >= 0) out += contents.substring(start)
    out.result()
  }

  /** Unicode code-point order: the engine's value order (UTF-8 byte order
    * in the SQL sort), Go's `sort.Strings` in the reference and DuckDB's
    * `list_sort` in the catalog oracles. `String`'s own ordering compares
    * UTF-16 units and puts a supplementary-plane character (a surrogate
    * pair, 0xD800-0xDFFF) before BMP characters from U+E000 up.
    */
  val codePointOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val ca = a.codePointAt(i)
        val cb = b.codePointAt(i)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca)
      }
      Integer.compare(a.length - i, b.length - i)
    }
  }

  /** Word count (`example/mrapps/wc/wc.go:24-55`): emit (word, "1"),
    * reduce counts occurrences. Streaming reduce counts incrementally —
    * constant memory however hot the key.
    */
  object WordCount extends MRApp {
    val name = "wc"
    def map(filename: String, contents: String): Seq[KV] =
      tokenize(contents).map(w => KV(w, "1"))
    def reduce(key: String, values: Seq[String]): Seq[String] =
      Seq(values.size.toString)
    override def reduceStream(key: String, values: Iterator[String]): Iterator[String] = {
      var n = 0L
      while (values.hasNext) { values.next(); n += 1 }
      Iterator.single(n.toString)
    }
  }

  /** Inverted index (`example/mrapps/indexer/indexer.go:22-41`): per-doc
    * distinct words → per word "<count> <doc1,doc2,...>" with docs sorted.
    */
  object Indexer extends MRApp {
    val name = "indexer"
    def map(filename: String, contents: String): Seq[KV] =
      tokenize(contents).distinct.map(w => KV(w, filename))
    def reduce(key: String, values: Seq[String]): Seq[String] = {
      val docs = values.distinct.sorted(codePointOrder)
      Seq(s"${docs.size} ${docs.mkString(",")}")
    }

    /** Values arrive in ascending order (the [[MRApp]] contract), so
      * distinct is adjacent dedup — one pass, no group materialization
      * even for a stopword's doc list (only the deduped output string is
      * buffered, which the output format requires).
      */
    override def reduceStream(key: String, values: Iterator[String]): Iterator[String] = {
      val docs           = new StringBuilder
      var n              = 0
      var prev: String   = null
      while (values.hasNext) {
        val v = values.next()
        if (v != prev) {
          n += 1
          if (n > 1) docs.append(',')
          docs.append(v)
          prev = v
        }
      }
      Iterator.single(s"$n ${docs.toString}")
    }
  }

  /** Metadata extraction (`example/mrapps/nocrash/nocrash.go:29-38`): per
    * file — name length, content length, constant tag; reduce sorts and
    * joins the group's values (`nocrash.go:40-50`).
    */
  object Metadata extends MRApp {
    val name = "metadata"
    def map(filename: String, contents: String): Seq[KV] =
      // codePointCount, not .length: the oracle's length() counts code
      // points, while String.length counts UTF-16 units (differs for
      // supplementary-plane characters)
      Seq(
        KV(filename, filename.codePointCount(0, filename.length).toString),
        KV(filename, contents.codePointCount(0, contents.length).toString),
        KV(filename, "xyzzy"))
    def reduce(key: String, values: Seq[String]): Seq[String] =
      Seq(values.sorted(codePointOrder).mkString(" "))
  }

  /** Count per file key (`example/mrapps/early_exit/early_exit.go:32-40`). */
  object FileCount extends MRApp {
    val name = "filecount"
    def map(filename: String, contents: String): Seq[KV] =
      Seq(KV(filename, "1"))
    def reduce(key: String, values: Seq[String]): Seq[String] =
      Seq(values.size.toString)
  }

  /** Constant-key fan-in (`example/mrapps/jobcount/jobcount.go:25-35`,
    * `rtiming.go:65-79`): the deliberate skew pattern.
    */
  object ConstKey extends MRApp {
    val name = "constkey"
    def map(filename: String, contents: String): Seq[KV] =
      Seq(KV("all", filename))
    def reduce(key: String, values: Seq[String]): Seq[String] =
      Seq(values.size.toString)
  }

  /** The plugin registry (F12 analogue). */
  val all: Map[String, MRApp] =
    Seq(WordCount, Indexer, Metadata, FileCount, ConstKey)
      .map(a => a.name -> a)
      .toMap
}
