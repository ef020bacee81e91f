package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import graft.mr.{KV, MRApp, MRApps}

/** Port of the reference's sequential oracle
  * (`example/mrsequential/mrsequential.go:62-87`), the one expected value
  * of the MapReduce specs: map every file, sort the intermediate pairs,
  * reduce each run of equal keys, and render `"key value"` lines (`:84`).
  * The sort is by (key, value) in code-point order, the order `MRApp`
  * promises, so an app whose reduce reads its values in order has one
  * answer.
  */
object MrSequential {

  private val byKeyValue: Ordering[KV] =
    Ordering.by((kv: KV) => (kv.key, kv.value))(
      Ordering.Tuple2(MRApps.codePointOrder, MRApps.codePointOrder))

  /** `app` over `(filename, contents)` docs: its output lines, sorted. */
  def apply(app: MRApp, docs: Seq[(String, String)]): Seq[String] = {
    val inter = docs.flatMap { case (f, c) => app.map(f, c) }.sorted(byKeyValue).toVector
    val out   = Vector.newBuilder[String]
    var i     = 0
    while (i < inter.size) {
      var j = i
      while (j < inter.size && inter(j).key == inter(i).key) j += 1
      val key = inter(i).key
      app.reduce(key, inter.slice(i, j).map(_.value)).foreach(v => out += s"$key $v")
      i = j
    }
    out.result().sorted
  }

  /** The lines of every `part-*` file under `dir`, sorted — `play.sh`'s
    * `sort mr-out*`. Only `\n` ends a line, as in the writer, and a
    * written line always holds its separator, so no real line is empty.
    */
  def outputLines(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .flatMap(f => new String(Files.readAllBytes(f.toPath), UTF_8).split('\n'))
      .filter(_.nonEmpty)
      .sorted
}
