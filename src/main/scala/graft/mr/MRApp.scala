package graft.mr

/** The reference's one record type: untyped string key/value pairs
  * (`pkg/mr/mr.go:91-94`).
  */
case class KV(key: String, value: String)

/** Unified MapReduce app surface. The reference has two incompatible UDF
  * ABIs — the distributed one (`pkg/mr/mr.go:96-98`: `MapFunc(filename,
  * contents) []KeyValue`, `ReduceFunc(valueIter) Iterator`) and the 6.824
  * oracle one (`example/mrapps/indexer/indexer.go:22,38`: `Map(string,
  * string) []KeyValue`, `Reduce(string, []string) string`) — loaded from Go
  * plugin `.so`s (`internal/worker/worker.go:31-59`). Scala closures
  * serialize to executors for free, so the plugin loader collapses to a
  * registry of `MRApp` instances ([[MRApps]]).
  *
  * Engine contract (SURVEY.md §7.1): `reduce` sees a key's values, each
  * as often as `map` emitted it, in ascending Unicode code-point order
  * ([[MRApps.codePointOrder]]; UTF-8 byte order, Go's `sort.Strings`) —
  * not Java's UTF-16 `String` order. It is the deterministic
  * strengthening of the reference's map-side sort
  * (`internal/worker/worker.go:209-211`).
  */
trait MRApp extends Serializable {
  def name: String
  def map(filename: String, contents: String): Seq[KV]
  def reduce(key: String, values: Seq[String]): Seq[String]

  /** The form the engine calls ([[MapReduceJob.run]]) — mirrors the
    * reference's `ReduceFunc(valueIter Iterator) (Iterator, error)`
    * (`pkg/mr/mr.go:98`). Default materializes; apps whose aggregation is
    * incremental (e.g. counting) override for constant-memory groups.
    */
  def reduceStream(key: String, values: Iterator[String]): Iterator[String] =
    reduce(key, values.toVector).iterator
}
