package graft.mr

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The generic MapReduce engine: the reference's whole physical pipeline
  * (F1-F8 in SURVEY.md §2.1) on Spark's SQL engine.
  *
  *   map (flatMap, F3) → shuffle on key (F5) → per-key sorted reduce (F4+F6+F7)
  *
  * One execution path: the map output is combined per map task (duplicate
  * (key, value) pairs become one row with a count), shuffled on key and
  * sorted on (key, value) inside the SQL engine, then reduced by a
  * streaming adjacent-group scan — the reference's `KVIterator` protocol
  * (`pkg/mr/mr.go:38-89`) without materializing a group
  * ([[graft.plans.SortedGroupReduce]]). Right at any size: the combine and
  * the sort spill, and a hot key never sits on the heap. `MRRunner` and
  * the catalog's `mr_*` queries run it.
  *
  * `reduce` sees a key's values in code-point order
  * ([[MRApps.codePointOrder]]). The map→reduce barrier, task retry, and
  * speculative execution are Spark's DAG scheduler — the reference's
  * coordinator (`internal/coordinator/coordinator.go`) has no analogue
  * here by design.
  */
object MapReduceJob {

  /** Map, then the combine, shuffle, sort and streaming reduce of
    * [[graft.plans.SortedGroupReduce]], all visible to `.explain` and SQL
    * metrics. `numPartitions` pins the reduce-side partition count
    * (`nreduce`); without it AQE sizes the reduce side.
    */
  def run(
      spark: SparkSession,
      docs: DataFrame,
      app: MRApp,
      numPartitions: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val kvs = docs
      .as[(String, String)]
      .flatMap { case (f, c) => app.map(f, c) }
      .toDF("key", "value")
    graft.plans.SortedGroupReduce.reduce(kvs, app, numPartitions)
  }
}
