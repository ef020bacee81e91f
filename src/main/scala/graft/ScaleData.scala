package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic sf1 builder: replicates every driver table from sf0.1 by
  * `Reps`× into a local directory with the SAME layout, preserving
  * referential integrity — replica r of a fact row points at replica r of
  * its dimension rows (every foreign key is offset by the same per-table
  * stride), so join cardinalities scale exactly linearly and selectivities
  * (date ranges, status mixes, price distributions) are untouched.
  *
  *  - region/nation copy verbatim (fixed at every SF, as in TPC-H).
  *  - customer/supplier/part/orders/lineitem/events offset their keys by
  *    `r × (max(key)+1)`; all measure/date/category columns replicate
  *    unchanged.
  *  - documents are NOT naive copies (10 exact copies of every doc would
  *    make the corpus one duplicate cluster and measure the pathological
  *    dedup regime): replica r of doc i splices the first half of doc i's
  *    tokens with the second half of doc (i + 131·r mod n).
  *  - embeddings get a deterministic per-replica perturbation for the
  *    same reason.
  *
  * Used by [[ScaleSweep]] (full catalog at sf1).
  */
object ScaleData {

  /** Replicate `df` `reps`× with each listed key column offset by
    * `r × stride` per replica. Strides come from the REFERENCED table's
    * key space (max+1 over the primary table), so a replica-r foreign key
    * points at exactly the replica-r copy of its dimension row — join
    * fan-outs scale linearly, never across replicas. The replica table is
    * broadcast — the only shuffle is the final write repartition.
    */
  private def replicate(df: DataFrame, reps: Int, strides: Map[String, Long]): DataFrame = {
    val r = df.sparkSession.range(0, reps).select(col("id").as("__r"))
    df.crossJoin(broadcast(r))
      .select(df.columns.toSeq.map { c =>
        strides.get(c) match {
          case Some(stride) => (col(c) + col("__r") * stride).as(c)
          case None         => col(c)
        }
      }: _*)
  }

  /** `max(key) + 1` over the primary table — the key-space stride every
    * referencing table shares.
    */
  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).collect()(0).getLong(0) + 1L

  /** Spliced-replica documents table. */
  private def buildDocs(s: SparkSession, src: String, out: String, reps: Int): Unit = {
    val d = Tables.documents(s, src)
    val n = d.count()
    val halves = d
      .select(col("doc_id"), col("lang"), col("source"),
        filter(graft.text.Tokenize.tokenCol(col("text")), _ =!= "").as("tk"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("array_join(slice(tk, 1, int(size(tk) / 2)), ' ')").as("h1"),
        expr("array_join(slice(tk, int(size(tk) / 2) + 1, size(tk)), ' ')").as("h2"))
    val repsDf = s.range(1, reps).select(col("id").as("r"))
    val mixed = halves.as("a")
      .crossJoin(repsDf)
      .join(halves.as("b"), expr(s"b.doc_id = (a.doc_id + r * 131) % $n"))
      .select(
        (col("a.doc_id") + col("r") * n).as("doc_id"),
        concat(col("a.h1"), lit(" "), col("b.h2")).as("text"),
        col("a.lang").as("lang"),
        col("a.source").as("source"))
    d.select("doc_id", "text", "lang", "source")
      .unionByName(mixed)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** Perturbed-replica embeddings table. */
  private def buildEmbeddings(s: SparkSession, src: String, out: String, reps: Int): Unit = {
    val e = s.read.parquet(s"$src/embeddings.parquet")
    val n = e.count()
    val repsDf = s.range(1, reps).select(col("id").as("r"))
    val mixed = e
      .crossJoin(repsDf)
      .select(
        (col("vec_id") + col("r") * n).as("vec_id"),
        expr("transform(embedding, (x, i) -> float(x + 0.0001 * r * ((i % 7) - 3)))")
          .as("embedding"),
        col("label"))
    e.select("vec_id", "embedding", "label")
      .unionByName(mixed)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Build the full scaled directory (all ten tables). Idempotent per
    * table: skips any `<out>/<table>.parquet` that already exists.
    */
  def buildAll(s: SparkSession, src: String, out: String, reps: Int = 10): Unit = {
    def missing(t: String) = !new java.io.File(s"$out/$t.parquet").exists()
    def write(t: String)(df: => DataFrame): Unit =
      if (missing(t)) {
        df.repartition(32).write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"[scale] built $t")
      }
    // fixed dimensions: verbatim copy (keep the tiny row counts — at any
    // TPC-H SF there are 5 regions / 25 nations)
    write("region")(Tables.region(s, src).coalesce(1))
    write("nation")(Tables.nation(s, src).coalesce(1))
    // one stride per primary key, shared by every referencing table
    lazy val custS  = stride(Tables.customer(s, src), "c_custkey")
    lazy val suppS  = stride(Tables.supplier(s, src), "s_suppkey")
    lazy val partS  = stride(Tables.part(s, src), "p_partkey")
    lazy val orderS = stride(Tables.orders(s, src), "o_orderkey")
    write("customer")(replicate(Tables.customer(s, src), reps, Map("c_custkey" -> custS)))
    write("supplier")(replicate(Tables.supplier(s, src), reps, Map("s_suppkey" -> suppS)))
    write("part")(replicate(Tables.part(s, src), reps, Map("p_partkey" -> partS)))
    write("orders")(replicate(Tables.orders(s, src), reps,
      Map("o_orderkey" -> orderS, "o_custkey" -> custS)))
    write("lineitem")(replicate(Tables.lineitem(s, src), reps,
      Map("l_orderkey" -> orderS, "l_partkey" -> partS, "l_suppkey" -> suppS)))
    // events.user_id is drawn from the CUSTOMER key space (the streaming
    // enrichment joins user_id = c_custkey), so it replicates with the
    // customer stride — replica-r events point at replica-r customers,
    // like every other foreign key here (ScaleDataSpec pins zero orphans)
    write("events")(replicate(Tables.events(s, src), reps,
      Map("event_id" -> stride(Tables.events(s, src), "event_id"),
          "user_id"  -> custS)))
    if (missing("documents")) { buildDocs(s, src, out, reps); println("[scale] built documents") }
    if (missing("embeddings")) { buildEmbeddings(s, src, out, reps); println("[scale] built embeddings") }
  }
}
