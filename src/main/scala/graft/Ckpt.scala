package graft

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of what a session materializes and remembers, in one
  * lifecycle:
  *
  *  - materialize ([[apply]], [[ensure]], [[scoped]]): truncate lineage
  *    with `localCheckpoint(eager = true)` — blocks on executors only,
  *    lost with an executor — or, under
  *    `spark.graft.checkpoint.reliable=true`, `checkpoint()` under the
  *    SparkContext checkpoint dir (a temp dir if none is set). Both are a
  *    LogicalRDD scan, so plans downstream do not change.
  *  - memoize ([[cached]], [[cachedPair]], [[cachedValue]]): one map
  *    keyed by (applicationId, `<family>:<what>:<dir>`) holds every
  *    per-session build: checkpointed frames, and values that hold no
  *    blocks (row counts, the storage twins' tag). Each build gets one
  *    [[buildLog]] row with its self time.
  *  - free ([[free]]): drop a dead checkpoint's blocks straight through
  *    the block manager, without `RDD.unpersist`'s WARN for a locally
  *    checkpointed RDD; reliable checkpoints hold no blocks.
  *  - release ([[release]]): drop every memo of a data dir.
  *  - evict: before a new frame build, drop least-recently-used frame
  *    entries while storage use is above [[EvictFractionKey]]. Value
  *    entries hold no blocks and are never victims.
  */
object Ckpt {
  /** Session conf key: "true" → reliable `checkpoint()` instead of
    * `localCheckpoint()`.
    */
  val ReliableKey = "spark.graft.checkpoint.reliable"

  /** Session conf key: block-manager storage-used fraction above which
    * a NEW cached build first evicts least-recently-used standing
    * entries ([[maybeEvict]]). Default [[DefaultEvictFraction]].
    */
  val EvictFractionKey = "spark.graft.cached.evictFraction"
  val DefaultEvictFraction = 0.75

  /** Entries inside this most-recently-touched window are never evicted:
    * a build thunk composes the memoized frames it just looked up (the
    * deepest catalog build touches ~5 entries), and evicting one of
    * those mid-construction would hand the in-flight plan a scan over
    * freed blocks. The window is comfortably above the deepest
    * composition depth in the catalog.
    */
  private val ProtectMru = 12

  /** A memoized build: its value and the checkpointed frames that hold
    * its blocks (none for a value entry).
    */
  private final class Entry(
      val value: Any, val frames: Seq[DataFrame], val userKey: String, var tick: Long)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Entry]()
  private var ticks = 0L
  private val log = scala.collection.mutable.ArrayBuffer[(String, Double)]()
  /** Wall seconds of the builds nested inside the build in progress. */
  private var nestedS = 0.0

  /** Per-application MEMOIZED checkpoint. A checkpoint scanned by the
    * RETURNED frame can never be freed inside the query, so a catalog
    * entry that checkpointed per invocation leaked one generation of
    * blocks per call; keyed by (applicationId, key), every re-invocation
    * reuses the first call's blocks, and a fresh session never scans a
    * dead application's. Entries are rebuildable from their thunk, so
    * [[release]] and eviction may drop them: consumers must never hold a
    * returned frame across other queries' builds, and catalog functions
    * re-resolve through `cached` on every invocation.
    */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo(s, key, blocks = true)(materialize(build))(Seq(_))

  /** [[cached]] for a build that materializes two frames itself (the BPE
    * fit's merge table and final segmentation); both are freed together.
    */
  def cachedPair(s: SparkSession, key: String)(
      build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) =
    memo(s, key, blocks = true)(build)(p => Seq(p._1, p._2))

  /** A memoized value that holds no blocks — a row count, a table tag.
    * Logged and released like a frame entry, never evicted. Its key
    * ignores the checkpoint substrate: a count is the same on either.
    */
  def cachedValue[A](s: SparkSession, key: String)(build: => A): A =
    memo(s, key, blocks = false)(build)(_ => Nil)

  /** The one memo path: a synchronized get/put, NOT `computeIfAbsent`.
    * Builds nest (the graph `lpa` stage builds the memoized `adj`
    * stage), and a nested `computeIfAbsent` on one map throws
    * whenever the two keys share a bin; a monitor is reentrant. The lock
    * is coarse, but builds are rare and the catalog mains single-threaded.
    */
  private def memo[A](s: SparkSession, key: String, blocks: Boolean)(build: => A)(
      frames: A => Seq[DataFrame]): A = cache.synchronized {
    // the storage substrate is part of a frame entry's identity: a
    // session that flips to reliable mode must NOT be handed blocks that
    // a local-mode build materialized (they don't survive executor loss
    // — the exact guarantee the flip buys)
    val k = (s.sparkContext.applicationId
      + (if (blocks && confFlag(s, ReliableKey)) "#reliable" else ""), key)
    Option(cache.get(k)) match {
      case Some(e) =>
        ticks += 1; e.tick = ticks
        e.value.asInstanceOf[A]
      case None =>
        if (blocks) maybeEvict(s)
        // a build thunk may miss other entries: log this build's SELF
        // time, so that summing the log counts each nested build once
        val outerNestedS = nestedS
        nestedS = 0.0
        val t0 = System.nanoTime()
        def wallS = (System.nanoTime() - t0) / 1e9
        try {
          val v = build
          log += ((key, wallS - nestedS))
          ticks += 1
          cache.put(k, new Entry(v, frames(v), key, ticks))
          v
        } finally nestedS = outerNestedS + wallS
    }
  }

  private def confFlag(s: SparkSession, key: String) =
    s.conf.getOption(key).exists(_.equalsIgnoreCase("true"))

  /** Drop and free every memoized entry whose user key contains
    * `substr`: keys embed their data dir, so `release(dir)` drops one
    * scale factor's entries ([[ScaleSweep]] does between its phases) and
    * `release("")` drops all. Returns the number dropped; each next use
    * rebuilds bit-equal from its thunk.
    */
  def release(substr: String): Int = cache.synchronized {
    import scala.jdk.CollectionConverters._
    val victims = cache.entrySet().asScala.toList
      .filter(_.getValue.userKey.contains(substr))
    victims.foreach(e => drop(e.getKey, e.getValue))
    victims.size
  }

  /** (user key, build self seconds) of every memoized build, in build
    * order, one row per BUILD (a rebuild after release or eviction adds
    * one). Self seconds exclude nested builds, which have rows of their
    * own, so the log sums to the time spent building ([[Bench]]'s
    * `cache_builds` line).
    */
  def buildLog: Seq[(String, Double)] = cache.synchronized(log.toList)

  /** Fraction of block-manager storage currently used across executors. */
  private def storageUsedFraction(s: SparkSession): Double = {
    val st  = s.sparkContext.getExecutorMemoryStatus.values
    val max = st.iterator.map(_._1).sum
    if (max <= 0L) 0.0
    else 1.0 - st.iterator.map(_._2).sum.toDouble / max
  }

  /** Before a NEW frame build: while storage use exceeds the configured
    * fraction, drop least-recently-used frame entries outside the
    * [[ProtectMru]] window. An evicted entry's next consumer misses and
    * rebuilds; only a frame held ACROSS other builds could see freed
    * blocks, and the window covers every composition in the catalog.
    */
  private def maybeEvict(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val threshold = s.conf.getOption(EvictFractionKey)
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .getOrElse(DefaultEvictFraction)
    if (storageUsedFraction(s) <= threshold) return
    val lru = cache.entrySet().asScala.toList
      .filter(_.getValue.frames.nonEmpty).sortBy(_.getValue.tick)
    val evictable = lru.dropRight(math.min(ProtectMru, lru.size))
    for (e <- evictable if storageUsedFraction(s) > threshold) {
      System.err.println(
        f"[ckpt] storage ${storageUsedFraction(s) * 100}%.0f%% > ${threshold * 100}%.0f%% — evicting LRU entry ${e.getValue.userKey}")
      drop(e.getKey, e.getValue)
    }
  }

  private def drop(k: (String, String), e: Entry): Unit = {
    cache.remove(k)
    for (f <- e.frames)
      try free(f, blocking = true)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Free the blocks of every checkpoint scan in `df`'s plan — only a
    * checkpoint the caller made, never a SHARED memoized scan
    * ([[scoped]] makes that choice). Mid-loop frees do not block;
    * [[release]] and eviction do.
    */
  def free(df: DataFrame, blocking: Boolean = false): Unit =
    for (r <- df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd })
      GraftSqlShims.unpersistRdd(r, blocking)

  /** Run `body` over `df` materialized ([[ensure]]), then free the
    * checkpoint if this call made it — never a caller's or a memo's
    * scan. For inputs read more than once while building one
    * materialized result.
    */
  def scoped[A](df: DataFrame)(body: DataFrame => A): A = {
    val in = ensure(df)
    try body(in) finally if (in ne df) free(in)
  }

  def apply(df: DataFrame): DataFrame = materialize(df)

  /** True when the frame is already just a rename/reorder projection
    * over a checkpoint scan — re-materializing such a frame copies every
    * block for nothing (and, on catalog paths, leaks a per-invocation
    * generation the returned plan pins).
    */
  private def isCheapScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    def walk(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD => true
      case pr: Project if pr.projectList.forall {
            case _: Attribute => true
            case a: Alias     => a.child.isInstanceOf[Attribute]
            case _            => false
          } =>
        walk(pr.child)
      case s: SubqueryAlias => walk(s.child)
      case _                => false
    }
    walk(df.queryExecution.analyzed)
  }

  /** Materialize unless [[isCheapScan]] — the memoized-input fast path. */
  def ensure(df: DataFrame): DataFrame =
    if (isCheapScan(df)) df else apply(df)

  private def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (confFlag(spark, ReliableKey)) {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(
          java.nio.file.Files.createTempDirectory("graft-ckpt-").toString)
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }

  /** Number of memoized entries, for specs. */
  private[graft] def entries: Int = cache.size()

  /** One input frame of a memoized pipeline and the memo decision for
    * the stages built over it — the only thing a catalog entry and a
    * library call of the same pipeline do differently. With a memo key
    * (a catalog entry passes its family and data dir), [[stage]] is
    * [[cached]] and [[value]] is [[cachedValue]] under
    * `<family>:<what>:<dir>`: built once per session, logged, released
    * with the dir. Without one (the `*Of(frame)` library forms and the
    * graph pair-list forms), each stage is materialized and each value
    * computed once for this handle: nothing enters the memo map or
    * [[buildLog]], and the blocks are the caller's, freeable once the
    * handle and its frames are dropped.
    */
  final class Stages private (val in: DataFrame, memo: Option[(String, String)]) {
    private val own = scala.collection.mutable.HashMap[String, Any]()

    def stage(what: String)(build: => DataFrame): DataFrame = memo match {
      case Some((family, dir)) => cached(in.sparkSession, s"$family:$what:$dir")(build)
      case None => once(what)(apply(build))
    }

    /** A stage that is a value holding no blocks (a row count). */
    def value[A](what: String)(build: => A): A = memo match {
      case Some((family, dir)) => cachedValue(in.sparkSession, s"$family:$what:$dir")(build)
      case None => once(what)(build)
    }

    private def once[A](what: String)(build: => A): A =
      own.getOrElse(what, { val v = build; own(what) = v; v }).asInstanceOf[A]
  }

  object Stages {
    /** Catalog form: stages memoized per session, keyed by `dir`. */
    def apply(in: DataFrame, family: String, dir: String): Stages =
      new Stages(in, Some((family, dir)))

    /** Library form: each stage materialized once for this handle only. */
    def apply(in: DataFrame): Stages = new Stages(in, None)
  }
}
