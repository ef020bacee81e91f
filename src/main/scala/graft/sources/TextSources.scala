package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The reference's scan/sink surface (SURVEY.md §2.1 F1/F2/F8) on Spark's
  * source API:
  *
  *  - F1 whole-file scan: one row per file, `(filename, contents)` — the
  *    reference's map input unit (`pkg/fsutil/util.go:7-21`). The
  *    reference runs one map task per file
  *    (`internal/coordinator/coordinator.go:124-133`); here the files are
  *    packed largest-first into one task per core, so no map task waits
  *    on a pile of big files while the other cores idle.
  *  - F2 line scan: one row per `\n`-delimited line, trailing newline
  *    stripped (`pkg/mr/mr.go:19-36`).
  *  - F8 text sink: `"<key> <value>"` lines — the oracle's canonical
  *    output format (`example/mrsequential/mrsequential.go:84`). Spark's
  *    commit protocol replaces the reference's create-then-append
  *    (`internal/worker/worker.go:301-313`, which is also where its
  *    read-only-append bug lived, SURVEY.md §2.4.5).
  *
  * Any Hadoop-supported scheme works in the path (the analogue of the
  * reference's `FsClient` URL-scheme registry, `pkg/fsutil/fsclient.go`).
  */
object TextSources {

  /** F1: whole files as `(filename, contents)` rows.
    *
    * The driver expands the glob with the Hadoop `FileSystem` and lists
    * what Spark's file sources list: a matched directory contributes its
    * files, recursively, and names Spark treats as hidden (`_x`, `.x`) are
    * skipped. Empty files get no row. A glob that matches nothing fails
    * with a `FileNotFoundException` naming it. `filename` is the decoded
    * path, relative to the working directory when it lies below it: the
    * reference's apps key on the path as given on the command line (the
    * indexer's document ids).
    *
    * Map work grows with a file's bytes and a file is never split, so the
    * bytes per task set the map stage's length. The files are packed into
    * `min(files, defaultParallelism)` tasks, largest first, each onto the
    * task with the fewest bytes so far (Graham's LPT rule): the busiest
    * task is within 4/3 of the best possible packing, and holds at most
    * the mean plus one file.
    *
    * Each task reads its files' bytes straight into `UTF8String` rows, as
    * the `wholetext` source does (compressed files are decompressed by
    * their extension's codec, as there), and counts the bytes in its
    * input metrics. The Hadoop configuration is broadcast once per read.
    */
  def wholeFiles(spark: SparkSession, pathGlob: String): DataFrame = {
    val conf  = GraftSqlShims.hadoopConf(spark)
    val files = listFiles(pathGlob, conf)
    val sc    = spark.sparkContext
    val tasks = packLargestFirst(files, math.max(1, math.min(files.size, sc.defaultParallelism)))
    val rdd   = new WholeFileRDD(sc, tasks, sc.broadcast(new SerializableConfiguration(conf)))
    GraftSqlShims.internalCreateDataFrame(
      spark, rdd, new StructType().add("filename", StringType).add("contents", StringType))
  }

  /** One input file: where to read it, the name its row carries, its size. */
  private final case class WholeFile(path: Path, name: String, bytes: Long)

  private def listFiles(pathGlob: String, conf: Configuration): Seq[WholeFile] = {
    val glob    = new Path(pathGlob)
    val fs      = glob.getFileSystem(conf)
    val matched = Option(fs.globStatus(fs.makeQualified(glob))).toSeq.flatten
    if (matched.isEmpty) throw new FileNotFoundException(s"no input files match $pathGlob")
    def hidden(s: FileStatus) = GraftSqlShims.hiddenPathName(s.getPath.getName)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filterNot(hidden).flatMap(leaves)
      else Seq(s)
    val cwd = new java.io.File(".").getCanonicalPath + "/"
    matched.filter(s => s.isDirectory || !hidden(s)).flatMap(leaves).filter(_.getLen > 0).map {
      s =>
        val p = s.getPath.toUri.getPath
        WholeFile(s.getPath, if (p.startsWith(cwd)) p.substring(cwd.length) else p, s.getLen)
    }
  }

  /** LPT: biggest file first, each to the task holding the fewest bytes
    * (the lowest index on a tie), so a given listing always packs alike.
    */
  private def packLargestFirst(files: Seq[WholeFile], tasks: Int): Array[Seq[WholeFile]] = {
    val packed = Array.fill[Seq[WholeFile]](tasks)(Vector.empty)
    val load   = new Array[Long](tasks)
    for (f <- files.sortBy(f => (-f.bytes, f.name))) {
      val t = load.indices.minBy(load)
      packed(t) :+= f
      load(t) += f.bytes
    }
    packed
  }

  private final case class FilesPartition(index: Int, files: Seq[WholeFile]) extends Partition

  /** One task per packed group; the listing stays on the driver. */
  private final class WholeFileRDD(
      sc: SparkContext,
      @transient private val tasks: Array[Seq[WholeFile]],
      conf: Broadcast[SerializableConfiguration])
      extends RDD[InternalRow](sc, Nil) {

    override protected def getPartitions: Array[Partition] =
      tasks.indices.map(i => FilesPartition(i, tasks(i)): Partition).toArray

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val hadoopConf = conf.value.value
      val codecs     = new CompressionCodecFactory(hadoopConf)
      split.asInstanceOf[FilesPartition].files.iterator.map { f =>
        val raw   = f.path.getFileSystem(hadoopConf).open(f.path)
        val codec = codecs.getCodec(f.path)
        val in    = if (codec == null) raw else codec.createInputStream(raw)
        val bytes = try in.readAllBytes() finally in.close()
        GraftSqlShims.incInput(context, f.bytes, 1)
        InternalRow(UTF8String.fromString(f.name), UTF8String.fromBytes(bytes))
      }
    }
  }

  /** F2: lines as rows. */
  def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(col("value").as("line"))

  /** F8: write a (key, value) frame in the reference's output format.
    * Null values map to the empty string — the reference's data model has
    * no nulls ("" is its only missing representation, SURVEY.md §1.1), and
    * a bare `concat_ws` would drop the separator, producing a line
    * `readKV` cannot parse.
    */
  def writeKV(df: DataFrame, path: String): Unit =
    df.select(concat_ws(" ", coalesce(col("key"), lit("")), coalesce(col("value"), lit("")))
        .as("value"))
      .write
      .mode("overwrite")
      .text(path)

  /** Read the F8 format back: split at the first space. */
  def readKV(spark: SparkSession, path: String): DataFrame =
    lines(spark, path).select(
      regexp_extract(col("line"), "^(\\S*) (.*)$", 1).as("key"),
      regexp_extract(col("line"), "^(\\S*) (.*)$", 2).as("value"))
}
