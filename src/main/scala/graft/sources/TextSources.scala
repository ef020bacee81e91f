package graft.sources

import java.io.{BufferedOutputStream, FileNotFoundException, IOException}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The reference's scan/sink surface (SURVEY.md §2.1 F1/F8):
  *
  *  - F1 whole-file scan: one row per file, `(filename, contents)` — the
  *    reference's map input unit (`pkg/fsutil/util.go:7-21`). The
  *    reference runs one map task per file
  *    (`internal/coordinator/coordinator.go:124-133`); here the files are
  *    packed largest-first into one task per core, so no map task waits
  *    on a pile of big files while the other cores idle.
  *  - F8 text sink: `"<key> <value>"` lines — the oracle's canonical
  *    output format (`example/mrsequential/mrsequential.go:84`), each
  *    reduce partition's file written by its task ([[writeKV]]; the
  *    reference's file create, `internal/worker/worker.go:301-313`, is
  *    also where its read-only-append bug lived, SURVEY.md §2.4.5).
  *
  * The reference's F2 line scan is Spark's own `spark.read.text`.
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

  /** F8: write a (key, value) frame in the reference's output format, one
    * `"<key> <value>"` line per row. Null keys and values map to the empty
    * string — the reference's data model has no nulls ("" is its only
    * missing representation, SURVEY.md §1.1) — so every line keeps its
    * separator.
    *
    * As the reference's reduce worker creates its partition's file and
    * writes its lines into it (`internal/worker/worker.go:286`,
    * `:301-313`), each task writes its partition's rows straight into one
    * file: `part-NNNNN`, `NNNNN` the partition index, created even when the
    * partition is empty. The commit is whole-job, like Hadoop's v1 file
    * committer: a task writes to an attempt-unique file under a job temp
    * directory in `path` and renames it to its part name there; only after
    * every task has succeeded does the driver replace any previous output
    * with the parts, then write `_SUCCESS` and delete the temp directory.
    * A reader of `path` sees the old output or the whole new one, never a
    * torn file. A failed job deletes its temp directory and leaves none of
    * its own files in `path`.
    *
    * The job runs under one SQL execution, so listeners and the SQL UI see
    * the write. The Hadoop configuration is broadcast once per write, and
    * each task counts the bytes and lines it wrote in its output metrics.
    */
  def writeKV(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val conf  = GraftSqlShims.hadoopConf(spark)
    val dest  = new Path(path)
    val fs    = dest.getFileSystem(conf)
    val out   = fs.makeQualified(dest)
    val temp  = new Path(out, s"_temporary-${UUID.randomUUID()}")
    val tempName = temp.toString
    val qe = df.select(col("key").cast(StringType), col("value").cast(StringType)).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("writeKV")) {
      try {
        if (!fs.mkdirs(temp)) throw new IOException(s"could not create $temp")
        val rows  = qe.toRdd
        val hconf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
        spark.sparkContext.runJob(rows,
          (ctx: TaskContext, it: Iterator[InternalRow]) => writePart(ctx, it, tempName, hconf))
        fs.listStatus(out).map(_.getPath).filter(_.getName != temp.getName)
          .foreach(fs.delete(_, true))
        for (i <- 0 until rows.getNumPartitions) {
          val part = partName(i)
          if (!fs.rename(new Path(temp, part), new Path(out, part)))
            throw new IOException(s"could not move $part of $temp into $out")
        }
        fs.create(new Path(out, "_SUCCESS")).close()
      } finally fs.delete(temp, true)
    }
  }

  private def partName(partition: Int): String = f"part-$partition%05d"

  /** One task's partition, written to an attempt-unique file under the job
    * temp directory, then renamed to its part name there. The file is
    * created without its parents, so a task that outlives its failed job
    * cannot bring the deleted temp directory back.
    */
  private def writePart(ctx: TaskContext, rows: Iterator[InternalRow], temp: String,
      conf: Broadcast[SerializableConfiguration]): Unit = {
    val dir     = new Path(temp)
    val fs      = dir.getFileSystem(conf.value.value)
    val attempt = new Path(dir, s".${partName(ctx.partitionId())}-${ctx.taskAttemptId()}")
    val out     = new BufferedOutputStream(
      fs.createNonRecursive(attempt, false, 65536, fs.getDefaultReplication(attempt),
        fs.getDefaultBlockSize(attempt), null), 65536)
    var bytes, lines = 0L
    try {
      def put(s: UTF8String): Unit = if (s != null) { s.writeTo(out); bytes += s.numBytes() }
      rows.foreach { r =>
        put(r.getUTF8String(0))
        out.write(' ')
        put(r.getUTF8String(1))
        out.write('\n')
        bytes += 2
        lines += 1
      }
    } finally out.close()
    val part = new Path(dir, partName(ctx.partitionId()))
    // a retried attempt replaces what an earlier one committed: both wrote
    // the same rows, and nothing reads the temp directory until the job ends
    fs.delete(part, false)
    if (!fs.rename(attempt, part)) throw new IOException(s"could not commit $attempt as $part")
    GraftSqlShims.incOutput(ctx, bytes, lines)
  }
}
