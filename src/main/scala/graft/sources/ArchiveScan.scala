package graft.sources

import java.io.InputStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** The one way the archive readers ([[WarcReader.readWarcs]],
  * [[WetSink.readWet]], [[WatSink.readWat]], [[WarcIndex.index]]) get at
  * their files.
  *
  * The Spark driver expands the glob or directory once, with Hadoop
  * `globStatus`/`listStatus`, and packs the archives by their listed
  * lengths, largest first, each into the lightest of
  * `min(#archives, defaultParallelism)` bins. One task per bin streams its
  * archives, one open at a time, through the path's Hadoop `FileSystem`
  * under the session's Hadoop configuration, so any scheme Hadoop can open
  * works; heap per task is what the parser keeps, not an archive. A
  * read is one Spark job of one stage with no shuffle; Spark's binaryFile
  * source would list the same files again in a job of its own whenever a
  * glob matches more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths.
  *
  * Listing follows binaryFile with `recursiveFileLookup`: a glob that
  * matches nothing fails, a directory is read recursively, and entries
  * whose names start with `_` or `.` (`_SUCCESS`, `.crc` sidecars,
  * staging directories) are skipped.
  * WARC members are not independently seekable without an index, so the
  * unit of work stays the whole archive; record-level splits go through
  * [[WarcIndex]].
  */
object ArchiveScan {

  /** One listed archive: Hadoop `Path.toString` and length in bytes. */
  final case class Archive(path: String, length: Long)

  /** Every archive under `glob`, parsed by `parse(path, stream)` in tasks
    * packed by bytes (see the object doc). The stream closes when its
    * rows are drained or the task ends. Lists on the call; reads when the
    * result runs.
    */
  def read[T](spark: SparkSession, glob: String)(
      parse: (String, InputStream) => Iterator[T])(implicit enc: Encoder[T]): Dataset[T] = {
    val sc = spark.sparkContext
    val bins = pack(list(spark, glob), sc.defaultParallelism)
    val conf = hadoopConf(spark)
    spark.createDataset(
      sc.parallelize(bins, math.max(1, bins.size)).flatMap { bin =>
        val files = new Handle(conf.value.value)
        bin.iterator.flatMap(a => parse(a.path, files.open(a.path)) ++ { files.close(); Iterator.empty })
      }(enc.clsTag))
  }

  /** A task's one open archive: `open` closes the file opened before it,
    * and the last one closes when the task ends, so a read that fails or
    * stops early leaks no handle.
    */
  private[sources] final class Handle(conf: Configuration) {
    private var file: String = null
    private var in: FSDataInputStream = null
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

    def open(path: String): FSDataInputStream = {
      if (path != file) { close(); in = new Path(path).getFileSystem(conf).open(new Path(path)); file = path }
      in
    }

    def close(): Unit = if (in != null) try in.close() finally { in = null; file = null }
  }

  /** The session's Hadoop configuration, shipped once per executor. */
  private[sources] def hadoopConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** Leaf files under `glob`, with binaryFile's listing rules. */
  private[graft] def list(spark: SparkSession, glob: String): Seq[Archive] = {
    val pattern = new Path(glob)
    val fs = pattern.getFileSystem(spark.sessionState.newHadoopConf())
    val matched = Option(fs.globStatus(pattern)).map(_.toSeq).getOrElse(Seq.empty)
    if (matched.isEmpty) throw new java.io.FileNotFoundException(s"no archive matches $glob")
    def hidden(s: FileStatus): Boolean = {
      val name = s.getPath.getName
      name.startsWith("_") || name.startsWith(".")
    }
    // a matched directory is a root and is read whatever its name; its
    // entries, and matched files, are skipped when hidden
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filterNot(hidden).flatMap(leaves)
      else Seq(s)
    matched.filter(s => s.isDirectory || !hidden(s)).flatMap(leaves)
      .map(s => Archive(s.getPath.toString, s.getLen))
  }

  /** Largest first, each archive into the bin with the fewest bytes so
    * far; at most `slots` bins, none empty.
    */
  private[graft] def pack(archives: Seq[Archive], slots: Int): Seq[Seq[Archive]] = {
    val n = math.min(archives.size, slots)
    val bins = Array.fill(n)(Vector.empty[Archive])
    val load = new Array[Long](n)
    archives.sortBy(a => (-a.length, a.path)).foreach { a =>
      val i = load.indices.minBy(load(_))
      bins(i) :+= a
      load(i) += a.length
    }
    bins.toSeq
  }
}
