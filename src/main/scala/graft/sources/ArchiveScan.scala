package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
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
  * `min(#archives, defaultParallelism)` bins. One task per bin reads its
  * archives whole through the path's Hadoop `FileSystem` under the
  * session's Hadoop configuration, so any scheme Hadoop can open works. A
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

  /** Longest file one task reads whole: the JVM's array bound. */
  final val MaxFileBytes: Long = Int.MaxValue - 8

  /** One listed archive: Hadoop `Path.toString` and length in bytes. */
  final case class Archive(path: String, length: Long)

  /** Every archive under `glob`, parsed by `parse(path, bytes)` in tasks
    * packed by bytes (see the object doc). Lists on the call; reads when
    * the result runs.
    */
  def read[T](spark: SparkSession, glob: String)(
      parse: (String, Array[Byte]) => Seq[T])(implicit enc: Encoder[T]): Dataset[T] = {
    val sc = spark.sparkContext
    val bins = pack(list(spark, glob), sc.defaultParallelism)
    val conf = hadoopConf(spark)
    spark.createDataset(
      sc.parallelize(bins, math.max(1, bins.size)).flatMap(_.iterator.flatMap { a =>
        parse(a.path, readFile(new Path(a.path), conf.value.value))
      })(enc.clsTag))
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

  /** A whole file through its Hadoop `FileSystem`; a file past
    * [[MaxFileBytes]] fails with its name and length.
    */
  private[sources] def readFile(path: Path, conf: Configuration): Array[Byte] = {
    val fs = path.getFileSystem(conf)
    val length = fs.getFileStatus(path).getLen
    if (length > MaxFileBytes)
      throw new java.io.IOException(
        s"archive $path is $length bytes, more than the $MaxFileBytes one task reads whole")
    val bytes = new Array[Byte](length.toInt)
    val in = fs.open(path)
    try in.readFully(bytes) finally in.close()
    bytes
  }
}
