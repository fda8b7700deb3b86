package graft

import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Small shared filesystem helpers (one implementation, several callers —
  * ManifestTable staging cleanup, Bench sink cleanup), and the write
  * options that route a Hadoop write through [[ForkFreeLocalFileSystem]].
  *
  * Both tree walkers close the `Files.walk` stream explicitly: `exists` would
  * otherwise short-circuit and leak the walker's open directory handles —
  * once per streaming micro-batch commit, which accumulates to EMFILE over
  * the 10^4-commit design point.
  */
object Fs {

  /** Delete a file tree if it exists (children before parents). */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Using.resource(Files.walk(p)) { w =>
        w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }

  /** True when the directory contains at least one regular `.parquet` file
    * (a commit of an empty batch is an empty directory).
    */
  def hasParquetFiles(p: Path): Boolean =
    Files.exists(p) && Using.resource(Files.walk(p)) { w =>
      w.iterator().asScala
        .exists(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
    }

  /** Hadoop settings for a DataFrame write whose `file:` paths go through
    * [[ForkFreeLocalFileSystem]]. Spark merges per-write options into the
    * job's Hadoop conf, so the driver-side committer and every write task
    * see them. The cache switch is needed because Hadoop caches filesystems
    * by scheme and user, not by conf: without it the cached default wins.
    * Not for catalog writes (`saveAsTable`), which persist their options.
    */
  val ForkFreeWriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

/** Hadoop's checksummed local filesystem over [[ForkFreeRawLocalFileSystem]]:
  * the same files, `.crc` sidecars and modes, without a process per file.
  */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Without native libhadoop, `RawLocalFileSystem.setPermission` runs
  * `chmod` in a new process, and every file, `.crc` sidecar and directory a
  * write creates gets one. Here the nine permission bits are one
  * `setPosixFilePermissions` call; a mode with other bits (sticky, setuid)
  * still takes the inherited path.
  */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.iterator.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }
}
