package perfbench

import graft.Page
import graft.fixtures.CorpusGen
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded inputs. Every page comes from [[CorpusGen.page]], a pure function
  * of its id; the seed only chooses a disjoint window of ids. The window
  * start is a multiple of 40, so the per-`id % 40` format mix (50% HTML,
  * 17.5% PDF, 15% TXT, 2.5% each office/CSV/RTF format, 2.5% degenerate
  * pages) is the same for every seed.
  */
object Inputs {

  /** Width of one seed's id window; a multiple of 40. */
  final val Window = 1000000000L

  /** Pages per parquet file, so the input layout follows the corpus size
    * and not the number of cores.
    */
  final val PagesPerFile = 250

  def firstId(seed: Long): Long = Math.floorMod(seed, 9000000L) * Window

  /** Deterministic 64-bit mix of an id, for seeded choices. */
  def mix(id: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def pick(id: Long, salt: Long, outOf: Int): Int = Math.floorMod(mix(id ^ salt), outOf.toLong).toInt

  /** Pages with ids [first, first + n), one partition per [[PagesPerFile]]. */
  def pages(spark: SparkSession, first: Long, n: Long): Dataset[Page] = {
    import spark.implicits._
    val parts = math.max(1, ((n + PagesPerFile - 1) / PagesPerFile).toInt)
    spark.range(first, first + n, 1L, parts).as[Long].map(CorpusGen.page)
  }

  def write(ds: Dataset[Page], dir: Path): Unit =
    ds.write.mode("overwrite").parquet(dir.toString)

  def read(spark: SparkSession, dir: Path): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(dir.toString).as[Page]
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally walk.close()
  }

  def treeBytes(p: Path, suffix: String): (Long, Int) = {
    val walk = Files.walk(p)
    try {
      val fs = walk.filter(x => Files.isRegularFile(x) && x.getFileName.toString.endsWith(suffix))
        .toArray.map(_.asInstanceOf[Path])
      (fs.map(Files.size).sum, fs.length)
    } finally walk.close()
  }
}
