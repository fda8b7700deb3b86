package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

class VerifySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def withOutDir(f: Path => Unit): Unit = {
    val out = Files.createTempDirectory("graft-verify")
    try f(out) finally Fs.deleteRecursively(out)
  }

  test("a query that fails leaves no dump behind, not the previous run's") {
    import spark.implicits._
    withOutDir { out =>
      val stale = out.resolve("q_median")
      Seq(1L, 2L).toDF("stale").write.parquet(stale.toString)
      assert(Fs.hasParquetFiles(stale))
      Verify.dump(spark, out.resolve("no-such-sf").toString, out.toString, Some(Set("q_median")))
      assert(!Files.exists(stale), "the failed query's earlier dump must be gone")
      assert(Files.readString(out.resolve("oracle_sql.json")).startsWith("{\"q_median\": "))
    }
  }

  test("a query that runs replaces its earlier dump with its own rows") {
    import spark.implicits._
    withOutDir { out =>
      val sf = out.resolve("sf").toString
      Seq(("A", 1L), ("A", 4L), ("N", 2L), ("R", 5L), ("R", 7L), ("R", 9L))
        .toDF("l_returnflag", "l_quantity").write.parquet(s"$sf/lineitem.parquet")
      val dump = out.resolve("q_median")
      spark.range(3).toDF("stale").write.parquet(dump.toString)
      Verify.dump(spark, sf, out.toString, Some(Set("q_median")))
      val got = spark.read.parquet(dump.toString)
      val want = SparkEntry.queries("q_median")(spark, sf)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq)
    }
  }
}
