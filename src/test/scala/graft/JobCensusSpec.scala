package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Job-count ceilings for the iterative queries whose job counts were cut:
  * a job count does not depend on host load, so it guards these operators
  * where a wall-clock timing cannot. Each bound is the count measured on
  * the sf0.001 tables with `collect()` as the action; a change that adds
  * jobs to one of these queries fails here.
  */
class JobCensusSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-job-census")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val bounds = Seq(
    "w_hits" -> 65,
    "w_kcore" -> 37,
    "p_zorder" -> 43,
    "t_bpe_merges" -> 43)

  for ((name, bound) <- bounds)
    test(s"$name stays within its Spark job bound at sf0.001") {
      val n = JobCensus.of(spark)(
        SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect()).jobs
      info(s"$name: $n jobs")
      assert(n <= bound, s"$name ran $n jobs, bound $bound")
    }
}
