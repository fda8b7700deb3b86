package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query of the correctness contract (SURVEY.md §7.0): its
  * Spark body, run against a scale dir, and the DuckDB SQL that must
  * return the same rows. Column names/aliases match the SQL on both sides;
  * all outputs are deterministically ordered; numeric aggregates avoid raw
  * double sums (decimal casts or integer sums) so hashes match bit-for-bit.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Query {

  /** Indexes `qs` by name, failing on a name listed twice (a `Map` built
    * from pairs would silently keep the last one).
    */
  def byName(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
