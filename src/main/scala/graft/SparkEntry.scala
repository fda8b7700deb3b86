package graft

import graft.operators.ExtractKernel
import graft.queries._
import graft.sources.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7.0): named queries + DuckDB oracle SQL.
  *
  * Each query is one [[graft.queries.Query]] value in its family's file,
  * its Spark body next to its oracle: `x_*` the extraction pipeline over
  * the synthetic pages corpus ([[graft.queries.ExtractionQueries]]), the
  * rest operators over the parquet tables of a scale dir. `queries` and
  * `oracleSql` are views of that one registry, built once.
  */
object SparkEntry {

  /** Flagship: full extraction of the sf0.001 corpus, summarized. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pages = Corpus.pages(spark, "/root/testdata/sf0.001")
    val out = ExtractKernel.extract(pages)
    out
      .join(pages.select($"url", $"text".as("golden")), "url")
      .groupBy($"format", $"status")
      .agg(
        count(lit(1)).as("n"),
        sum(when($"text" === $"golden", 1L).otherwise(0L)).as("n_match"),
        sum($"n_bytes_in").as("bytes_in")
      )
      .orderBy($"format", $"status")
  }

  /** Every query, family by family. */
  val registry: Seq[Query] =
    ExtractionQueries.all ++ DedupQueries.all ++ PipelineQueries.all ++
      RelationalQueries.all ++ SearchQueries.all ++ TextQueries.all ++
      GraphQueries.all ++ MultimodalQueries.all

  private val byName: Map[String, Query] = Query.byName(registry)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.run }

  val oracleSql: Map[String, String] = byName.map { case (n, q) => n -> q.oracleSql }
}
