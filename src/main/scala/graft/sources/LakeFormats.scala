package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Multi-format lake interop (SURVEY §2.1 sources/sinks beyond parquet):
  * the same documents table written to and read back from ORC, CSV and
  * JSON-lines through Spark's native DataSource V2 paths — the three
  * formats a web-scale corpus actually meets at its edges (ORC from
  * legacy Hive lakes, CSV/JSONL from upstream crawler exports and
  * labeling vendors). Parquet stays the primary format everywhere else
  * in this library; this module proves the OTHER formats round-trip
  * byte-exactly through the extraction schema, including the columns
  * that stress each codec where it is weakest:
  *
  *   - CSV: free text with embedded commas/quotes — written with RFC
  *     4180 doubled-quote escaping (`escape = "` — Spark's default is
  *     backslash, which DuckDB/Excel/BigQuery do NOT speak) and read
  *     back with `multiLine` on so embedded newlines cannot shear rows.
  *     Read uses the EXPLICIT writer schema: header-based inference
  *     would re-derive types from data (a doc_id column of small ints
  *     infers INT, silently narrowing long ids).
  *   - JSONL: unicode text through the escaper; explicit schema again
  *     (inference is a full extra pass over the data AND type-unstable
  *     on sparse columns).
  *   - ORC: typed round-trip through the ONE columnar format here that
  *     is not parquet (schema evolution rules differ; reading back
  *     through the writer schema pins the mapping).
  *
  * Scale notes: all three writers shard per-partition exactly like
  * parquet (no driver funnel); CSV/JSON are row formats with no column
  * pruning or predicate pushdown, which is WHY the library treats them
  * as edge formats — land them, convert to parquet once, never scan
  * them twice. The round-trip check joins on the key and counts field
  * mismatches, so the driver-facing invariant is an sf-invariant zero
  * per format, not a format-specific artifact.
  */
object LakeFormats {

  val Formats: Seq[String] = Seq("csv", "json", "orc")

  /** Writes `df` (must contain a unique long `keyCol`) to each format
    * under `baseDir`/<format>, reads each back with the writer schema,
    * and returns one row per format:
    * (format, n_rows, n_missing, n_mismatch) where n_rows is the
    * read-back row count, n_missing counts keys lost or duplicated by
    * the round trip, and n_mismatch counts rows whose non-key fields
    * changed. All-zero mismatch columns == the format round-trips.
    */
  def roundTrip(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      baseDir: String
  ): DataFrame = {
    import spark.implicits._
    val cols = df.columns.toSeq
    val dataCols = cols.filterNot(_ == keyCol)
    val schema = df.schema
    val perFormat = Formats.map { fmt =>
      val path = s"$baseDir/$fmt"
      val writer = df.write.options(graft.Fs.ForkFreeWriteOptions).mode("overwrite").format(fmt)
      val configured = fmt match {
        // RFC 4180 quoting: escape = quote char (doubled quotes), header
        // for the read-back schema-by-name mapping. The writer's
        // whitespace trim DEFAULTS TO TRUE (ignoreLeading/
        // TrailingWhiteSpace) — left on, "  padded  " text silently
        // loses bytes; byte-identity is this library's core invariant,
        // so both trims are forced off.
        case "csv" => writer.option("header", "true").option("escape", "\"")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
        case _     => writer
      }
      configured.save(path)
      val reader = spark.read.format(fmt).schema(schema)
      val back = (fmt match {
        case "csv" =>
          reader.option("header", "true").option("escape", "\"")
            .option("multiLine", "true").load(path)
        case _ => reader.load(path)
      })
      // full-row equality via a null-safe struct compare: <=> treats
      // null==null as a match, so nullable text columns cannot fake a
      // mismatch (or hide one)
      val orig = df.select(F.col(keyCol).as("k"),
        F.struct(dataCols.map(F.col): _*).as("v"))
      val got = back.select(F.col(keyCol).as("k"),
        F.struct(dataCols.map(F.col): _*).as("v2"))
      val joined = orig.join(got, Seq("k"), "full_outer")
      joined.agg(
        F.lit(fmt).as("format"),
        // non-null struct = a row the read-back actually produced (a
        // full_outer miss leaves the whole struct null, so this counts
        // read rows even when every data FIELD of a real row is null)
        F.count(F.col("v2")).cast("long").as("n_rows"),
        F.sum(F.when(F.col("v").isNull || F.col("v2").isNull, 1L).otherwise(0L))
          .cast("long").as("n_missing"),
        // mismatch only over rows present on BOTH sides — a missing row
        // is n_missing, never double-counted here
        F.sum(F.when(F.col("v").isNotNull && F.col("v2").isNotNull
            && !(F.col("v") <=> F.col("v2")), 1L).otherwise(0L))
          .cast("long").as("n_mismatch")
      ).select("format", "n_rows", "n_missing", "n_mismatch")
    }
    perFormat.reduce(_ unionByName _).orderBy("format")
  }
}
