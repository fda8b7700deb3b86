package graft
package queries

import graft.functions.TextStats
import graft.functions.expressions.fingerprint64
import graft.operators.{Packing, Rocchio, ScanPar}
import graft.queries.Shared.{pq, tokCtesOver, langIdDetectSql, md5PrefixSql, bpeStageCtes, qualityCtes}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `t_*`: text analysis over documents, with exact DuckDB oracles. */
object TextQueries {

  /** Ad-boilerplate tail injected by t_logreg_train on doc_id%3==0 docs —
    * ONE definition feeds both the Spark query and its SQL mirror (long
    * low-stopword words, so it moves the word-length/stopword features).
    */
  private val BoilerplateTail: String =
    " click here buy cheap deals limited offer unsubscribe newsletter" +
      " advertisement sponsored content affiliate promotion discount clearance"

  private def bpeOracleSql(k: Int): String = {
    val rows = (1 to k).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, b.t1, b.t2, b.cnt,
        |  (SELECT CAST(sum(freq * len(string_split(trim(s), '  '))) AS BIGINT)
        |   FROM bpv$i) AS tokens_after
        |FROM bpb$i b""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeStageCtes(k)}
      |SELECT * FROM ($rows) ORDER BY rank""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("t_tokens", (s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", size(split($"text", "\\s+")).as("toks"), length($"text").as("chars"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"), sum($"chars").as("n_chars"))
        .orderBy($"lang")
    },
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(string_split_regex(text,'\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("t_readability", (s, dir) => {
      import s.implicits._
      // readability profile (the LIX/Flesch raw material, kept as exact
      // integer numerators — the ratios are one divide away downstream):
      // sentence-terminator runs, words, long words (>= 7 chars), and
      // vowel runs (the classic syllable proxy). The synthetic corpus
      // carries no punctuation at all, so terminators are injected
      // deterministically (a period after every "the") — the sentence
      // counter is exercised non-vacuously in every language. Built-ins
      // only: the whole pass is whole-stage-codegen'd with zero UDF
      // calls, the cheapest per-doc quality signal in the library.
      s.read.parquet(pq(dir, "documents"))
        .select($"lang",
          regexp_replace(lower($"text"), "\\bthe\\b", "the.").as("ptext"))
        .select(
          $"lang",
          expr("size(regexp_extract_all(ptext, '[.!?]+', 0))").cast("long").as("sents"),
          expr("size(filter(split(ptext, '\\\\s+'), w -> w != ''))")
            .cast("long").as("words"),
          expr("size(filter(split(ptext, '\\\\s+'), w -> length(w) >= 7))")
            .cast("long").as("longw"),
          expr("size(regexp_extract_all(ptext, '[aeiou]+', 0))").cast("long").as("vruns")
        )
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"sents").as("n_sents"),
          sum($"words").as("n_words"),
          sum($"longw").as("n_long_words"),
          sum($"vruns").as("n_vowel_runs")
        )
        .orderBy($"lang")
    },
      // readability numerators: the same injected-terminator text (global
      // \b-bounded replace), regexp_extract_all run counts + filtered
      // token-length counts, both engines over the identical patterns
      raw"""WITH rsrc AS (
        |  SELECT lang, regexp_replace(lower(text), '\bthe\b', 'the.', 'g') AS ptext
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(ptext, '[.!?]+'))) AS BIGINT) AS n_sents,
        |  CAST(sum(len(list_filter(string_split_regex(ptext, '\s+'),
        |    w -> w <> ''))) AS BIGINT) AS n_words,
        |  CAST(sum(len(list_filter(string_split_regex(ptext, '\s+'),
        |    w -> len(w) >= 7))) AS BIGINT) AS n_long_words,
        |  CAST(sum(len(regexp_extract_all(ptext, '[aeiou]+'))) AS BIGINT) AS n_vowel_runs
        |FROM rsrc GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("t_compress_ratio", (s, dir) => {
      import s.implicits._
      // Gopher-style zlib-compressibility quality signal. zlib output is
      // not expressible in SQL, so the oracle pins INVARIANTS (the x_*
      // pattern, sf-invariant zeros anchored by the mirrorable n_docs):
      // for every doc a repetition-stuffed variant (its first 10 tokens
      // cycled to >= max(doc length, 400) chars — the spam shape this
      // signal exists to catch) must deflate strictly below the natural
      // text, and every ratio must respect the deflate expansion bound
      // (raw deflate of already-dense input stays under ~1.1x).
      val ratioUdf = udf((t: String) => graft.functions.Compressibility.ratioPermille(t))
      val repUdf = udf((t: String) => {
        val ws = graft.functions.TextStats.tokens(if (t == null) "" else t)
        val seed = ws.take(10).mkString(" ") + " "
        val target = math.max(if (t == null) 0 else t.length, 400)
        val sb = new StringBuilder
        while (sb.length < target) sb.append(seed)
        sb.substring(0, target)
      })
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", ratioUdf($"text").as("nat"), ratioUdf(repUdf($"text")).as("rep"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"rep" >= $"nat", 1L).otherwise(0L)).as("n_rep_not_smaller"),
          sum(when($"nat" > lit(1100L) || $"rep" > lit(1100L), 1L).otherwise(0L))
            .as("n_expansion_violations")
        )
        .orderBy($"lang")
    },
      // compressibility invariants: zlib is engine-side-only, so the
      // oracle is the x_*-style sf-invariant-zeros form anchored by n_docs
      """SELECT lang, count(*) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_rep_not_smaller,
        |  CAST(0 AS BIGINT) AS n_expansion_violations
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("t_quality_counts", (s, dir) => {
      import s.implicits._
      val d = s.read.parquet(pq(dir, "documents"))
      d.select(
        $"source",
        length($"text").as("chars"),
        length(regexp_replace($"text", "[^a-zA-Z]", "")).as("letters"),
        length(regexp_replace($"text", "[^0-9]", "")).as("digits"),
        size(split($"text", "\\s+")).as("toks")
      ).groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"chars").as("sum_chars"),
          sum($"letters").as("sum_letters"),
          sum($"digits").as("sum_digits"),
          sum($"toks").as("sum_tokens")
        )
        .orderBy($"source")
    },
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(regexp_replace(text,'[^a-zA-Z]','','g'))) AS BIGINT) AS sum_letters,
        |  CAST(sum(length(regexp_replace(text,'[^0-9]','','g'))) AS BIGINT) AS sum_digits,
        |  CAST(sum(length(string_split_regex(text,'\s+'))) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    Query("t_langid", (s, dir) => {
      import s.implicits._
      val langUdf = udf((t: String) => TextStats.langId(t))
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", langUdf($"text").as("detected"))
        .groupBy($"lang", $"detected")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"detected")
    },
      s"""WITH b AS (
        |  SELECT lang, left(text, 4000) AS head, left(lower(text), 4000) AS lhead
        |  FROM documents),
        |${langIdDetectSql("", "b", "lang")}
        |SELECT lang, detected, count(*) AS n FROM d GROUP BY 1, 2 ORDER BY lang, detected""".stripMargin),
    Query("t_langid_segments", (s, dir) => {
      import s.implicits._
      // CCNet runs language ID per PARAGRAPH, not per page (Wenzek et
      // al. 2020 §4.1): mixed-language pages — foreign boilerplate,
      // embedded quotes — surface as segments disagreeing with the
      // whole-document verdict, and the per-segment verdicts are what
      // the paragraph-level keep decisions consume. 50-token segments
      // (the chunk kernel), the SAME langId kernel per segment and per
      // full doc, disagreement counted per doc. Map-only: one UDF pass,
      // no shuffle before the final per-lang aggregate. The oracle
      // applies ONE shared SQL decision chain to both granularities.
      val segsUdf = udf((t: String) =>
        graft.functions.TextStats.chunk(if (t == null) "" else t, 50)
          .map(graft.functions.TextStats.langId).toArray)
      val docUdf = udf((t: String) =>
        graft.functions.TextStats.langId(if (t == null) "" else t))
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", docUdf($"text").as("docDet"), segsUdf($"text").as("segs"))
        .select($"lang", size($"segs").cast("long").as("nseg"),
          expr("size(filter(segs, x -> x != docDet))").cast("long").as("noff"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"nseg").as("n_segments"),
          sum($"noff").as("n_off_segments"),
          sum(when($"noff" > 0, 1L).otherwise(0L)).as("n_mixed_docs")
        )
        .orderBy($"lang")
    },
      // per-segment langid: case-preserved 50-token segments rebuilt in
      // SQL (string_agg ORDER BY position == the engine's chunk join), the
      // SAME decision chain applied per segment AND per full document, the
      // two verdicts compared per doc
      s"""WITH lstok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\\s+'), 1) AS i
        |  FROM documents),
        |lstok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
        |          FROM lstok0 WHERE w <> ''),
        |segsrc AS (
        |  SELECT doc_id, (i - 1) // 50 AS seg, string_agg(w, ' ' ORDER BY i) AS segtext
        |  FROM lstok GROUP BY 1, 2),
        |sb AS (SELECT doc_id, seg, left(segtext, 4000) AS head,
        |              left(lower(segtext), 4000) AS lhead FROM segsrc),
        |${langIdDetectSql("s", "sb", "doc_id, seg")},
        |fb AS (SELECT doc_id, left(text, 4000) AS head,
        |              left(lower(text), 4000) AS lhead FROM documents),
        |${langIdDetectSql("f", "fb", "doc_id")},
        |perdoc AS (
        |  SELECT s.doc_id, count(*) AS nseg,
        |    sum(CASE WHEN s.detected <> f.detected THEN 1 ELSE 0 END) AS noff
        |  FROM sd s JOIN fd f ON s.doc_id = f.doc_id
        |  GROUP BY 1)
        |SELECT dd.lang, count(*) AS n_docs,
        |  CAST(sum(coalesce(p.nseg, 0)) AS BIGINT) AS n_segments,
        |  CAST(sum(coalesce(p.noff, 0)) AS BIGINT) AS n_off_segments,
        |  CAST(sum(CASE WHEN coalesce(p.noff, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mixed_docs
        |FROM documents dd LEFT JOIN perdoc p ON dd.doc_id = p.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("t_quality_score", (s, dir) => {
      import s.implicits._
      val qUdf = udf((t: String) => TextStats.quality(t).score)
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", qUdf($"text").as("score"))
        .groupBy($"score")
        .agg(count(lit(1)).as("n"))
        .orderBy($"score")
    },
      s"""WITH $qualityCtes
        |SELECT score, count(*) AS n FROM qs GROUP BY 1 ORDER BY score""".stripMargin),
    Query("t_chunks", (s, dir) => {
      import s.implicits._
      // F13 chunking kernel, cross-checked against a pure-SQL oracle
      val chunksUdf = udf((t: String) => TextStats.chunk(t, 100).length)
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", chunksUdf($"text").as("chunks"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"chunks").as("n_chunks"))
        .orderBy($"lang")
    },
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CAST(ceil(length(string_split_regex(text,'\s+')) / 100.0) AS BIGINT)) AS BIGINT) AS n_chunks
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("t_classify", (s, dir) => {
      import s.implicits._
      // F15 keyword-rule classifier tier (reference combined_pipeline.py:724-770)
      val clsUdf = udf((t: String) => TextStats.classify(t)._1)
      s.read.parquet(pq(dir, "documents"))
        .select(clsUdf($"text").as("label"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n"))
        .orderBy($"label")
    },
      """WITH h AS (
        |  SELECT
        |    (CASE WHEN contains(lower(text), 'invoice') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'amount due') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'total due') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'invoice number') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'bill to') THEN 1 ELSE 0 END) AS h1,
        |    (CASE WHEN contains(lower(text), 'purchase order') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'po number') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'purchase order no') THEN 1 ELSE 0 END) AS h2,
        |    (CASE WHEN contains(lower(text), 'maintenance') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'job card') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'work order') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'technician') THEN 1 ELSE 0 END) AS h3,
        |    (CASE WHEN contains(lower(text), 'incident report') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'incident') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'reported') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'injury') THEN 1 ELSE 0 END) AS h4,
        |    (CASE WHEN contains(lower(text), 'board meeting') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'minutes') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'attendees') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'resolution') THEN 1 ELSE 0 END) AS h5,
        |    (CASE WHEN contains(lower(text), 'legal opinion') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'opinion of counsel') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'whereas') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'hereto') THEN 1 ELSE 0 END) AS h6,
        |    (CASE WHEN contains(lower(text), 'hr policy') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'human resources') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'leave policy') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'code of conduct') THEN 1 ELSE 0 END) AS h7,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END AS empty
        |  FROM documents),
        |lab AS (
        |  SELECT CASE
        |    WHEN empty = 1 THEN 'Unknown'
        |    WHEN greatest(h1,h2,h3,h4,h5,h6,h7) = 0 THEN 'Unknown'
        |    WHEN h1 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'invoice'
        |    WHEN h2 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'purchase order'
        |    WHEN h3 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'maintenance'
        |    WHEN h4 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'incident report'
        |    WHEN h5 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'board meeting'
        |    WHEN h6 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'legal opinion'
        |    ELSE 'hr policy' END AS label
        |  FROM h)
        |SELECT label, count(*) AS n FROM lab GROUP BY 1 ORDER BY label""".stripMargin),
    Query("t_textrank", (s, dir) => {
      import s.implicits._
      // F14 TextRank summarization (deterministic sentence-graph power
      // iteration). The documents corpus has no sentence punctuation, so
      // pseudo-sentences are built from 12-token chunks (F13) — the rank
      // iteration then really runs per doc. Oracle checks n_docs and the
      // summary-sentence count (= min(2, ceil(tokens/12)), pure arithmetic);
      // n_bad counts non-extractive summary sentences — zero by contract.
      val sumBadUdf = udf { (t: String) =>
        val sdoc = TextStats.chunk(t, 12).mkString(". ")
        val ss = graft.functions.TextRank.summarize(sdoc, 2)
        (ss.length, ss.count(x => !sdoc.contains(x)))
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", sumBadUdf($"text").as("s"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"s._1".cast("long")).as("n_summary_sentences"),
          sum($"s._2".cast("long")).as("n_bad")
        )
        .orderBy($"lang")
    },
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(least(2, CAST(ceil(len(string_split_regex(text,'\s+')) / 12.0) AS BIGINT))) AS BIGINT) AS n_summary_sentences,
        |  CAST(0 AS BIGINT) AS n_bad
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("t_fingerprint", (s, dir) => {
      import s.implicits._
      // native codegen'd expression; distinct fingerprints == distinct texts
      s.read.parquet(pq(dir, "documents"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(fingerprint64($"text")).as("n_fingerprints")
        )
    },
      // full SQL mirrors of the text-analysis kernels (langId / classify /
      // quality / fingerprint). Caveat shared by all four: Java's
      // Character.isWhitespace and RE2's \s differ on exotic whitespace
      // (U+000B, U+2000-U+200A, ...) — the documents corpus contains none
      // (asserted while authoring), so the mirrors are exact here.
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT rtrim(regexp_replace(text, '\s+', ' ', 'g'), ' ')) AS n_fingerprints
        |FROM documents""".stripMargin),
    Query("t_repetition", (s, dir) => {
      import s.implicits._
      // Gopher-style repetition signals as exact integer numerators /
      // denominators (fractions would float-hash-mismatch the oracle):
      // top bigram occurrences, duplicated-trigram positions, per lang
      val repUdf = udf((t: String) => TextStats.repetitionStats(t))
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", repUdf($"text").as("r"))
        .select($"lang", $"r" (0).as("top2"), $"r" (1).as("n2"),
          $"r" (2).as("dup3"), $"r" (3).as("n3"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"top2").as("sum_top2"),
          max($"top2").as("max_top2"),
          sum($"n2").as("sum_bigrams"),
          sum($"dup3").as("sum_dup3"),
          sum($"n3").as("sum_3grams"),
          sum(when($"dup3" > 0, 1L).otherwise(0L)).as("n_docs_with_dup3")
        )
        .orderBy($"lang")
    },
      // every doc counts in n_docs (LEFT JOIN from documents + coalesce):
      // a <2-token doc has no bigram rows but the Spark side still reports
      // it with all-zero stats
      """WITH tok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w,
        |         generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
        |  FROM documents),
        |tok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
        |        FROM tok0 WHERE w <> ''),
        |grams AS (SELECT doc_id,
        |    w || ' ' || lead(w,1) OVER win AS g2,
        |    w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win AS g3
        |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        |c2 AS (SELECT doc_id, g2, count(*) AS c FROM grams WHERE g2 IS NOT NULL GROUP BY 1,2),
        |per2 AS (SELECT doc_id, max(c) AS top2, CAST(sum(c) AS BIGINT) AS n2 FROM c2 GROUP BY 1),
        |c3 AS (SELECT doc_id, g3, count(*) AS c FROM grams WHERE g3 IS NOT NULL GROUP BY 1,2),
        |per3 AS (SELECT doc_id, CAST(sum(CASE WHEN c>=2 THEN c ELSE 0 END) AS BIGINT) AS dup3,
        |                CAST(sum(c) AS BIGINT) AS n3 FROM c3 GROUP BY 1)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(coalesce(top2,0)) AS BIGINT) AS sum_top2,
        |  CAST(max(coalesce(top2,0)) AS BIGINT) AS max_top2,
        |  CAST(sum(coalesce(n2,0)) AS BIGINT) AS sum_bigrams,
        |  CAST(sum(coalesce(dup3,0)) AS BIGINT) AS sum_dup3,
        |  CAST(sum(coalesce(n3,0)) AS BIGINT) AS sum_3grams,
        |  CAST(sum(CASE WHEN coalesce(dup3,0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_dup3
        |FROM documents d LEFT JOIN per2 USING (doc_id) LEFT JOIN per3 USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("t_heavy_hitters", (s, dir) => {
      import s.implicits._
      // Misra-Gries(k=64) sketch over the corpus token stream. The oracle
      // computes the TRUE heavy set (count*65 > N -- above the N/(k+1)
      // noise floor, so presence in the sketch is GUARANTEED, not
      // probabilistic) with exact counts; in_sketch is the live sketch
      // membership and must be uniformly true. The 64-entry sketch is the
      // only thing the driver ever holds.
      // three consumers (sketch pass, exact counts, total) share one
      // tokenize+explode pass via the cache; Verify/Bench clearCache()
      // between ops
      val toks = s.read.parquet(pq(dir, "documents"))
        .select(explode(TextStats.lowerTokensUdf($"text")).as("w"))
        .cache()
      val sketch = toks.as[String]
        .select(graft.operators.HeavyHitters.MisraGries(64).toColumn)
        .head()
      val exact = toks.groupBy($"w").agg(count(lit(1)).as("n"))
      exact
        .crossJoin(broadcast(toks.agg(count(lit(1)).as("__N"))))
        .filter($"n" * 65 > $"__N")
        .select($"w".as("token"), $"n",
          $"w".isInCollection(sketch.keySet).as("in_sketch"))
        .orderBy($"token")
    },
      // TRUE heavy set with exact counts; in_sketch = TRUE is the provable
      // Misra-Gries no-false-negative guarantee above the N/(k+1) floor
      raw"""WITH ht0 AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |ht AS (SELECT w FROM ht0 WHERE w <> ''),
        |hc AS (SELECT w, count(*) AS n FROM ht GROUP BY 1),
        |htot AS (SELECT count(*) AS tot FROM ht)
        |SELECT w AS token, CAST(n AS BIGINT) AS n, TRUE AS in_sketch
        |FROM hc, htot WHERE n * 65 > tot
        |ORDER BY token""".stripMargin),
    Query("t_unigram_lm", (s, dir) => {
      import s.implicits._
      // two-phase corpus-LM scoring (CCNet shape): top-500 vocabulary
      // aggregated from the corpus itself, broadcast, every doc scored
      // map-only. commonness = summed corpus frequency of in-vocab
      // tokens (integer analog of negative log-perplexity); the oracle
      // rebuilds the identical vocabulary (count DESC, token ASC — a
      // total order, so the V-boundary is deterministic) and re-scores.
      val d = s.read.parquet(pq(dir, "documents"))
      val scored = graft.operators.UnigramLm.scoreDocs(d, "doc_id", "text", topV = 500)
      d.select($"doc_id", $"lang")
        .join(scored, Seq("doc_id"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("n_tokens"),
          sum($"n_oov").as("n_oov"),
          sum($"commonness").as("sum_commonness")
        )
        .orderBy($"lang")
    },
      // mirror of UnigramLm.scoreDocs(topV=500): same tokenization, vocab
      // re-ranked by (count DESC, token ASC), LEFT JOIN scores each token,
      // per-doc LEFT JOIN keeps token-less docs
      raw"""WITH utok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |utok AS (SELECT doc_id, w FROM utok0 WHERE w <> ''),
        |vc AS (SELECT w, count(*) AS cnt FROM utok GROUP BY 1),
        |vocab AS (
        |  SELECT w, cnt FROM (
        |    SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rk FROM vc)
        |  WHERE rk <= 500),
        |perdoc AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |    sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov,
        |    coalesce(sum(v.cnt), 0) AS commonness
        |  FROM utok t LEFT JOIN vocab v ON t.w = v.w
        |  GROUP BY 1)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(coalesce(sum(p.n_tokens), 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(p.n_oov), 0) AS BIGINT) AS n_oov,
        |  CAST(coalesce(sum(p.commonness), 0) AS BIGINT) AS sum_commonness
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("t_bigram_fluency", (s, dir) => {
      import s.implicits._
      // the word-ORDER-sensitive half of the CCNet filter (what
      // perplexity adds over unigram stats): every doc is scored twice —
      // as-is and token-REVERSED (identical unigram profile, destroyed
      // order) — against a bigram table trained on the original variant
      // only. The synthetic corpus is near-i.i.d. at the word level
      // (reversal alone barely moves its bigram mass), so fluent
      // structure is INJECTED the d_span_dedup way: a fixed 30-word
      // ordered chain appended to every doc. Its 29 chain bigrams each
      // occur ~n_docs times — they dominate the small top-64 table — and
      // reversal destroys every one of them, so orig docs clear the keep
      // gate (avg in-vocab frequency >= n_docs/20, corpus-size-relative
      // hence sf-invariant) and reversed docs fall far below it.
      val chain = "amber basalt cedar dune ember fjord grove harbor inlet " +
        "juniper kelp lagoon marble nectar opal prairie quartz reef summit " +
        "tundra umber violet willow xenon yarrow zephyr azure boulder canyon delta"
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"lang", concat($"text", lit(" " + chain)).as("text"))
      val nDocs = d.count()
      val variantUdf = udf((t: String, rev: Boolean) => {
        val ws = graft.functions.TextStats.tokens(if (t == null) "" else t.toLowerCase)
        (if (rev) ws.reverse else ws).mkString(" ")
      })
      val orig = d.select($"doc_id", $"lang", lit("orig").as("variant"),
        variantUdf($"text", lit(false)).as("vtext"))
      val variants = orig.unionByName(d.select($"doc_id", $"lang", lit("rev").as("variant"),
        variantUdf($"text", lit(true)).as("vtext")))
      val tbl = graft.operators.BigramLm.table(orig, "vtext", topB = 64)
      graft.operators.BigramLm.scoreWith(tbl, variants, "vtext")
        .groupBy($"variant", $"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_bigrams").as("n_bigrams"),
          sum($"n_oov_bigrams").as("n_oov_bigrams"),
          sum($"fluency").as("sum_fluency"),
          sum(when($"fluency" * lit(20L) >= $"n_bigrams" * lit(nDocs), 1L)
            .otherwise(0L)).as("n_kept")
        )
        .orderBy($"variant", $"lang")
    },
      // bigram-LM fluency: the same appended 30-word chain, both variants
      // from one renumbered token sequence (rev = ORDER BY -i), bigrams by
      // lead(), top-64 table from the orig variant with the (cnt DESC, w1,
      // w2) total order, corpus-size-relative integer keep gate mirrored
      // verbatim
      raw"""WITH bsrc AS (
        |  SELECT doc_id, lang, text ||
        |    ' amber basalt cedar dune ember fjord grove harbor inlet' ||
        |    ' juniper kelp lagoon marble nectar opal prairie quartz reef summit' ||
        |    ' tundra umber violet willow xenon yarrow zephyr azure boulder canyon delta'
        |    AS text
        |  FROM documents),
        |${tokCtesOver("bsrc", "bg")},
        |var AS (
        |  SELECT doc_id, 'orig' AS variant, w, i FROM bgtok
        |  UNION ALL
        |  SELECT doc_id, 'rev' AS variant, w, -i AS i FROM bgtok),
        |big0 AS (
        |  SELECT doc_id, variant, w AS w1,
        |         lead(w) OVER (PARTITION BY doc_id, variant ORDER BY i) AS w2
        |  FROM var),
        |big AS (SELECT * FROM big0 WHERE w2 IS NOT NULL),
        |vc AS (SELECT w1, w2, count(*) AS cnt FROM big WHERE variant = 'orig' GROUP BY 1, 2),
        |vocab AS (
        |  SELECT w1, w2, cnt FROM (
        |    SELECT w1, w2, cnt, row_number() OVER (ORDER BY cnt DESC, w1, w2) AS rk FROM vc)
        |  WHERE rk <= 64),
        |perdoc AS (
        |  SELECT b.doc_id, b.variant, count(*) AS nb,
        |         sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS noov,
        |         coalesce(sum(v.cnt), 0) AS flu
        |  FROM big b LEFT JOIN vocab v ON b.w1 = v.w1 AND b.w2 = v.w2
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.doc_id, d.lang, vr.variant,
        |         coalesce(p.nb, 0) AS nb, coalesce(p.noov, 0) AS noov,
        |         coalesce(p.flu, 0) AS flu
        |  FROM bsrc d
        |  CROSS JOIN (SELECT 'orig' AS variant UNION ALL SELECT 'rev') vr
        |  LEFT JOIN perdoc p ON d.doc_id = p.doc_id AND vr.variant = p.variant)
        |SELECT variant, lang, count(*) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_bigrams,
        |  CAST(sum(noov) AS BIGINT) AS n_oov_bigrams,
        |  CAST(sum(flu) AS BIGINT) AS sum_fluency,
        |  CAST(sum(CASE WHEN flu * 20 >= nb * (SELECT count(*) FROM documents)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("t_bpe_merges", (s, dir) => {
      import s.implicits._
      // distributed BPE merge learning (Sennrich et al. 2016): 8 rounds
      // over the word vocabulary — each round one pair-count aggregation
      // plus a 1-row argmax to the driver; output pins both the CHOICE
      // (t1, t2, cnt; ties by (t1,t2) asc) and the APPLICATION
      // (tokens_after counts the corpus after the greedy overlap-aware
      // merge). The oracle replays all 8 rounds as chained CTEs over the
      // identical two-space symbolization + literal-replace merge step,
      // so both engines share greedy semantics by construction.
      val d = s.read.parquet(pq(dir, "documents"))
      graft.operators.BpeTrain.learn(s, d, "text", numMerges = 8)
        .orderBy($"rank")
    },
      // 8-round BPE replay: stage i = pair counts over the two-space
      // symbolization (list-indexed adjacency), argmax by (cnt DESC, t1,
      // t2), literal-replace merge application (leftmost non-overlapping
      // replace == greedy BPE under the double-space boundary scheme)
      bpeOracleSql(8)),
    Query("t_bpe_merges_deep", (s, dir) => {
      import s.implicits._
      // production-DEPTH merge learning (VERDICT r4 ask #4): 64 merges
      // (8x the distributed query's depth; the sf0.001 corpus exhausts
      // its pair supply at 89, so 64 is the every-scale-safe depth — the
      // in-memory trainer itself is spec-proven against the sequential
      // reference and handles 30k-merge production runs architecturally)
      // through BpeTrain.learnInMemory — the vocabulary collapses
      // distributed, collects once (the k-means-centroids shape), and the
      // merge loop runs with incremental pair-count maintenance + a
      // lazy-invalidation heap: ZERO Spark jobs per merge vs 2 in the
      // 8-round distributed path above, with bit-identical semantics
      // (UTF-8-byte tie order, overlap-counted argmax, greedy
      // non-overlapping application). The oracle replays all 64 rounds
      // as chained literal-replace CTEs — the exact sequential contract,
      // not a batch approximation.
      val d = s.read.parquet(pq(dir, "documents"))
      graft.operators.BpeTrain.learnInMemory(s, d, "text", numMerges = 64)
        .orderBy($"rank")
    }, bpeOracleSql(64)),
    Query("t_cms_sketch", (s, dir) => {
      import s.implicits._
      // Count-min over the corpus token stream (depth 4 × width 256):
      // probes cover a frequent token, mid tokens, and an absent one.
      // Both the true counts (LEFT join, 0 for absent) and the CMS
      // estimates are exact integers the oracle reproduces — the
      // over-estimate deltas are data, not tolerance.
      val d = s.read.parquet(pq(dir, "documents"))
      val toks = d.select(explode(graft.functions.TextStats.lowerTokensUdf($"text")).as("w"))
        .cache()
      val cells = graft.operators.CountMin.table(toks, "w", depth = 4, width = 256)
      val probes = Seq("data", "query", "spark", "zzznever").toDF("p")
      val est = graft.operators.CountMin.estimate(cells, probes, "p", depth = 4, width = 256)
      val truth = toks.groupBy($"w".as("p")).agg(count(lit(1)).as("n_true"))
      est.join(truth, Seq("p"), "left")
        .select($"p".as("token"), coalesce($"n_true", lit(0L)).as("n_true"), $"n_est")
        .orderBy($"token")
    }, {
      // CMS replay: per-row hash = md5("i|w") 4-hex-digit prefix mod 256;
      // cell table and min-over-rows estimates both exact integers
      def h4(arg: String) = md5PrefixSql(arg, 4)
      s"""WITH ${tokCtesOver("documents", "cm")},
        |cmr AS (SELECT i AS ri FROM range(0, 4) r(i)),
        |cmcells AS (SELECT ri AS i, (${h4("CAST(ri AS VARCHAR) || '|' || w")}) % 256 AS b,
        |    count(*) AS c
        |  FROM cmtok CROSS JOIN cmr GROUP BY 1, 2),
        |cmp(p) AS (VALUES ('data'), ('query'), ('spark'), ('zzznever')),
        |cmpe AS (SELECT p.p, min(coalesce(t.c, 0)) AS n_est
        |  FROM cmp p CROSS JOIN cmr r
        |  LEFT JOIN cmcells t ON t.i = r.ri
        |    AND t.b = (${h4("CAST(r.ri AS VARCHAR) || '|' || p.p")}) % 256
        |  GROUP BY 1),
        |cmtrue AS (SELECT w AS p, count(*) AS n FROM cmtok GROUP BY 1)
        |SELECT e.p AS token, CAST(coalesce(tr.n, 0) AS BIGINT) AS n_true,
        |  CAST(e.n_est AS BIGINT) AS n_est
        |FROM cmpe e LEFT JOIN cmtrue tr USING (p)
        |ORDER BY token""".stripMargin
    }),
    Query("t_hll_distinct", (s, dir) => {
      import s.implicits._
      // HyperLogLog register tables over two cardinalities (distinct
      // tokens, distinct doc ids): the md5-prefix hash and the
      // bin()-length rho make every register deterministic DATA the
      // oracle reproduces exactly — the sketch is verified at the
      // register level, the float estimate only spec-tested.
      val d = s.read.parquet(pq(dir, "documents"))
      def leg(kind: String, vals: org.apache.spark.sql.DataFrame) = {
        val regs = graft.operators.HllSketch.registers(vals, "v")
        regs.agg(
            count(lit(1)).as("n_buckets"),
            sum($"reg").as("sum_regs"),
            max($"reg").as("max_reg"))
          .crossJoin(broadcast(vals.agg(countDistinct($"v").as("n_exact"))))
          .select(lit(kind).as("kind"), $"n_exact", $"n_buckets", $"sum_regs", $"max_reg")
      }
      // no upstream .distinct(): registers' max(rho) is duplicate-
      // insensitive and countDistinct dedups once — a pre-distinct
      // would just run the same shuffle twice
      val words = d.select(explode(split(lower($"text"), "\\s+")).as("v"))
        .filter($"v" =!= "")
      val ids = d.select($"doc_id".as("v"))
      leg("tokens", words).union(leg("doc_ids", ids)).orderBy($"kind")
    }, {
      // HLL register replay: same md5-prefix 32-bit hash (strpos hex
      // arithmetic), bucket = top 8 bits, rho = 25 - length(bin(suffix))
      // (bin drops leading zeros in both engines; suffix 0 pinned to 25)
      def hash32(v: String) = md5PrefixSql(v, 8)
      def leg(kind: String, p: String, srcSql: String, v: String) =
        s"""${p}src AS (SELECT DISTINCT $v AS v FROM $srcSql),
          |${p}h AS (SELECT ${hash32("CAST(v AS VARCHAR)")} AS h FROM ${p}src),
          |${p}r AS (SELECT h // 16777216 AS bucket,
          |  CASE WHEN h % 16777216 = 0 THEN 25 ELSE 25 - length(bin(h % 16777216)) END AS rho
          |  FROM ${p}h),
          |${p}g AS (SELECT bucket, max(rho) AS reg FROM ${p}r GROUP BY 1),
          |${p}out AS (SELECT '$kind' AS kind,
          |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}src) AS n_exact,
          |  CAST(count(*) AS BIGINT) AS n_buckets,
          |  CAST(sum(reg) AS BIGINT) AS sum_regs,
          |  CAST(max(reg) AS BIGINT) AS max_reg FROM ${p}g)""".stripMargin
      s"""WITH hltok0 AS (
        |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents),
        |${leg("tokens", "hl1", "(SELECT w FROM hltok0 WHERE w <> '')", "w")},
        |${leg("doc_ids", "hl2", "documents", "doc_id")}
        |SELECT * FROM (SELECT * FROM hl1out UNION ALL SELECT * FROM hl2out)
        |ORDER BY kind""".stripMargin
    }),
    Query("t_theta_sketch", (s, dir) => {
      import s.implicits._
      // KMV/theta sketch SET ALGEBRA — the cross-snapshot question HLL
      // registers cannot answer: how many distinct word TRIGRAMS do the
      // even- and odd-doc_id halves of the corpus share? (Trigrams, not
      // tokens: the fixture vocabulary is ~31 words — token sketches
      // would be unsaturated and the check vacuous; trigram cardinality
      // is ~10k per side with a ~4k overlap, so both sketches saturate
      // and every output quantity is distinct.) Sketch content is
      // deterministic md5-prefix data (the k minimum distinct 48-bit
      // hashes), so theta, the sketch sizes, and the common-below-theta
      // count are exact integers the oracle replays; the float
      // distinct/intersection ESTIMATES stay spec-side (KmvSketchSpec).
      // Build is a typed Aggregator: each input partition reduces to
      // ≤k longs map-side, the exchange carries P partial buffers.
      val k = 256
      val d = s.read.parquet(pq(dir, "documents"))
      val gramsU = udf((t: String) =>
        if (t == null) Array.empty[String] else TextStats.wordGrams(t, 3))
      val toks = d.select(
          pmod($"doc_id", lit(2)).cast("int").as("side"),
          explode(gramsU($"text")).as("w"))
      val agg = udaf(graft.operators.KmvSketch.Kmv(k),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      def leg(side: Int) = toks.filter($"side" === lit(side))
        .select($"w", graft.operators.KmvSketch.hash48($"w").as("h"))
        .agg(agg($"h").as("sk"), countDistinct($"w").as("n_exact"))
      // exact intersection (the reference answer the estimate targets):
      // distinct per side then INTERSECT — the only full-width pass, and
      // exactly what the sketch makes unnecessary at 10^12 rows
      val exactCommon = toks.filter($"side" === 0).select($"w").distinct()
        .intersect(toks.filter($"side" === 1).select($"w").distinct())
        .agg(count(lit(1)).as("n_exact_common"))
      val thA = graft.operators.KmvSketch.thetaCol($"ska", k)
      val thB = graft.operators.KmvSketch.thetaCol($"skb", k)
      leg(0).select($"sk".as("ska"), $"n_exact".as("n_exact_a"))
        .crossJoin(leg(1).select($"sk".as("skb"), $"n_exact".as("n_exact_b")))
        .crossJoin(exactCommon)
        .select(
          $"n_exact_a", $"n_exact_b", $"n_exact_common",
          size($"ska").cast("long").as("n_sk_a"),
          size($"skb").cast("long").as("n_sk_b"),
          thA.as("theta_a"), thB.as("theta_b"),
          size(filter(array_intersect($"ska", $"skb"),
            h => h < least(thA, thB))).cast("long").as("n_common_sk"))
    }, {
      // KMV/theta sketch mirror: the k minimum DISTINCT 12-hex-digit
      // md5-prefix hashes per side are plain ORDER BY h LIMIT k in SQL;
      // theta is the k-th minimum (or 2^48 when unsaturated), and the
      // common-below-theta count is an exact integer join. Value domain is
      // word trigrams (same list_transform construction as the ngram-pair
      // oracles) so both sketches saturate at k=256.
      val h12 = md5PrefixSql("w", 12)
      s"""WITH tsw0 AS (
        |  SELECT doc_id % 2 AS side, string_split_regex(lower(text), '\\s+') AS ws
        |  FROM documents
        |  WHERE length(string_split_regex(lower(text), '\\s+')) >= 3),
        |tsw AS (SELECT DISTINCT side,
        |    unnest(list_transform(generate_series(1, len(ws)-2),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS w
        |  FROM tsw0),
        |tsh AS (SELECT side, w, $h12 AS h FROM tsw),
        |tska AS (SELECT DISTINCT h FROM tsh WHERE side = 0 ORDER BY h LIMIT 256),
        |tskb AS (SELECT DISTINCT h FROM tsh WHERE side = 1 ORDER BY h LIMIT 256),
        |tsa AS (SELECT CAST(count(*) AS BIGINT) AS n_sk_a,
        |  CAST(CASE WHEN count(*) < 256 THEN 281474976710656 ELSE max(h) END AS BIGINT) AS theta_a
        |  FROM tska),
        |tsb AS (SELECT CAST(count(*) AS BIGINT) AS n_sk_b,
        |  CAST(CASE WHEN count(*) < 256 THEN 281474976710656 ELSE max(h) END AS BIGINT) AS theta_b
        |  FROM tskb),
        |tsna AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact_a FROM tsh WHERE side = 0),
        |tsnb AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact_b FROM tsh WHERE side = 1),
        |tsnc AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_common FROM
        |  (SELECT w FROM tsh WHERE side = 0 INTERSECT SELECT w FROM tsh WHERE side = 1)),
        |tscs AS (SELECT CAST(count(*) AS BIGINT) AS n_common_sk
        |  FROM tska JOIN tskb USING (h), tsa, tsb
        |  WHERE h < least(theta_a, theta_b))
        |SELECT n_exact_a, n_exact_b, n_exact_common, n_sk_a, n_sk_b,
        |  theta_a, theta_b, n_common_sk
        |FROM tsna, tsnb, tsnc, tsa, tsb, tscs""".stripMargin
    }),
    Query("t_hash_classifier", (s, dir) => {
      import s.implicits._
      // hashed-linear classifier inference (fastText-quality-filter shape)
      // with a deterministic integer weight table standing in for trained
      // weights: w[b] = ((b*37 + 11) % 201) - 100. Scores are exact
      // integer sums, decisions are sign tests, and the oracle replays
      // bucket + weight + score from md5 hex arithmetic.
      val weights = graft.functions.SqlFunctions.DefaultGateWeights
      val scoreUdf = udf((t: String) => graft.functions.HashClassifier.score(t, weights))
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", scoreUdf($"text").as("s"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"s._1" > 0, 1L).otherwise(0L)).as("n_keep"),
          sum($"s._1").as("sum_score"),
          sum($"s._2").as("n_tokens")
        )
        .orderBy($"lang")
    },
      // mirror of HashClassifier.score with the driver's weight formula:
      // bucket = int(md5(lower(token))[0..4)) % 256 via strpos arithmetic,
      // weight = ((b*37 + 11) % 201) - 100, per-doc integer score summed
      // per lang (LEFT JOIN keeps token-less docs as score-0 non-keeps)
      raw"""WITH ctok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |ctok AS (SELECT doc_id, lower(w) AS w FROM ctok0 WHERE w <> ''),
        |cb AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1)) % 256 AS b
        |  FROM ctok),
        |perdoc AS (
        |  SELECT doc_id, sum(((b * 37 + 11) % 201) - 100) AS score,
        |         count(*) AS toks
        |  FROM cb GROUP BY 1)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN p.score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(coalesce(sum(p.score), 0) AS BIGINT) AS sum_score,
        |  CAST(coalesce(sum(p.toks), 0) AS BIGINT) AS n_tokens
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("t_pmi_pairs", (s, dir) => {
      import s.implicits._
      // Collocation mining: top-20 adjacent pairs by log-free PMI
      // (scaled-integer ratio — every score a deterministic BIGINT),
      // minCount 5, ties broken by (w1, w2) so the cut is a total order.
      graft.operators.Collocations.pmiPairs(
        s.read.parquet(pq(dir, "documents")), "text", minCount = 5, topK = 20)
        .orderBy($"score".desc, $"w1", $"w2")
    },
      // PMI replay: unigrams + lead-window bigrams off the shared tokenize
      // CTE, scaled-integer ratio score, (score DESC, w1, w2) total order
      s"""WITH ${tokCtesOver("documents", "pm")},
        |pmu AS (SELECT w, count(*) AS c FROM pmtok GROUP BY 1),
        |pmn AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM pmu),
        |pmb AS (SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        |  FROM pmtok),
        |pmp AS (SELECT w1, w2, count(*) AS n_pair FROM pmb WHERE w2 IS NOT NULL
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |pms AS (SELECT p.w1, p.w2, p.n_pair, u1.c AS n_w1, u2.c AS n_w2,
        |  (p.n_pair * n.n_total * 1000000) // (u1.c * u2.c) AS score
        |  FROM pmp p JOIN pmu u1 ON u1.w = p.w1 JOIN pmu u2 ON u2.w = p.w2
        |  CROSS JOIN pmn n)
        |SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
        |  CAST(n_w1 AS BIGINT) AS n_w1, CAST(n_w2 AS BIGINT) AS n_w2,
        |  CAST(score AS BIGINT) AS score
        |FROM pms ORDER BY score DESC, w1, w2 LIMIT 20""".stripMargin),
    Query("t_quantile_sketch", (s, dir) => {
      import s.implicits._
      // Mergeable KLL quantile sketch over event values (integer micros).
      // Oracle contract: k = 2^17 >> corpus rows at every verify/bench sf
      // (events: 10k @ sf0.01, 100k @ sf0.1), so the sketch sits in its
      // exactness window and the answers equal a full sort's — the oracle
      // replays exact rank targeting ceil(phi·n) in SQL. Compaction (n >> k)
      // is exercised against the KLL error bound in TemporalQuantileSpec.
      val phis = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val agg = udaf(graft.operators.KllSketch.KllAgg(1 << 17, phis),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      s.read.parquet(pq(dir, "events"))
        .select(round($"value" * 1000000).cast("long").as("v"))
        .agg(agg($"v").as("qs"))
        .select(posexplode($"qs").as(Seq("i", "qv")))
        .select(element_at(array(phis.map(lit): _*), $"i" + 1).as("phi"), $"qv")
        .orderBy($"phi")
    },
      // exact rank targeting ceil(phi*n) in DOUBLE arithmetic on both sides
      // (identical IEEE ops -> identical rank even at representation edges)
      """WITH s AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
        |n AS (SELECT count(*) AS c FROM s),
        |q AS (SELECT CAST(unnest([0.01,0.1,0.25,0.5,0.75,0.9,0.99]) AS DOUBLE) AS phi)
        |SELECT phi, CAST(min(v) AS BIGINT) AS qv
        |FROM q CROSS JOIN n
        |JOIN r ON r.rn = GREATEST(1, CAST(ceil(phi * c) AS BIGINT))
        |GROUP BY phi ORDER BY phi""".stripMargin),
    Query("t_stats_incremental", (s, dir) => {
      import s.implicits._
      // Incremental corpus statistics WITHOUT rescan: stage 1 builds one
      // raw KLL sketch per commit batch (event_id % 8 plays the commit id —
      // the artifact a manifest would store beside its data files); stage 2
      // merges the 8 stored sketches into corpus quantiles. Associativity
      // makes merge(batch sketches) == sketch(full scan), so the oracle is
      // the SAME exact full-data rank targeting as t_quantile_sketch —
      // proving the incremental path loses nothing (exactness window).
      val phis = Seq(0.1, 0.5, 0.9)
      val k = 1 << 17
      val bufAgg = udaf(graft.operators.KllSketch.KllBufAgg(k),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      val mergeAgg = udaf(graft.operators.KllSketch.KllMergeAgg(k, phis),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.operators.KllBuf]())
      s.read.parquet(pq(dir, "events"))
        .select(($"event_id" % 8).as("commit"), round($"value" * 1000000).cast("long").as("v"))
        .groupBy($"commit")
        .agg(bufAgg($"v").as("sketch"))
        // product input encoders take one arg per case-class field
        .agg(mergeAgg($"sketch.k", $"sketch.n", $"sketch.coin",
          $"sketch.levels", $"sketch.sizes").as("qs"))
        .select(posexplode($"qs").as(Seq("i", "qv")))
        .select(element_at(array(phis.map(lit): _*), $"i" + 1).as("phi"), $"qv")
        .orderBy($"phi")
    },
      // merge(per-commit sketches) == full-scan answer (associativity in the
      // exactness window), so the oracle is the full-data rank targeting
      """WITH s AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
        |n AS (SELECT count(*) AS c FROM s),
        |q AS (SELECT CAST(unnest([0.1,0.5,0.9]) AS DOUBLE) AS phi)
        |SELECT phi, CAST(min(v) AS BIGINT) AS qv
        |FROM q CROSS JOIN n
        |JOIN r ON r.rn = GREATEST(1, CAST(ceil(phi * c) AS BIGINT))
        |GROUP BY phi ORDER BY phi""".stripMargin),
    Query("t_quantiles_by_group", (s, dir) => {
      import s.implicits._
      // Per-group KLL sketches: one sketch per lang, merged per-group by
      // the object aggregation (the shape a 100 TB per-domain length-
      // distribution job runs — partial sketches per partition, one merge
      // per group, never a per-group sort). Same exactness-window contract
      // as t_quantile_sketch: k >> any group's row count at verify/bench
      // scales, so per-group answers equal the full per-group sort.
      val phis = Seq(0.25, 0.5, 0.75, 0.95)
      val agg = udaf(graft.operators.KllSketch.KllAgg(1 << 17, phis),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", $"n_chars".cast("long").as("v"))
        .groupBy($"lang")
        .agg(agg($"v").as("qs"))
        .select($"lang", posexplode($"qs").as(Seq("i", "qv")))
        .select($"lang", element_at(array(phis.map(lit): _*), $"i" + 1).as("phi"), $"qv")
        .orderBy($"lang", $"phi")
    },
      """WITH s AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents),
        |r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS c FROM s),
        |q AS (SELECT CAST(unnest([0.25,0.5,0.75,0.95]) AS DOUBLE) AS phi)
        |SELECT lang, phi, CAST(min(v) AS BIGINT) AS qv
        |FROM q JOIN r ON r.rn = GREATEST(1, CAST(ceil(phi * c) AS BIGINT))
        |GROUP BY lang, phi ORDER BY lang, phi""".stripMargin),
    Query("t_unicode_norm", (s, dir) => {
      import s.implicits._
      // Unicode NFC canonicalization (codegen'd UnicodeNorm expression) —
      // the dedup canonical form. Both engines build the SAME mixed
      // composed/decomposed string (doc prefix + e+U+0301 + U+FB01 ligature
      // + fullwidth A + A+U+030A), then Spark runs our kernel and DuckDB its
      // reference nfc_normalize; lengths and md5 must agree per doc. NFKC
      // (no DuckDB mirror) is unit-tested in TemporalQuantileSpec.
      val docs = s.read.parquet(pq(dir, "documents"))
      val mixed = concat(substring($"text", 1, 40),
        lit(" e\u0301 \uFB01 \uFF21 A\u030A"))
      docs
        .select($"doc_id", mixed.as("s0"))
        .select($"doc_id", length($"s0").as("len_raw"),
          graft.functions.UnicodeNorm.nfcNorm($"s0").as("nfc"))
        .select($"doc_id", $"len_raw", length($"nfc").as("len_nfc"),
          md5($"nfc".cast("binary")).as("md5_nfc"))
        .orderBy($"doc_id")
    },
      // the same mixed composed/decomposed construction, normalized by
      // DuckDB's reference nfc_normalize: chr(769)=U+0301 combining acute,
      // chr(64257)=U+FB01 fi-ligature, chr(65313)=U+FF21 fullwidth A,
      // chr(778)=U+030A combining ring
      """WITH m AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' e' || chr(769) || ' ' || chr(64257) ||
        |      ' ' || chr(65313) || ' A' || chr(778) AS s0
        |  FROM documents)
        |SELECT doc_id, length(s0) AS len_raw,
        |  length(nfc_normalize(s0)) AS len_nfc,
        |  md5(nfc_normalize(s0)) AS md5_nfc
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("t_mojibake", (s, dir) => {
      import s.implicits._
      // Mojibake repair end to end: every doc gets a non-ASCII suffix
      // line (2-, 3-, and 4-byte UTF-8 plus cp1252 punctuation), then
      // doc_id % 3 corruption passes (UTF-8 bytes mis-decoded as sloppy
      // cp1252 — Mojibake.corrupt, the exact inverse of one repair
      // pass), then Mojibake.fix. Parity on REAL aggregates: every doc
      // must repair to byte-exact original (n_exact = n_docs), the
      // recovered corruption depth must sum to sum(doc_id % 3), and the
      // damage itself must have changed every k>0 doc (vacuity guard:
      // the repair undid something real). The body text is ASCII at all
      // sfs (checked), so depth is pinned by the suffix line alone.
      val suffix = " café – “niño”… 漢字 😀 straße"
      val corruptUdf = udf { (t: String, k: Int) =>
        var c = t
        var i = 0
        while (i < k) { c = graft.functions.Mojibake.corrupt(c); i += 1 }
        c
      }
      val fixUdf = udf((t: String) => graft.functions.Mojibake.fix(t))
      s.read.parquet(pq(dir, "documents"))
        .select(
          $"doc_id",
          concat($"text", lit("\n"), lit(suffix)).as("orig"),
          ($"doc_id" % 3).cast("int").as("k"))
        .withColumn("bad", corruptUdf($"orig", $"k"))
        .withColumn("f", fixUdf($"bad"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"f._1" === $"orig", 1L).otherwise(0L)).as("n_exact"),
          sum($"f._2".cast("long")).as("sum_depth"),
          sum(when($"k" > 0 && $"bad" =!= $"orig", 1L).otherwise(0L)).as("n_damaged"))
    },
      // mirror of t_mojibake's invariants: the repair is exact for every
      // doc (n_exact = n_docs), the recovered depth is the injected pass
      // count, and every corrupted doc was really changed — all derivable
      // from doc_id arithmetic alone because the repair must be lossless
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(doc_id % 3) AS BIGINT) AS sum_depth,
        |  CAST(sum(CASE WHEN doc_id % 3 > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_damaged
        |FROM documents""".stripMargin),
    Query("t_dist_drift", (s, dir) => {
      import s.implicits._
      // crawl-over-crawl drift monitor: even/odd doc_id halves stand in for
      // two crawl snapshots; top-15 drifting tokens of the union top-300
      // vocabulary by the exact scaled-L1 numerator (no float division —
      // the ranking is engine-reproducible).
      val d = s.read.parquet(pq(dir, "documents"))
      graft.operators.CorpusDrift.tokenDrift(
        d.filter($"doc_id" % 2 === 0), d.filter($"doc_id" % 2 === 1),
        "text", topV = 300, k = 15)
    },
      // Full mirror of the drift monitor: same halves, same union top-300
      // vocabulary cut, same in-vocab totals, same scaled-L1 integer rank.
      raw"""WITH ha AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        |hb AS (SELECT text FROM documents WHERE doc_id % 2 = 1),
        |ta0 AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM ha),
        |tb0 AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM hb),
        |ca AS (SELECT w, count(*) AS c_a FROM ta0 WHERE w <> '' GROUP BY 1),
        |cb AS (SELECT w, count(*) AS c_b FROM tb0 WHERE w <> '' GROUP BY 1),
        |merged AS (
        |  SELECT coalesce(ca.w, cb.w) AS w,
        |    CAST(coalesce(c_a, 0) AS BIGINT) AS c_a,
        |    CAST(coalesce(c_b, 0) AS BIGINT) AS c_b
        |  FROM ca FULL OUTER JOIN cb ON ca.w = cb.w),
        |vocab AS (SELECT * FROM merged ORDER BY c_a + c_b DESC, w LIMIT 300),
        |tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM vocab)
        |SELECT w, c_a, c_b,
        |  CAST(abs(c_a * n_b - c_b * n_a) AS BIGINT) AS drift_num
        |FROM vocab, tot
        |ORDER BY drift_num DESC, w LIMIT 15""".stripMargin),
    Query("t_train_classifier", (s, dir) => {
      import s.implicits._
      // in-cluster classifier TRAINING (the half HashClassifier defers to
      // an offline model): train a Rocchio centroid classifier on the
      // doc_id%5==0 seed split (label = lang), classify the held-out 80%,
      // return the confusion matrix. Training is one map-side-combined
      // (label, token) aggregation + a bounded top-V vocabulary; inference
      // is map-only over the broadcast V*C model; the argmax is decided by
      // exact integer cross-multiplication, so DuckDB replays the whole
      // train-then-classify path bit-for-bit.
      val d = s.read.parquet(pq(dir, "documents"))
      val train = d.filter($"doc_id" % 5 === 0)
      val test = d.filter($"doc_id" % 5 =!= 0)
      Rocchio.confusion(train, test, "doc_id", "lang", "text", topV = 400)
    },
      // Full mirror of the Rocchio train-then-classify path: same top-400
      // vocabulary (count DESC, token ASC), same per-class totals, same
      // exact cross-multiplied argmax with ties to the smallest label.
      raw"""WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
        |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
        |rtok0 AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |          FROM train),
        |rtok AS (SELECT doc_id, w FROM rtok0 WHERE w <> ''),
        |cnt AS (SELECT d.lang AS label, t.w, count(*) AS n_wc
        |        FROM rtok t JOIN train d USING (doc_id) GROUP BY 1, 2),
        |vocab AS (SELECT w FROM (SELECT w, sum(n_wc) AS g FROM cnt GROUP BY 1)
        |          ORDER BY g DESC, w LIMIT 400),
        |cv AS (SELECT label, c.w, n_wc FROM cnt c JOIN vocab v ON c.w = v.w),
        |tot AS (SELECT label, sum(n_wc) AS nc FROM cv GROUP BY 1),
        |stok0 AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |          FROM test),
        |stok AS (SELECT doc_id, w FROM stok0 WHERE w <> ''),
        |num AS (SELECT s.doc_id, c.label, sum(c.n_wc) AS num
        |        FROM stok s JOIN cv c ON s.w = c.w GROUP BY 1, 2),
        |allc AS (SELECT t.doc_id, tt.label,
        |           CAST(coalesce(n.num, 0) AS BIGINT) AS num,
        |           CAST(greatest(tt.nc, 1) AS BIGINT) AS den
        |         FROM test t CROSS JOIN tot tt
        |         LEFT JOIN num n ON n.doc_id = t.doc_id AND n.label = tt.label),
        |cmp AS (SELECT a.doc_id, a.label,
        |          sum(CASE WHEN a.num * b.den > b.num * a.den
        |                     OR (a.num * b.den = b.num * a.den AND a.label <= b.label)
        |              THEN 1 ELSE 0 END) AS wins, count(*) AS nclasses
        |        FROM allc a JOIN allc b ON a.doc_id = b.doc_id GROUP BY 1, 2),
        |pred AS (SELECT doc_id, label AS predicted FROM cmp WHERE wins = nclasses)
        |SELECT t.lang AS actual, p.predicted,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(t.doc_id) AS BIGINT) AS sum_ids
        |FROM test t JOIN pred p USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("t_logreg_train", (s, dir) => {
      import s.implicits._
      // GRADIENT-DESCENT classifier training in the engine (LogReg
      // scaladoc): a linear boilerplate/spam-pollution probe. Pollution
      // is INJECTED the d_span_dedup way — doc_id%3==0 docs get a fixed
      // ad-boilerplate tail appended — so learnability is by
      // construction (the synthetic corpus's text does not vary by its
      // lang/source labels). Features per doc (integers, centered by
      // fixed constants so epoch-1 full-batch GD is conditioned):
      // bias, stopword-set rate −6, capped avg word length ×10 −45,
      // long-word (≥7 chars) rate −25; 3 epochs on the doc_id%5==0
      // split at lr 1/(16n), confusion on the held-out 80% (94% held-out
      // accuracy at sf0.01). Every weight and every confusion cell is an
      // exact BIGINT (scaled-integer hard-sigmoid arithmetic
      // throughout), so the DuckDB mirror replays training epoch by
      // epoch — the learned MODEL is oracle-checked, not just its
      // predictions. Output: (metric, value) rows.
      val d = s.read.parquet(pq(dir, "documents"))
      val f = d
        .select($"doc_id",
          when($"doc_id" % 3 === 0, 1L).otherwise(0L).as("y"),
          when($"doc_id" % 3 === 0, concat($"text", lit(BoilerplateTail)))
            .otherwise($"text").as("text"))
        .select($"doc_id", $"y",
          expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')").as("toks"))
        .select($"doc_id", $"y",
          size($"toks").cast("long").as("nt"),
          expr("CAST(size(filter(toks, t -> t IN ('the','and','of','to','a','in','is','it'))) AS BIGINT)")
            .as("nsw"),
          expr("CAST(size(filter(toks, t -> length(t) >= 7)) AS BIGINT)").as("nlong"),
          expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))").as("swl"))
        .filter($"nt" > 0)
        .select($"doc_id", $"y",
          lit(1L).as("x0"),
          expr("(100L * nsw) div nt - 6L").as("x1"),
          expr("least((10L * swl) div nt, 200L) - 45L").as("x2"),
          expr("(100L * nlong) div nt - 25L").as("x3"))
      val xs = Seq("x0", "x1", "x2", "x3")
      val train = f.filter($"doc_id" % 5 === 0).cache()
      val test = f.filter($"doc_id" % 5 =!= 0)
      val (w, nTrain) = graft.operators.LogReg
        .trainHardSigmoid(train, xs, "y", epochs = 3, lrDen = 16L)
      val conf = test
        .select($"y", graft.operators.LogReg.predictExpr(xs, w).as("p"))
        .agg(
          sum(when($"y" === 1L && $"p" === 1L, 1L).otherwise(0L)).as("tp"),
          sum(when($"y" === 0L && $"p" === 1L, 1L).otherwise(0L)).as("fp"),
          sum(when($"y" === 1L && $"p" === 0L, 1L).otherwise(0L)).as("fn"),
          sum(when($"y" === 0L && $"p" === 0L, 1L).otherwise(0L)).as("tn"),
          count(lit(1)).as("n_test"))
        .head()
      train.unpersist()
      (w.zipWithIndex.map { case (wi, i) => (s"w$i", wi) }.toSeq ++ Seq(
        ("n_train", nTrain), ("n_test", conf.getLong(4)),
        ("tp", conf.getLong(0)), ("fp", conf.getLong(1)),
        ("fn", conf.getLong(2)), ("tn", conf.getLong(3))))
        .toDF("metric", "value").orderBy("metric")
    }, {
      // Full GD-training replay: 3 unrolled epochs of the hard-sigmoid
      // integer recurrence (LogReg scaladoc), the learned weights AND the
      // held-out confusion both exact BIGINTs
      val epochCtes = (1 to 3).map { e =>
        val pw = s"lw${e - 1}"
        s"""le$e AS (SELECT t.y, t.x0, t.x1, t.x2, t.x3,
           |  greatest(0, least(1024, 512 + (w.w0*t.x0 + w.w1*t.x1 + w.w2*t.x2 + w.w3*t.x3) // 4)) - 1024*t.y AS err
           |  FROM lrtrain t CROSS JOIN $pw w),
           |lg$e AS (SELECT coalesce(sum(err*x0), 0) AS g0, coalesce(sum(err*x1), 0) AS g1,
           |  coalesce(sum(err*x2), 0) AS g2, coalesce(sum(err*x3), 0) AS g3 FROM le$e),
           |lw$e AS (SELECT
           |  CAST(w.w0 - g.g0 // ((SELECT n FROM lrn) * 16) AS BIGINT) AS w0,
           |  CAST(w.w1 - g.g1 // ((SELECT n FROM lrn) * 16) AS BIGINT) AS w1,
           |  CAST(w.w2 - g.g2 // ((SELECT n FROM lrn) * 16) AS BIGINT) AS w2,
           |  CAST(w.w3 - g.g3 // ((SELECT n FROM lrn) * 16) AS BIGINT) AS w3
           |  FROM $pw w CROSS JOIN lg$e g),""".stripMargin
      }.mkString("\n")
      raw"""WITH lrsrc AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y,
        |  CASE WHEN doc_id % 3 = 0 THEN text || '$BoilerplateTail' ELSE text END AS text
        |  FROM documents),
        |${tokCtesOver("lrsrc", "lr")},
        |lragg AS (SELECT doc_id, count(*) AS nt,
        |  sum(CASE WHEN w IN ('the','and','of','to','a','in','is','it') THEN 1 ELSE 0 END) AS nsw,
        |  sum(CASE WHEN length(w) >= 7 THEN 1 ELSE 0 END) AS nlong,
        |  sum(length(w)) AS swl
        |  FROM lrtok GROUP BY 1),
        |lrf AS (SELECT d.doc_id, d.y,
        |  CAST(1 AS BIGINT) AS x0,
        |  CAST((100 * a.nsw) // a.nt - 6 AS BIGINT) AS x1,
        |  CAST(least((10 * a.swl) // a.nt, 200) - 45 AS BIGINT) AS x2,
        |  CAST((100 * a.nlong) // a.nt - 25 AS BIGINT) AS x3
        |  FROM lrsrc d JOIN lragg a ON d.doc_id = a.doc_id WHERE a.nt > 0),
        |lrtrain AS (SELECT * FROM lrf WHERE doc_id % 5 = 0),
        |lrtest AS (SELECT * FROM lrf WHERE doc_id % 5 <> 0),
        |lrn AS (SELECT count(*) AS n FROM lrtrain),
        |lw0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
        |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
        |$epochCtes
        |lpred AS (SELECT t.y,
        |  CASE WHEN greatest(0, least(1024, 512 + (w.w0*t.x0 + w.w1*t.x1 + w.w2*t.x2 + w.w3*t.x3) // 4)) >= 512
        |       THEN 1 ELSE 0 END AS p
        |  FROM lrtest t CROSS JOIN lw3 w)
        |SELECT metric, value FROM (
        |  SELECT 'w0' AS metric, w0 AS value FROM lw3
        |  UNION ALL SELECT 'w1', w1 FROM lw3
        |  UNION ALL SELECT 'w2', w2 FROM lw3
        |  UNION ALL SELECT 'w3', w3 FROM lw3
        |  UNION ALL SELECT 'n_train', (SELECT CAST(n AS BIGINT) FROM lrn)
        |  UNION ALL SELECT 'n_test', (SELECT CAST(count(*) AS BIGINT) FROM lrtest)
        |  UNION ALL SELECT 'tp', (SELECT CAST(sum(CASE WHEN y=1 AND p=1 THEN 1 ELSE 0 END) AS BIGINT) FROM lpred)
        |  UNION ALL SELECT 'fp', (SELECT CAST(sum(CASE WHEN y=0 AND p=1 THEN 1 ELSE 0 END) AS BIGINT) FROM lpred)
        |  UNION ALL SELECT 'fn', (SELECT CAST(sum(CASE WHEN y=1 AND p=0 THEN 1 ELSE 0 END) AS BIGINT) FROM lpred)
        |  UNION ALL SELECT 'tn', (SELECT CAST(sum(CASE WHEN y=0 AND p=0 THEN 1 ELSE 0 END) AS BIGINT) FROM lpred)
        |) ORDER BY metric""".stripMargin
    }),
    Query("t_structured_meta", (s, dir) => {
      import s.implicits._
      // STRUCTURED-metadata extraction (StructuredData scaladoc): JSON-LD
      // Article blocks, OpenGraph/named <meta> tags, and <title> mined
      // from real HTML built around each document — markup quirks varied
      // by doc_id parity (quote style, attribute order, tag/attr case,
      // MIME params on the LD type) plus decoys a naive regex would trip
      // on (comment-wrapped meta, a non-LD script carrying a fake
      // headline, a style block). The kernel parses the page; the oracle
      // recomputes every expected field directly from the columns the
      // page was built from — any parse drift (missed quirk, captured
      // decoy, entity mishandling) diverges a count. JSON values are
      // pulled with get_json_object over the captured LD block, so the
      // JSON round-trips through the real parse too.
      val d = s.read.parquet(pq(dir, "documents"))
      val headline = concat(lit("Doc "), $"doc_id", lit(": "), $"source")
      val author = concat(lit("author-"), $"doc_id" % 7)
      val date = concat(lit("2026-"), lpad(($"doc_id" % 12 + 1).cast("string"), 2, "0"),
        lit("-"), lpad(($"doc_id" % 28 + 1).cast("string"), 2, "0"))
      val ld = concat(
        lit("""{"@context":"https://schema.org","@type":"Article","headline":""""),
        headline, lit("""","author":""""), author,
        lit("""","datePublished":""""), date,
        lit("""","wordCount":"""), $"n_chars", lit("}"))
      val metaOg = when($"doc_id" % 2 === 0,
          concat(lit("<meta property=\"og:title\" content=\"OG "), $"doc_id", lit("\">")))
        .otherwise(
          concat(lit("<META content='OG "), $"doc_id", lit("' PROPERTY='og:title'>")))
      val scriptOpen = when($"doc_id" % 4 < 2,
          lit("<script type=\"application/ld+json\">"))
        .otherwise(lit("<script TYPE=\"Application/LD+JSON; charset=utf-8\">"))
      val html = concat(
        lit("<!doctype html><html><head><title>T&amp; "), $"doc_id", lit("</title>\n"),
        lit("<!-- <meta property=\"og:title\" content=\"DECOY\"> -->\n"),
        metaOg, lit("\n<meta name=\"og:locale\" content=\""), $"lang", lit("\">\n"),
        lit("<script type=\"text/javascript\">var x = {\"headline\": \"DECOY\"};</script>\n"),
        scriptOpen, lit("\n"), ld, lit("\n</script>\n"),
        lit("<style>.decoy { content: \"x\"; }</style>"),
        lit("</head><body><p>"), $"text", lit("</p></body></html>"))
      val metaUdf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(if (h == null) "" else h))
      val ext = d
        .select($"doc_id", $"source", $"lang", $"n_chars", metaUdf(html).as("m"))
        .select($"doc_id", $"source", $"lang", $"n_chars",
          $"m.title".as("title"), $"m.metas".as("metas"),
          $"m.jsonld".getItem(0).as("ld"))
      ext.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(when($"title" === concat(lit("T& "), $"doc_id"), 1L).otherwise(0L))
          .as("n_title_ok"),
        sum(when(element_at($"metas", "og:title") === concat(lit("OG "), $"doc_id"), 1L)
          .otherwise(0L)).as("n_og_ok"),
        sum(when(element_at($"metas", "og:locale") === $"lang", 1L).otherwise(0L))
          .as("n_locale_ok"),
        sum(get_json_object($"ld", "$.wordCount").cast("long")).as("sum_wc"),
        countDistinct(get_json_object($"ld", "$.author")).as("n_authors"),
        min(get_json_object($"ld", "$.datePublished")).as("min_date"),
        sum(length(get_json_object($"ld", "$.headline")).cast("long"))
          .as("sum_headline_len"))
        .orderBy($"source")
    },
      // Structured-metadata mirror: the page was BUILT from these columns,
      // so the oracle recomputes every expected field directly — the
      // kernel's parse (title entity decode, meta quirks, LD capture past
      // the decoys) must land exactly on n_docs for every *_ok count
      raw"""WITH ex AS (SELECT doc_id, source, lang, n_chars,
        |  'Doc ' || doc_id || ': ' || source AS headline,
        |  'author-' || (doc_id % 7) AS author,
        |  '2026-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS d
        |  FROM documents)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_title_ok,
        |  CAST(count(*) AS BIGINT) AS n_og_ok,
        |  CAST(count(*) AS BIGINT) AS n_locale_ok,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_wc,
        |  CAST(count(DISTINCT author) AS BIGINT) AS n_authors,
        |  min(d) AS min_date,
        |  CAST(sum(length(headline)) AS BIGINT) AS sum_headline_len
        |FROM ex GROUP BY source ORDER BY source""".stripMargin),
    Query("t_soft404", (s, dir) => {
      import s.implicits._
      // soft-404 gating (Soft404 scaladoc): docs with doc_id%17==0 get a
      // templated error page (title marker for even multiples, thin
      // error BODY under the token ceiling for odd ones — both rule arms
      // exercised); everything else keeps its real title/text, so the
      // phrase match runs against the full natural corpus, not only
      // planted rows. The oracle mirrors the two-signal rule itself
      // (phrase LIKEs + token-count gate), NOT the planting arithmetic —
      // a natural text that happens to contain a phrase must classify
      // identically in both engines.
      val d = s.read.parquet(pq(dir, "documents"))
      val title = when($"doc_id" % 34 === 0, lit("404 Not Found"))
        .otherwise(concat(lit("Doc "), $"doc_id"))
      val body = when($"doc_id" % 17 === 0 && $"doc_id" % 34 =!= 0,
          lit("the page you requested does not exist on this server"))
        .otherwise($"text")
      d.select($"source", title.as("title"), body.as("text"))
        .select($"source",
          graft.functions.Soft404.label($"title", $"text").as("label"))
        .groupBy($"source", $"label")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"source", $"label")
    },
      // mirrors the two-signal RULE (title phrase decisive; body phrase only
      // under the token ceiling), not the planting arithmetic — natural
      // phrase hits (e.g. 'Doc 404') must classify identically in both
      // engines
      raw"""WITH src AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 34 = 0 THEN '404 Not Found'
        |         ELSE 'Doc ' || doc_id END AS title,
        |    CASE WHEN doc_id % 17 = 0 AND doc_id % 34 <> 0
        |         THEN 'the page you requested does not exist on this server'
        |         ELSE text END AS text
        |  FROM documents),
        |lab AS (
        |  SELECT source,
        |    CASE WHEN contains(lower(title), '404')
        |           OR contains(lower(title), 'page not found')
        |           OR contains(lower(title), 'not be found')
        |           OR contains(lower(title), 'no longer available')
        |           OR contains(lower(title), 'does not exist') THEN 'title'
        |         WHEN (contains(lower(text), '404')
        |           OR contains(lower(text), 'page not found')
        |           OR contains(lower(text), 'not be found')
        |           OR contains(lower(text), 'no longer available')
        |           OR contains(lower(text), 'does not exist'))
        |           AND length(string_split_regex(text, '\s+')) < 80 THEN 'body'
        |         ELSE 'ok' END AS label
        |  FROM src)
        |SELECT source, label, CAST(count(*) AS BIGINT) AS n_docs
        |FROM lab GROUP BY source, label ORDER BY source, label""".stripMargin),
    Query("t_microdata", (s, dir) => {
      import s.implicits._
      // schema.org microdata mining (Microdata scaladoc): Product items
      // with text/meta/href/nested-Offer/token-list properties built
      // around each doc — quote style and attribute order vary by parity,
      // the name text carries an entity and a line break (decode +
      // whitespace-collapse on the real path), and an orphan itemprop plus
      // a commented decoy must drop. The oracle rebuilds the TRIPLE
      // relation closed-form and aggregates identically, so a scope leak,
      // orphan capture, or value-rule miss diverges a count.
      val d = s.read.parquet(pq(dir, "documents"))
      val openP = when($"doc_id" % 2 === 0,
          lit("<div itemscope itemtype=\"https://schema.org/Product\">"))
        .otherwise(lit("<div ITEMTYPE='https://schema.org/Product' itemscope>"))
      val html = concat(
        lit("<html><body><span itemprop=\"orphan\">dropped</span>\n"),
        openP,
        lit("\n<span itemprop=\"name\">Item &amp;\n   "), $"doc_id", lit("</span>"),
        lit("\n<!-- <meta itemprop=\"decoy\" content=\"x\"> -->"),
        lit("\n<meta itemprop=\"sku\" content=\"S"), $"doc_id", lit("\">"),
        lit("\n<a itemprop=\"url\" href=\"/p/"), $"doc_id", lit("\">see</a>"),
        lit("\n<b itemprop=\"category tag\">c"), $"doc_id" % 7, lit("</b>"),
        lit("\n<div itemprop=\"offers\" itemscope itemtype=\"https://schema.org/Offer\">"),
        lit("\n<span itemprop=\"price\">"), $"doc_id" % 997, lit("</span></div>"),
        lit("</div></body></html>"))
      val tripUdf = udf((h: String) =>
        graft.functions.html.Microdata.extract(h).map(t => (t.itemtype, t.prop, t.value)))
      d.select($"source", explode(tripUdf(html)).as("t"))
        .select($"source", $"t._1".as("itemtype"), $"t._2".as("prop"), $"t._3".as("value"))
        .groupBy($"source", $"itemtype", $"prop")
        .agg(count(lit(1)).as("n"),
          countDistinct($"value").as("n_vals"),
          sum(expr("try_cast(value AS BIGINT)")).as("sum_num"))
        .orderBy($"source", $"itemtype", $"prop")
    },
      // the triple relation rebuilt closed-form (orphan and commented decoys
      // contribute nothing), aggregated identically — TRY_CAST nulls the
      // non-numeric values on both engines so sum_num pins only price
      """WITH tr AS (
        |  SELECT source, 'https://schema.org/Product' AS itemtype,
        |         'name' AS prop, 'Item & ' || doc_id AS value FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'sku',
        |         'S' || doc_id FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'url',
        |         '/p/' || doc_id FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'offers',
        |         'https://schema.org/Offer' FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'category',
        |         'c' || (doc_id % 7) FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'tag',
        |         'c' || (doc_id % 7) FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Offer', 'price',
        |         CAST(doc_id % 997 AS VARCHAR) FROM documents)
        |SELECT source, itemtype, prop, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT value) AS BIGINT) AS n_vals,
        |  CAST(sum(TRY_CAST(value AS BIGINT)) AS BIGINT) AS sum_num
        |FROM tr GROUP BY source, itemtype, prop
        |ORDER BY source, itemtype, prop""".stripMargin),
    Query("t_outline", (s, dir) => {
      import s.implicits._
      // document-outline extraction (Outline scaladoc): three heading
      // families pin the whole numbering contract — a regular tree
      // (entities + inline markup in titles), a level SKIP (visible as a
      // zero component), and a deep start — plus script/comment heading
      // decoys that must never surface. Every doc of a family must yield
      // the family's exact TOC string (min == max pins all docs, not a
      // sample); the oracle carries the expected constants.
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<html><body><script>var x='<h1>fake</h1>';</script>" +
            "<h1>Intro</h1><p>b</p><h2>R&amp;<em>D</em></h2><h2>Setup</h2><h1>End</h1></body></html>"
          case 1L => "<html><body><!-- <h2>no</h2> --><h1>Top</h1><h3>Deep</h3><h2>Back</h2></body></html>"
          case _  => "<html><body><h2>Loose</h2><h1>Main</h1></body></html>"
        }
      }
      val tocUdf = udf { (html: String) =>
        val hs = graft.functions.html.Outline.extract(html)
        (hs.map(h => s"${h.number} ${h.title}").mkString("|"), hs.length)
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), tocUdf(htmlUdf($"doc_id" % 3)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), min($"t._1").as("min_toc"), max($"t._1").as("max_toc"),
          sum($"t._2").cast("long").as("sum_headings"))
        .orderBy($"family")
    },
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, toc, nh) AS (VALUES
        |  (0, '1 Intro|1.1 R&D|1.2 Setup|2 End', 4),
        |  (1, '1 Top|1.0.1 Deep|1.1 Back', 3),
        |  (2, '0.1 Loose|1 Main', 2))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.toc) AS min_toc, max(t.toc) AS max_toc,
        |  CAST(sum(t.nh) AS BIGINT) AS sum_headings
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
    Query("t_section_chunks", (s, dir) => {
      import s.implicits._
      // section-aware chunking (Outline.sectionChunks scaladoc): split at
      // heading boundaries, <=2-token windows, heading context prefixed to
      // every chunk so none loses its section. Two families: one with a
      // preamble (no-context chunks) + two sections of known word counts,
      // one single-section page. The full chunk DUMP (ids, numbers,
      // context-prefixed texts) is a per-family constant — min == max
      // pins every doc bit-for-bit; the oracle carries the expected dumps
      // with '~' standing for newline (replaced via chr(10)).
      val htmlUdf = udf { (fam: Long) =>
        if (fam == 0L)
          "<p>p0 p1</p><h1>Alpha</h1><p>w0 w1 w2 w3 w4</p><h2>Beta</h2><p>u0 u1 u2</p>"
        else "<h1>Solo</h1><p>a b c d</p>"
      }
      val dumpUdf = udf { (html: String) =>
        val cs = graft.functions.html.Outline.sectionChunks(html, maxTokens = 2)
        (cs.map(c => s"${c.section}/${c.chunk}/${c.number}/${c.text}").mkString("|"), cs.length)
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 2).as("family"), dumpUdf(htmlUdf($"doc_id" % 2)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), min($"t._1").as("min_dump"), max($"t._1").as("max_dump"),
          sum($"t._2").cast("long").as("sum_chunks"))
        .orderBy($"family")
    },
      """WITH f AS (SELECT doc_id, doc_id % 2 AS family FROM documents),
        |t(family, dump, nc) AS (VALUES
        |  (0, replace('0/0//p0 p1|1/0/1/Alpha~~w0 w1|1/1/1/Alpha~~w2 w3|1/2/1/Alpha~~w4|2/0/1.1/Beta~~u0 u1|2/1/1.1/Beta~~u2', '~', chr(10)), 6),
        |  (1, replace('0/0/1/Solo~~a b|0/1/1/Solo~~c d', '~', chr(10)), 2))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.dump) AS min_dump, max(t.dump) AS max_dump,
        |  CAST(sum(t.nc) AS BIGINT) AS sum_chunks
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
    Query("t_tables", (s, dir) => {
      import s.implicits._
      // table mining to a relation (HtmlExtractor.documentElements): the
      // structured-elements walk harvests caption + row/cell structure in
      // document order, skips boilerplate-container tables (the nav-class
      // decoy must vanish), and harvests NESTED tables separately with
      // inner content excluded from outer cells. Three families pin the
      // whole contract as dump constants: caption + 2x3 + decoy; outer
      // with nested inner; no tables at all. Dump rows are
      // table/row/col/cell tuples — a cell drift, a leaked decoy, or a
      // nesting mistake changes the constant.
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<body><table><caption>Stats</caption>" +
            "<tr><th>k</th><th>v</th><th>u</th></tr><tr><td>a</td><td>1</td><td>x</td></tr></table>" +
            "<div class=\"nav\"><table><tr><td>decoy</td></tr></table></div></body>"
          case 1L => "<body><table><tr><td>out1</td><td>" +
            "<table><tr><td>in1</td><td>in2</td></tr></table>" +
            "</td></tr></table></body>"
          case _  => "<body><p>tableless</p></body>"
        }
      }
      val dumpUdf = udf { (html: String) =>
        val els = graft.functions.html.HtmlExtractor
          .documentElements(graft.functions.html.HtmlDom.parse(html))
        val tables = els.collect { case graft.functions.html.HtmlExtractor.DocTable(rows) => rows }
        val caps = els.collect { case graft.functions.html.HtmlExtractor.DocParagraph(t) => t }
        val dump = tables.zipWithIndex.flatMap { case (rows, ti) =>
          rows.zipWithIndex.flatMap { case (r, ri) =>
            r.zipWithIndex.map { case (c, ci) => s"$ti/$ri/$ci/$c" }
          }
        }.mkString("|")
        (dump, tables.length, tables.map(_.map(_.length).sum).sum, caps.mkString("|"))
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), dumpUdf(htmlUdf($"doc_id" % 3)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"t._1").as("min_dump"), max($"t._1").as("max_dump"),
          sum($"t._2").cast("long").as("sum_tables"),
          sum($"t._3").cast("long").as("sum_cells"),
          min($"t._4").as("min_caps"), max($"t._4").as("max_caps"))
        .orderBy($"family")
    },
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, dump, nt, nc, caps) AS (VALUES
        |  (0, '0/0/0/k|0/0/1/v|0/0/2/u|0/1/0/a|0/1/1/1|0/1/2/x', 1, 6, 'Stats'),
        |  (1, '0/0/0/out1|0/0/1/|1/0/0/in1|1/0/1/in2', 2, 4, ''),
        |  (2, '', 0, 0, 'tableless'))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.dump) AS min_dump, max(t.dump) AS max_dump,
        |  CAST(sum(t.nt) AS BIGINT) AS sum_tables,
        |  CAST(sum(t.nc) AS BIGINT) AS sum_cells,
        |  min(t.caps) AS min_caps, max(t.caps) AS max_caps
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
    Query("t_zipf", (s, dir) => {
      import s.implicits._
      // Zipf rank-frequency audit — corpus-health at a glance: natural
      // language keeps rank·frequency roughly constant over the head;
      // templated/boilerplate-heavy corpora bow the curve (a few chrome
      // words at abnormal mass). Exact integers only: per-rank r·f for
      // the top-50 words plus the head/tail-of-head ratio as a rational
      // (min and max r·f) — no log fitting, the SAME evidence. Token
      // rollup is map-side combined; only 50 rows reach the window.
      val freqs = s.read.parquet(pq(dir, "documents"))
        .select(explode(filter(split(lower($"text"), "\\s+"), w => length(w) > 0)).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("f"))
        .orderBy($"f".desc, $"w")
        .limit(50)
      val w = org.apache.spark.sql.expressions.Window.orderBy($"f".desc, $"w")
      freqs.withColumn("r", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n_words"),
          min($"r" * $"f").as("min_rf"), max($"r" * $"f").as("max_rf"),
          max(when($"r" === 1L, $"w")).as("top_word"),
          max(when($"r" === 1L, $"f")).as("top_freq"))
    },
      raw"""WITH t0 AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |f AS (SELECT w, count(*) AS f FROM t0 WHERE w <> '' GROUP BY w
        |      ORDER BY f DESC, w LIMIT 50),
        |r AS (SELECT w, f, row_number() OVER (ORDER BY f DESC, w) AS r FROM f)
        |SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(min(r * f) AS BIGINT) AS min_rf, CAST(max(r * f) AS BIGINT) AS max_rf,
        |  max(CASE WHEN r = 1 THEN w END) AS top_word,
        |  CAST(max(CASE WHEN r = 1 THEN f END) AS BIGINT) AS top_freq
        |FROM r""".stripMargin),
    Query("t_entity_spans", (s, dir) => {
      import s.implicits._
      // entity-span mining — the KB-seeding signal: multi-word
      // capitalized spans (>= 2 words of [A-Z][a-z]+ joined by single
      // spaces; the bigram+ rule sidesteps sentence-start capitals
      // without needing sentence segmentation) harvested corpus-wide and
      // ranked. Pure built-in regexp (Java and RE2 agree on this
      // lookaround-free pattern — the PiiScrub discipline), zero UDF,
      // map-only until the count exchange; synthesized spans planted on
      // top of natural text so the ranking head is pinned.
      val aug = s.read.parquet(pq(dir, "documents")).select(
        concat($"text",
          when($"doc_id" % 3 === 0, lit(" Visit New York City today")).otherwise(lit("")),
          when($"doc_id" % 5 === 0, lit(" according to World Health Organization reports"))
            .otherwise(lit("")),
          when($"doc_id" % 2 === 0, lit(" say Hello World and again Hello World"))
            .otherwise(lit(""))).as("text"))
      aug.select(explode(expr(
          "regexp_extract_all(text, '([A-Z][a-z]+(?: [A-Z][a-z]+)+)', 1)")).as("entity"))
        .groupBy($"entity").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"entity")
        .limit(20)
    },
      """WITH aug AS (
        |  SELECT text
        |    || (CASE WHEN doc_id % 3 = 0 THEN ' Visit New York City today' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN ' according to World Health Organization reports' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN ' say Hello World and again Hello World' ELSE '' END)
        |    AS text
        |  FROM documents),
        |e AS (
        |  SELECT unnest(regexp_extract_all(text, '([A-Z][a-z]+(?: [A-Z][a-z]+)+)', 1)) AS entity
        |  FROM aug)
        |SELECT entity, CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY entity ORDER BY n DESC, entity LIMIT 20""".stripMargin),
    Query("t_host_gini", (s, dir) => {
      import s.implicits._
      // host-concentration audit: the EXACT Gini coefficient of the
      // per-host page distribution as a scaled integer (ppm) — the
      // source-balance number corpus cards report (a corpus where three
      // hosts carry half the pages is a diversity risk no mean can see).
      // Synthesized skew: every fourth doc piles onto host 0. Integer
      // arithmetic end to end: G = (2·Σ rank·c − (n+1)·Σc) / (n·Σc),
      // rank by (count asc, host asc) — ties commute, so the rank order
      // is value-deterministic. The global rank runs through the
      // distributed prefix-sum scaffold (Packing.globalRank), NOT an
      // unpartitioned row_number window: at web scale |hosts| is 10^8
      // and a single-task global sort is the one non-parallel stage this
      // audit would otherwise have (VERDICT r4 fix; plan-asserted in
      // PlanQualitySpec — the only SinglePartition exchange left is the
      // final 1-row aggregate).
      val hosts = s.read.parquet(pq(dir, "documents"))
        .select(when($"doc_id" % 4 === 0, lit(0L)).otherwise($"doc_id" % 13).as("host"))
        .groupBy($"host").agg(count(lit(1)).as("c"))
      graft.operators.Packing.globalRank(hosts, "c", "host", "rk", numParts = 8)
        .agg(count(lit(1)).as("n_hosts"), sum($"c").as("n_pages"),
          sum($"rk" * $"c").as("wsum"))
        .select($"n_hosts", $"n_pages",
          // `div`, not `/`: Spark's slash is double division on longs
          expr("CAST((wsum * 2 - (n_hosts + 1) * n_pages) * 1000000 div (n_hosts * n_pages) AS BIGINT)")
            .as("gini_ppm"))
    },
      """WITH h AS (
        |  SELECT CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 13 END AS host
        |  FROM documents),
        |c AS (SELECT host, count(*) AS c FROM h GROUP BY host),
        |r AS (SELECT host, c, row_number() OVER (ORDER BY c ASC, host ASC) AS rk FROM c),
        |a AS (SELECT count(*) AS n_hosts, sum(c) AS n_pages, sum(rk * c) AS wsum FROM r)
        |SELECT CAST(n_hosts AS BIGINT) AS n_hosts, CAST(n_pages AS BIGINT) AS n_pages,
        |  CAST((wsum * 2 - (n_hosts + 1) * n_pages) * 1000000 // (n_hosts * n_pages) AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin),
    Query("t_bpe_fertility", (s, dir) => {
      import s.implicits._
      // tokenizer FERTILITY audit — subwords per word, per language: the
      // standard tokenizer-quality metric (a vocabulary trained on one
      // language fragments the others; fertility spread across langs is
      // the evidence multilingual corpus builders act on). Reuses the
      // learned 8-merge BPE and the SAME subwordCounts path p_bpe_pack
      // verifies; fertility is reported as an exact integer rational
      // (sum_subwords / sum_words), never a float.
      val d = s.read.parquet(pq(dir, "documents"))
      // learnInMemory: bit-identical to the distributed 8-merge result
      // (see p_bpe_pack note) at a fraction of the job count
      val merges = graft.operators.BpeTrain.learnInMemory(s, d, "text", numMerges = 8)
        .orderBy($"rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val sub = graft.operators.BpeTrain.subwordCounts(d, "doc_id", "text", merges)
        .withColumnRenamed("id", "doc_id")
      val words = ScanPar(d).select($"doc_id", $"lang",
        size(filter(split(lower($"text"), "\\s+"), w => length(w) > 0)).cast("long").as("n_words"))
      words.join(sub, Seq("doc_id"), "left")
        .select($"lang", $"n_words", coalesce($"n_subwords", lit(0L)).as("n_subwords"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_words").as("sum_words"),
          sum($"n_subwords").as("sum_subwords"))
        .orderBy($"lang")
    },
      s"""WITH ${bpeStageCtes(8)},
        |bpmap AS (SELECT replace(s, ' ', '') AS w,
        |    len(string_split(trim(s), '  ')) AS nsub FROM bpv8),
        |bpperdoc AS (
        |  SELECT d.doc_id, CAST(coalesce(sum(m.nsub), 0) AS BIGINT) AS n_subwords
        |  FROM documents d
        |  LEFT JOIN bptok t ON t.doc_id = d.doc_id
        |  LEFT JOIN bpmap m ON m.w = t.w
        |  GROUP BY 1),
        |wper AS (SELECT doc_id, count(*) AS n_words FROM bptok GROUP BY doc_id)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(coalesce(w.n_words, 0)) AS BIGINT) AS sum_words,
        |  CAST(sum(p.n_subwords) AS BIGINT) AS sum_subwords
        |FROM documents d
        |LEFT JOIN wper w ON d.doc_id = w.doc_id
        |LEFT JOIN bpperdoc p ON d.doc_id = p.doc_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    Query("t_truncation", (s, dir) => {
      import s.implicits._
      // truncated-page detection (Truncation scaladoc): one state scan
      // classifying the byte stream's END — the evidence the tolerant
      // tokenizer papers over. Five families cover every tier: mid-tag,
      // unclosed comment, unclosed script body, the weak no-</html>
      // prior, and a complete page whose CLOSED script contains decoy
      // markup that must not trip the scan. tailChars sums are pinned
      // closed-form (the cut constructs have fixed lengths).
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<html><body><p>fine</p><a href=\"x" // in_tag, tail 10
          case 1L => "<html><body><!-- comment cut"       // in_comment, tail 16
          case 2L => "<html><body><script>var x = 1;"     // in_script, tail 10
          case 3L => "<html><body><p>done</p></body>"     // no_close
          case _  => "<html><script>var s = '</p><a href=';</script><p>ok</p></html>"
        }
      }
      val detUdf = udf { (html: String) =>
        val t = graft.functions.html.Truncation.detect(html)
        (t.state, t.tailChars.toLong)
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 5).as("family"), detUdf(htmlUdf($"doc_id" % 5)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"t._1").as("min_state"), max($"t._1").as("max_state"),
          sum($"t._2").as("sum_tail"))
        .orderBy($"family")
    },
      """WITH f AS (SELECT doc_id, doc_id % 5 AS family FROM documents),
        |t(family, state, tail) AS (VALUES
        |  (0, 'in_tag', 10), (1, 'in_comment', 16), (2, 'in_script', 10),
        |  (3, 'no_close', 0), (4, 'complete', 0))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.state) AS min_state, max(t.state) AS max_state,
        |  CAST(sum(t.tail) AS BIGINT) AS sum_tail
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
    Query("t_lang_declared", (s, dir) => {
      import s.implicits._
      // declared-vs-detected language audit (StructuredData.declaredLang
      // scaladoc): the html lang attribute is the page's own claim; the
      // langId kernel is the evidence. Three families: agreement, a LYING
      // declaration (fr attr over english text — the template/CMS-default
      // failure), and a missing attribute over french text. Agreement
      // compares the BCP 47 primary subtag (en-US == en).
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<html lang=\"en-US\"><body>the quick brown fox and the lazy dog " +
            "with some of the words that are most common in the english language</body></html>"
          case 1L => "<html lang=\"fr\"><body>the quick brown fox and the lazy dog " +
            "with some of the words that are most common in the english language</body></html>"
          case _  => "<html><body>le chat et le chien sont dans la maison avec " +
            "les enfants et les livres pour une petite histoire</body></html>"
        }
      }
      val auditUdf = udf { (html: String) =>
        val declared = graft.functions.html.StructuredData.declaredLang(html).getOrElse("")
        val text = graft.functions.html.HtmlExtractor.extract(html).text
        val detected = graft.functions.TextStats.langId(text)
        val primary = declared.split("-")(0)
        (declared, detected,
          if (declared.isEmpty) "missing" else if (primary == detected) "agree" else "disagree")
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), auditUdf(htmlUdf($"doc_id" % 3)).as("a"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"a._1").as("min_declared"), max($"a._1").as("max_declared"),
          min($"a._2").as("min_detected"), max($"a._2").as("max_detected"),
          min($"a._3").as("min_verdict"), max($"a._3").as("max_verdict"))
        .orderBy($"family")
    },
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, declared, detected, verdict) AS (VALUES
        |  (0, 'en-us', 'en', 'agree'),
        |  (1, 'fr', 'en', 'disagree'),
        |  (2, '', 'fr', 'missing'))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.declared) AS min_declared, max(t.declared) AS max_declared,
        |  min(t.detected) AS min_detected, max(t.detected) AS max_detected,
        |  min(t.verdict) AS min_verdict, max(t.verdict) AS max_verdict
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
    Query("t_code_blocks", (s, dir) => {
      import s.implicits._
      // code-block mining (CodeBlocks scaladoc): <pre> blocks verbatim —
      // indentation preserved, entities decoded, syntax-highlight spans
      // flattened — with the language-x/lang-x class convention from the
      // pre or its first code child; inline <code> prose and script-body
      // decoys must never surface. Per-family dumps (order/lang/text with
      // '~' for newline) are constants pinned by min == max.
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<pre class=\"language-python\">\ndef f(x):\n    return x &amp; 1\n</pre>" +
            "<script>var s = '<pre>no</pre>';</script>"
          case 1L => "<p>use <code>grep</code></p>" +
            "<pre><code class=\"lang-js\"><span class=\"kw\">let</span> x = 1;\n  let y = 2;</code></pre>"
          case _  => "<p>prose only</p>"
        }
      }
      val dumpUdf = udf { (html: String) =>
        val bs = graft.functions.html.CodeBlocks.extract(html)
        (bs.map(b => s"${b.order}/${b.lang}/${b.text}").mkString("|"), bs.length)
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), dumpUdf(htmlUdf($"doc_id" % 3)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), min($"t._1").as("min_dump"), max($"t._1").as("max_dump"),
          sum($"t._2").cast("long").as("sum_blocks"))
        .orderBy($"family")
    },
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, dump, nb) AS (VALUES
        |  (0, replace('0/python/def f(x):~    return x & 1~', '~', chr(10)), 1),
        |  (1, replace('0/js/let x = 1;~  let y = 2;', '~', chr(10)), 1),
        |  (2, '', 0))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.dump) AS min_dump, max(t.dump) AS max_dump,
        |  CAST(sum(t.nb) AS BIGINT) AS sum_blocks
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
  )
}
