package graft
package queries

import graft.functions.{PiiScrub, TextStats}
import graft.operators.{Bitext, Decontaminate, Dedup, Dsir, Packing, Sampling, ScanPar, Sharding}
import graft.queries.Shared.{bm25CorpusCtesSql, bm25LegCtesSql, bpeStageCtes, corpusBuildSql,
  exactPairsCtesOver, gramCtesOver, langIdDetectSql, md5PrefixSql, pq, qualityCtes, tokCtesOver}
import org.apache.spark.sql.functions._

/** `p_*`: training-corpus and crawl pipeline stages over the scale dir's
  * tables, with exact DuckDB oracles. */
object PipelineQueries {

  /** Full training-corpus keep pipeline mirrored in one DuckDB query:
    * quality gate -> exact dedup (min doc_id per md5) -> exact near-dup
    * pairs over the survivors -> recursive-CTE connected components ->
    * representative count. Oracle for p_pipeline_keep.
    */
  private val pipelineKeepSql: String =
    s"""WITH RECURSIVE $qualityCtes,
      |qualified AS (
      |  SELECT d.* FROM documents d JOIN qs USING (doc_id) WHERE qs.score >= 0.9),
      |keepd AS (SELECT min(doc_id) AS doc_id FROM qualified GROUP BY md5(text)),
      |exdocs AS (SELECT q.* FROM qualified q JOIN keepd USING (doc_id)),
      |${exactPairsCtesOver("exdocs")},
      |p AS (
      |  SELECT a, b FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
      |  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8),
      |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
      |cc(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, cc.r FROM cc JOIN edges e ON e.src = cc.id),
      |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id)
      |SELECT (SELECT count(*) FROM documents) AS n_input,
      |  (SELECT count(*) FROM qualified) AS n_quality,
      |  (SELECT count(*) FROM exdocs) AS n_exact,
      |  (SELECT count(*) FROM exdocs)
      |    - (SELECT count(*) FROM comp WHERE id <> component) AS n_kept""".stripMargin

  val all: Seq[Query] = Seq(
    Query("p_decontaminate", (s, dir) => {
      import s.implicits._
      // benchmark decontamination: docs with doc_id % 41 == 0 stand in for
      // the eval/benchmark set; a train doc is contaminated when it shares
      // any word 4-gram with any eval doc (eval gram set broadcast — the
      // train corpus is scanned map-side only, zero train-side shuffle
      // before the per-doc hit count)
      val d = s.read.parquet(pq(dir, "documents"))
      val evalDocs = d.filter($"doc_id" % 41 === 0)
      val train = d.filter($"doc_id" % 41 =!= 0)
      val h = Decontaminate.hits(train, evalDocs, "doc_id", "text", k = 4)
      train
        .join(h, train("doc_id") === h("id"), "left")
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_train"),
          count($"id").as("n_contaminated"),
          coalesce(sum($"n_hit"), lit(0L)).as("n_hits")
        )
        .orderBy($"lang")
    },
      s"""WITH ${gramCtesOver("documents", "d")},
        |g AS (SELECT doc_id, g FROM dgrams WHERE g IS NOT NULL),
        |eval_g AS (SELECT DISTINCT g FROM g WHERE doc_id % 41 = 0),
        |hits AS (SELECT g.doc_id, count(*) AS n_hit FROM g JOIN eval_g USING (g)
        |         WHERE g.doc_id % 41 <> 0 GROUP BY 1)
        |SELECT d.lang,
        |  CAST(count(*) AS BIGINT) AS n_train,
        |  CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
        |  CAST(coalesce(sum(h.n_hit), 0) AS BIGINT) AS n_hits
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 41 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_scrub_pii", (s, dir) => {
      import s.implicits._
      // PII redaction over a deterministically PII-injected corpus (the
      // synthetic docs are letter-words only, so every hit is a planted
      // one): emails on doc_id%5, phones on %7, IPv4s on %11. The oracle
      // rebuilds the identical injection in SQL and runs the SAME portable
      // regexes through DuckDB's RE2, sequentially like the kernel.
      val scrubUdf = udf((t: String) => PiiScrub.scrub(t))
      val inj = s.read.parquet(pq(dir, "documents")).select(
        $"source",
        concat(
          $"text",
          when($"doc_id" % 5 === 0,
            concat(lit(" contact user"), $"doc_id".cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when($"doc_id" % 7 === 0,
            concat(lit(" call 415-555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when($"doc_id" % 11 === 0,
            concat(lit(" from 10."), ($"doc_id" % 200).cast("string"), lit("."),
              ($"doc_id" % 250).cast("string"), lit("."), ($"doc_id" % 254).cast("string")))
            .otherwise(lit(""))
        ).as("text"))
      inj.select($"source", $"text", scrubUdf($"text").as("s"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"s.n_email".cast("long")).as("n_emails"),
          sum($"s.n_phone".cast("long")).as("n_phones"),
          sum($"s.n_ip".cast("long")).as("n_ips"),
          sum(length($"s.clean")).cast("long").as("sum_clean_len"),
          sum(when(!($"s.clean" <=> $"text"), 1L).otherwise(0L)).as("n_docs_redacted")
        )
        .orderBy($"source")
    },
      // identical injection + the SAME (Java ∩ RE2) patterns as
      // PiiScrub.{EmailRe,PhoneRe,Ipv4Re}, applied sequentially like the
      // kernel (each count runs on the previous stage's masked string)
      raw"""WITH inj AS (
        |  SELECT doc_id, source,
        |    text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) || '.' || CAST(doc_id % 254 AS VARCHAR) ELSE '' END
        |    AS text
        |  FROM documents),
        |s1 AS (SELECT source, text,
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS c1,
        |         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email
        |       FROM inj),
        |s2 AS (SELECT source, text, n_email,
        |         regexp_replace(c1, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS c2,
        |         len(regexp_extract_all(c1, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS n_phone
        |       FROM s1),
        |s3 AS (SELECT source, text, n_email, n_phone,
        |         regexp_replace(c2, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS clean,
        |         len(regexp_extract_all(c2, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ip
        |       FROM s2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_email) AS BIGINT) AS n_emails,
        |  CAST(sum(n_phone) AS BIGINT) AS n_phones,
        |  CAST(sum(n_ip) AS BIGINT) AS n_ips,
        |  CAST(sum(length(clean)) AS BIGINT) AS sum_clean_len,
        |  CAST(sum(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_redacted
        |FROM s3 GROUP BY source ORDER BY source""".stripMargin),
    Query("p_sample_stratified", (s, dir) => {
      import s.implicits._
      // deterministic per-lang 20% sample (exact variant, digest-rank
      // order); the oracle re-derives the kept SET, so sum_kept_ids checks
      // membership, not just counts
      val d = s.read.parquet(pq(dir, "documents"))
      val kept = Sampling.stratifiedExact(d, "lang", "text", "doc_id", 1, 5)
      d.groupBy($"lang")
        .agg(count(lit(1)).as("n_total"))
        .join(
          kept.groupBy($"lang")
            .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids")),
          "lang"
        )
        .orderBy($"lang")
    },
      """WITH rk AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |kept AS (SELECT lang, doc_id FROM rk WHERE rk <= (n * 1 + 4) // 5),
        |tot AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1)
        |SELECT t.lang, CAST(t.n_total AS BIGINT) AS n_total,
        |  CAST(count(k.doc_id) AS BIGINT) AS n_kept,
        |  CAST(sum(k.doc_id) AS BIGINT) AS sum_kept_ids
        |FROM tot t JOIN kept k USING (lang)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    Query("p_url_patterns", (s, dir) => {
      import s.implicits._
      // crawler-trap mining: four synthesized URL families per host —
      // a calendar grid (/cal/YYYY/M/D: unbounded numeric slots), a
      // session-id query (/item/ID?session=S), a static page (/about, no
      // variable slot — high count must NOT flag), and a small finite tag
      // set (/tag/0..4 — variable slot but under the distinct threshold).
      // Templatization (digit runs -> N, query values -> V) and the
      // (host, template) mine run verbatim in the DuckDB mirror.
      val d = s.read.parquet(pq(dir, "documents"))
      val url = concat(
        lit("https://host"), ($"doc_id" % 7).cast("string"),
        lit(".example.com"),
        when($"doc_id" % 4 === 0, concat(
          lit("/cal/"), (lit(2000) + $"doc_id" % 30).cast("string"),
          lit("/"), ($"doc_id" % 12 + 1).cast("string"),
          lit("/"), ($"doc_id" % 28 + 1).cast("string")))
          .when($"doc_id" % 4 === 1, concat(
            lit("/item/"), $"doc_id".cast("string"),
            lit("?session="), (($"doc_id" * 48271) % 100000).cast("string")))
          .when($"doc_id" % 4 === 2, lit("/about"))
          .otherwise(concat(lit("/tag/"), ($"doc_id" % 5).cast("string"))))
      graft.operators.UrlPatterns
        .mineTraps(d.select(url.as("url")), "url", minDistinct = 10)
        .orderBy($"host", $"template")
    },
      """WITH urls AS (
        |  SELECT 'https://host' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.example.com' ||
        |    CASE WHEN doc_id % 4 = 0 THEN
        |        '/cal/' || CAST(2000 + doc_id % 30 AS VARCHAR)
        |        || '/' || CAST(doc_id % 12 + 1 AS VARCHAR)
        |        || '/' || CAST(doc_id % 28 + 1 AS VARCHAR)
        |      WHEN doc_id % 4 = 1 THEN
        |        '/item/' || CAST(doc_id AS VARCHAR)
        |        || '?session=' || CAST((doc_id * 48271) % 100000 AS VARCHAR)
        |      WHEN doc_id % 4 = 2 THEN '/about'
        |      ELSE '/tag/' || CAST(doc_id % 5 AS VARCHAR) END AS url
        |  FROM documents),
        |t AS (
        |  SELECT
        |    regexp_replace(regexp_replace(url, '^[a-z]+://', ''),
        |      '/.*', '') AS host,
        |    regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(url, '^[a-z]+://', ''),
        |        '^[^/]*', ''),
        |      '[0-9]+', 'N', 'g'), '=[^&#]*', '=V', 'g') AS template,
        |    url
        |  FROM urls)
        |SELECT host, template, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_distinct,
        |  CAST(CASE WHEN count(DISTINCT url) >= 10
        |    AND (template LIKE '%N%' OR template LIKE '%=V%')
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_trap
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("p_url_canon", (s, dir) => {
      import s.implicits._
      // URL canonicalization over deterministically synthesized messy URLs
      // (mixed-case scheme/host, default + explicit ports, tracking params
      // out of order, trailing slashes, fragments). The oracle rebuilds
      // the same URLs and canonicalizes them with SQL string/list
      // functions; the md5-prefix sum pins the canonical STRINGS, not just
      // their counts.
      val canonUdf = udf((u: String) => graft.functions.UrlCanon.canonicalize(u))
      val urls = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id", $"source",
        concat(
          lit("HTTP"), when($"doc_id" % 2 === 0, lit("S")).otherwise(lit("")),
          lit("://Site"), ($"doc_id" % 50).cast("string"), lit(".COM"),
          when($"doc_id" % 3 === 0, lit(":443"))
            .when($"doc_id" % 3 === 1, lit(":8080")).otherwise(lit("")),
          lit("/Path"), ($"doc_id" % 20).cast("string"),
          when($"doc_id" % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?z="), ($"doc_id" % 9).cast("string"),
          lit("&utm_source=feed&a="), ($"doc_id" % 5).cast("string"),
          when($"doc_id" % 6 === 0, lit("&ref=x")).otherwise(lit("")),
          lit("#Sec"), ($"doc_id" % 3).cast("string")
        ).as("url"))
      urls.select($"source", canonUdf($"url").as("canon"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"canon").as("n_distinct_canon"),
          sum(length($"canon")).cast("long").as("sum_canon_len"),
          sum(conv(substring(md5($"canon"), 1, 4), 16, 10).cast("long")).as("sum_canon_md5pfx")
        )
        .orderBy($"source")
    },
      """WITH usrc AS (
        |  SELECT doc_id, source,
        |    'HTTP' || CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END
        |    || '://Site' || CAST(doc_id % 50 AS VARCHAR) || '.COM'
        |    || CASE WHEN doc_id % 3 = 0 THEN ':443' WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END
        |    || '/Path' || CAST(doc_id % 20 AS VARCHAR)
        |    || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
        |    || '?z=' || CAST(doc_id % 9 AS VARCHAR)
        |    || '&utm_source=feed&a=' || CAST(doc_id % 5 AS VARCHAR)
        |    || CASE WHEN doc_id % 6 = 0 THEN '&ref=x' ELSE '' END
        |    || '#Sec' || CAST(doc_id % 3 AS VARCHAR) AS url
        |  FROM documents),
        |u1 AS (SELECT doc_id, source,
        |         CASE WHEN strpos(url, '#') > 0 THEN substr(url, 1, strpos(url, '#') - 1) ELSE url END AS u
        |       FROM usrc),
        |u2 AS (SELECT doc_id, source,
        |         lower(substr(u, 1, strpos(u, '://') - 1)) AS scheme,
        |         substr(u, strpos(u, '://') + 3) AS rest
        |       FROM u1),
        |u3 AS (SELECT doc_id, source, scheme, rest,
        |         CASE WHEN strpos(rest, '/') > 0 AND (strpos(rest, '?') = 0 OR strpos(rest, '/') < strpos(rest, '?')) THEN strpos(rest, '/')
        |              WHEN strpos(rest, '?') > 0 THEN strpos(rest, '?') ELSE 0 END AS cut
        |       FROM u2),
        |u3b AS (SELECT doc_id, source, scheme,
        |         CASE WHEN cut > 0 THEN substr(rest, 1, cut - 1) ELSE rest END AS autraw,
        |         CASE WHEN cut > 0 THEN substr(rest, cut) ELSE '' END AS pathq
        |       FROM u3),
        |u3c AS (SELECT doc_id, source, scheme, pathq,
        |         CASE WHEN strpos(autraw, '@') > 0
        |              THEN substr(autraw, 1, strpos(autraw, '@')) || lower(substr(autraw, strpos(autraw, '@') + 1))
        |              ELSE lower(autraw) END AS auth0
        |       FROM u3b),
        |u4 AS (SELECT doc_id, source, scheme,
        |         CASE WHEN scheme = 'http' AND ends_with(auth0, ':80') THEN substr(auth0, 1, len(auth0) - 3)
        |              WHEN scheme = 'https' AND ends_with(auth0, ':443') THEN substr(auth0, 1, len(auth0) - 4)
        |              ELSE auth0 END AS auth,
        |         CASE WHEN strpos(pathq, '?') > 0 THEN substr(pathq, 1, strpos(pathq, '?') - 1) ELSE pathq END AS path0,
        |         CASE WHEN strpos(pathq, '?') > 0 THEN substr(pathq, strpos(pathq, '?') + 1) ELSE '' END AS query
        |       FROM u3c),
        |u5 AS (SELECT doc_id, source, scheme, auth,
        |         CASE WHEN len(path0) > 1 THEN (CASE WHEN rtrim(path0, '/') = '' THEN '/' ELSE rtrim(path0, '/') END) ELSE path0 END AS path,
        |         list_sort(list_filter(string_split(query, '&'),
        |           p -> p <> '' AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'fbclid=')
        |                AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'ref='))) AS q
        |       FROM u4),
        |uc AS (SELECT doc_id, source,
        |         scheme || '://' || auth || path ||
        |         CASE WHEN len(q) > 0 THEN '?' || array_to_string(q, '&') ELSE '' END AS canon
        |       FROM u5)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT canon) AS BIGINT) AS n_distinct_canon,
        |  CAST(sum(length(canon)) AS BIGINT) AS sum_canon_len,
        |  CAST(sum(
        |    (strpos('0123456789abcdef', substr(md5(canon), 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(md5(canon), 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(md5(canon), 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(canon), 4, 1)) - 1)) AS BIGINT) AS sum_canon_md5pfx
        |FROM uc GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_url_dedup", (s, dir) => {
      import s.implicits._
      // recrawl dedup: many snapshots of one logical page differ only in
      // URL mess (port spelled out, trailing slash, tracking params,
      // fragment) — canonicalize, keep the LATEST snapshot per canonical
      // URL (doc_id is the recency proxy here; warc_ts on the pages
      // table). The mess varies on residues the canonical form erases
      // (doc_id % 2 -> explicit :443, % 4 -> trailing slash), so exactly
      // 15 canonical groups exist at every sf. Keep-latest is a
      // map-side-combined groupBy max — never a per-key window sort; at
      // scale the full kept row comes back via max_by(struct(...)) or a
      // join on (canon, kept_id). The oracle pins the canonical STRINGS
      // in closed form — every canonicalization rule is load-bearing.
      val canonUdf = udf((u: String) => graft.functions.UrlCanon.canonicalize(u))
      val urls = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id",
        concat(
          lit("HTTPS://Host"), ($"doc_id" % 5).cast("string"), lit(".Example.COM"),
          when($"doc_id" % 2 === 0, lit(":443")).otherwise(lit("")),
          lit("/a/"), ($"doc_id" % 3).cast("string"),
          when($"doc_id" % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_campaign=w&q="), ($"doc_id" % 3).cast("string"),
          lit("#top")
        ).as("url"))
      urls.select($"doc_id", canonUdf($"url").as("canon"))
        .groupBy($"canon")
        .agg(
          count(lit(1)).as("n_snapshots"),
          max($"doc_id").as("kept_doc_id"),
          (count(lit(1)) - 1).as("n_dropped")
        )
        .orderBy($"canon")
    },
      // identical URL synthesis; UrlCanon's first-occurrence splits replayed
      // as strpos arithmetic, param filter+sort via list functions, the
      // canonical strings themselves pinned by the md5-prefix sum
      // recrawl dedup: the canonical strings in CLOSED FORM (lowercased
      // host, default :443 stripped, trailing slash collapsed, utm_*
      // dropped, fragment stripped — each rule load-bearing), keep-latest
      // as max(doc_id) per canonical
      """WITH u AS (SELECT doc_id,
        |    'https://host' || (doc_id % 5) || '.example.com/a/' || (doc_id % 3)
        |      || '?q=' || (doc_id % 3) AS canon
        |  FROM documents)
        |SELECT canon, count(*) AS n_snapshots,
        |  CAST(max(doc_id) AS BIGINT) AS kept_doc_id,
        |  CAST(count(*) - 1 AS BIGINT) AS n_dropped
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_bpe_pack", (s, dir) => {
      import s.implicits._
      // The LLM data-prep endgame composed end to end: BPE training
      // (8 merges) → corpus tokenization under the learned merges
      // (codegen'd replace chain) → exact global token offsets
      // (distributed prefix-sum) → 2048-token sequence count. First 10
      // docs by id pin the running offsets; the totals pin the rest.
      val d = s.read.parquet(pq(dir, "documents"))
      // learnInMemory: bit-identical merges to the 8-round distributed
      // trainer (same UTF-8-byte argmax order, overlap-counted pair
      // counts, greedy application — the parity t_bpe_merges_deep's
      // oracle replays), at ONE vocab collapse + zero jobs per merge
      // instead of 2 vocabulary aggregations per merge
      val merges = graft.operators.BpeTrain.learnInMemory(s, d, "text", numMerges = 8)
        .orderBy($"rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val counts = graft.operators.BpeTrain.subwordCounts(d, "doc_id", "text", merges)
      val full = d.select($"doc_id")
        .join(counts.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"n_subwords", lit(0L)).as("n_subwords"))
      val packed = graft.operators.Packing
        .withGlobalOffsets(full, "doc_id", "n_subwords").cache()
      val totals = packed.agg(
        count(lit(1)).as("n_docs"),
        sum($"n_subwords").as("total_subwords"),
        expr("(sum(n_subwords) + 2047) div 2048").as("n_sequences"))
      packed.orderBy($"doc_id").limit(10)
        .crossJoin(broadcast(totals))
        .select($"doc_id", $"n_subwords", $"cum", $"n_docs", $"total_subwords", $"n_sequences")
        .orderBy($"doc_id")
    },
      // BPE→pack replay: the 8 merge stages (shared CTEs), a word →
      // subword-count map recovered from the final symbolization (word =
      // the symbolization with spaces stripped — symbolize is injective),
      // per-doc LEFT-join sums (token-less docs stay at 0), global cumsum
      s"""WITH ${bpeStageCtes(8)},
        |bpmap AS (SELECT replace(s, ' ', '') AS w,
        |    len(string_split(trim(s), '  ')) AS nsub FROM bpv8),
        |bpperdoc AS (
        |  SELECT d.doc_id, CAST(coalesce(sum(m.nsub), 0) AS BIGINT) AS n_subwords
        |  FROM documents d
        |  LEFT JOIN bptok t ON t.doc_id = d.doc_id
        |  LEFT JOIN bpmap m ON m.w = t.w
        |  GROUP BY 1),
        |bpcum AS (SELECT doc_id, n_subwords,
        |    sum(n_subwords) OVER (ORDER BY doc_id) AS cum FROM bpperdoc),
        |bptot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
        |  CAST((sum(n_subwords) + 2047) // 2048 AS BIGINT) AS n_sequences
        |  FROM bpperdoc)
        |SELECT c.doc_id, c.n_subwords, CAST(c.cum AS BIGINT) AS cum,
        |  t.n_docs, t.total_subwords, t.n_sequences
        |FROM bpcum c CROSS JOIN bptot t
        |ORDER BY doc_id LIMIT 10""".stripMargin),
    Query("p_epoch_shuffle", (s, dir) => {
      import s.implicits._
      // Deterministic training-order permutation: position = global rank
      // in (md5(doc_id), doc_id) order via the distributed prefix-sum
      // (no single-task global sort). First 15 (position, doc_id) rows
      // plus constant totals; sum(position * doc_id) is a checksum that
      // pins the ENTIRE permutation, not just the shown head.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val pos = graft.operators.Packing.epochShuffle(d, "doc_id").cache()
      val totals = pos.agg(
        count(lit(1)).as("n_docs"),
        sum($"position" * $"doc_id").as("perm_sum"))
      pos.orderBy($"position").limit(15)
        .crossJoin(broadcast(totals))
        .select($"position", $"doc_id", $"n_docs", $"perm_sum")
        .orderBy($"position")
    }, {
      // epoch-shuffle replay: 48-bit md5-prefix key via strpos hex
      // arithmetic (no conv() in DuckDB), one global row_number — the
      // oracle may single-task what the engine distributes
      val k = md5PrefixSql("CAST(doc_id AS VARCHAR)", 12)
      s"""WITH eps AS (SELECT doc_id,
        |    $k AS k
        |  FROM documents),
        |epr AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS position
        |  FROM eps),
        |ept AS (SELECT count(*) AS n_docs, sum(position * doc_id) AS perm_sum
        |  FROM epr)
        |SELECT CAST(r.position AS BIGINT) AS position,
        |  CAST(r.doc_id AS BIGINT) AS doc_id,
        |  CAST(t.n_docs AS BIGINT) AS n_docs,
        |  CAST(t.perm_sum AS BIGINT) AS perm_sum
        |FROM epr r CROSS JOIN ept t
        |ORDER BY position LIMIT 15""".stripMargin
    }),
    Query("p_token_budget", (s, dir) => {
      import s.implicits._
      // token-budget corpus selection (the data-constrained-scaling
      // primitive: spend a fixed token budget on the BEST documents):
      // quality buckets (floor((1-score)*4) — exact double grid, bit-
      // mirrored like t_quality_score) order best-first via
      // curriculumOrder, exact global token offsets via the distributed
      // prefix-sum, keep while cum <= 60% of corpus tokens. Everything
      // is the two library scaffolds composed — no single-task sort, no
      // global window; the budget cut is a map-only filter on cum.
      val qUdf = udf((t: String) => TextStats.quality(t).score)
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id",
          floor((lit(1.0) - qUdf($"text")) * 4).cast("long").as("bucket"),
          size(split($"text", "\\s+")).cast("long").as("toks"))
      val budget = d.agg(sum($"toks")).as[Long].head() * 6 / 10
      val ordered = graft.operators.Packing.curriculumOrder(d, "doc_id", "bucket")
      graft.operators.Packing.withGlobalOffsets(ordered, "position", "toks")
        .groupBy($"bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"cum" <= budget, 1L).otherwise(0L)).as("n_kept"),
          sum(when($"cum" <= budget, $"toks").otherwise(0L)).as("kept_tokens")
        )
        .orderBy($"bucket")
    }, {
      // token-budget replay: the shared quality CTEs feed the same bucket
      // grid, one window in (bucket, digest48, doc_id) order cumsums the
      // token counts, the 60% budget cut mirrored in integer arithmetic
      val k = md5PrefixSql("CAST(q.doc_id AS VARCHAR)", 12)
      s"""WITH $qualityCtes,
        |tb AS (SELECT q.doc_id,
        |    CAST(floor((1.0 - q.score) * 4) AS BIGINT) AS bucket,
        |    len(string_split_regex(d.text, '\\s+')) AS toks,
        |    $k AS k
        |  FROM qs q JOIN documents d ON q.doc_id = d.doc_id),
        |tr AS (SELECT doc_id, bucket, toks,
        |    sum(toks) OVER (ORDER BY bucket, k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tb),
        |tg AS (SELECT (sum(toks) * 6) // 10 AS budget FROM tb)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN cum <= budget THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM tr CROSS JOIN tg GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    Query("p_c4_lines", (s, dir) => {
      import s.implicits._
      // C4's line-granularity cleaning rules (Raffel 2020 §2.2): keep a
      // line only if it ends in terminal punctuation, has >= 3 words,
      // and never mentions javascript — the tier that surgically strips
      // boilerplate lines while keeping the page (distinct from the
      // document-level quality gates). The fixture text is single-line,
      // so pages are synthesized from its OWN tokens (4 words per line;
      // line j of doc d gets terminal '.' iff (d+j)%3>0 and an injected
      // 'javascript' token iff (d+j)%7==0) so every rule fires on every
      // doc; the kernel then operates on the real multi-line STRING and
      // the oracle replays line membership and rebuilt-string lengths
      // from the shared tokenize CTEs. Two chained UDFs, map-only; the
      // only shuffle is the per-source aggregate.
      val pageUdf = udf { (id: Long, text: String) =>
        val toks = TextStats.tokens(if (text == null) "" else text)
        val sb = new StringBuilder
        var i = 0
        var j = 0
        while (i < toks.length) {
          if (j > 0) sb.append('\n')
          sb.append(toks.slice(i, math.min(i + 4, toks.length)).mkString(" "))
          if ((id + j) % 7 == 0) sb.append(" javascript")
          if ((id + j) % 3 > 0) sb.append('.')
          i += 4
          j += 1
        }
        sb.toString
      }
      val cleanUdf = udf((page: String) => TextStats.c4LineClean(page))
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"source", cleanUdf(pageUdf($"doc_id", $"text")).as("r"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"r.nLines".cast("long")).as("n_lines"),
          sum($"r.nKept".cast("long")).as("n_kept"),
          sum($"r.nKeptWords".cast("long")).as("n_kept_words"),
          sum(length($"r.cleaned").cast("long")).as("sum_clean_len")
        )
        .orderBy($"source")
    },
      // C4 line-rules replay: lines regrouped from the shared tokenize
      // CTEs (4 tokens per line), rule flags recomputed from (doc, line)
      // arithmetic, and the rebuilt cleaned-string length mirrored as
      // sum(token chars) + (wc-1) spaces + 1 terminal dot per kept line
      // + (nk-1) newline joiners per doc
      s"""WITH ${tokCtesOver("documents", "lc")},
        |ll AS (SELECT doc_id, (i - 1) // 4 AS line, count(*) AS wc, sum(length(w)) AS cw
        |       FROM lctok GROUP BY 1, 2),
        |fl AS (SELECT doc_id, line, wc, cw,
        |       (doc_id + line) % 3 > 0 AS terminal,
        |       (doc_id + line) % 7 = 0 AS js
        |  FROM ll),
        |kp AS (SELECT doc_id, wc, cw + wc AS linelen
        |  FROM fl WHERE terminal AND NOT js AND wc >= 3),
        |tl AS (SELECT doc_id, count(*) AS nl FROM ll GROUP BY 1),
        |pd AS (SELECT d.doc_id, d.source, t.nl,
        |    count(k.wc) AS nk, coalesce(sum(k.wc), 0) AS nkw,
        |    coalesce(sum(k.linelen), 0)
        |      + CASE WHEN count(k.wc) > 1 THEN count(k.wc) - 1 ELSE 0 END AS clen
        |  FROM documents d JOIN tl t USING (doc_id) LEFT JOIN kp k USING (doc_id)
        |  GROUP BY 1, 2, 3)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nl) AS BIGINT) AS n_lines,
        |  CAST(sum(nk) AS BIGINT) AS n_kept,
        |  CAST(sum(nkw) AS BIGINT) AS n_kept_words,
        |  CAST(sum(clen) AS BIGINT) AS sum_clean_len
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_curriculum", (s, dir) => {
      import s.implicits._
      // Curriculum data ordering (sequence-length warmup: short docs
      // train first): length deciles capped at 9 -> bucket-major global
      // positions, digest-shuffled within each bucket, via the same
      // distributed-rank scaffold as p_epoch_shuffle (composite
      // bucket<<48|digest48 key — one pass, no single-task sort). Output
      // pins per bucket: the position RANGE (contiguity: max-min+1 ==
      // n_docs is visible in the row) and sum(position*doc_id), the
      // checksum fixing the entire within-bucket permutation.
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id",
          least(floor($"n_chars" / 100), lit(9)).cast("long").as("bucket"))
      graft.operators.Packing.curriculumOrder(d, "doc_id", "bucket")
        .groupBy($"bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          min($"position").as("min_pos"),
          max($"position").as("max_pos"),
          sum($"position" * $"doc_id").as("perm_sum")
        )
        .orderBy($"bucket")
    }, {
      // curriculum replay: same length buckets, one window in
      // (bucket, digest48, doc_id) order — the single-window naive form the
      // distributed scaffold must equal row for row
      val k = md5PrefixSql("CAST(doc_id AS VARCHAR)", 12)
      s"""WITH cb AS (SELECT doc_id,
        |    least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bucket,
        |    $k AS k
        |  FROM documents),
        |cr AS (SELECT doc_id, bucket,
        |    row_number() OVER (ORDER BY bucket, k, doc_id) AS position
        |  FROM cb)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(min(position) AS BIGINT) AS min_pos,
        |  CAST(max(position) AS BIGINT) AS max_pos,
        |  CAST(sum(position * doc_id) AS BIGINT) AS perm_sum
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    Query("p_crawl_budget", (s, dir) => {
      import s.implicits._
      // Politeness-budgeted frontier selection: 23 hosts, priority
      // synthesized from doc_id, per-host cap 5, global budget 100 under
      // the total (priority DESC, url) order — url uniqueness makes the
      // 100-row cut deterministic. Per-host aggregation of the selected
      // set pins exact membership; the oracle replays with a window +
      // LIMIT (fine at oracle scale; the engine side uses the bounded
      // aggregator precisely because a window is NOT the 100 TB shape).
      val d = s.read.parquet(pq(dir, "documents"))
      val frontier = d.select($"doc_id".as("url"), ($"doc_id" % 23).as("host"),
        (($"doc_id" * 31) % 1000).as("priority"))
      graft.operators.CrawlBudget
        .allocate(frontier, "host", "url", "priority", perHostCap = 5, totalBudget = 100)
        .groupBy($"host")
        .agg(count(lit(1)).as("n_selected"), sum($"url").as("sum_url_ids"),
          max($"priority").as("max_priority"))
        .orderBy($"host")
    },
      // budget replay: per-host window rank capped at 5, global LIMIT 100
      // under (priority DESC, url) — url-unique total order
      """WITH cbf AS (
        |  SELECT doc_id AS url, doc_id % 23 AS host, (doc_id * 31) % 1000 AS priority
        |  FROM documents),
        |cbh AS (SELECT host, url, priority,
        |  row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rk
        |  FROM cbf),
        |cbsel AS (SELECT host, url, priority FROM cbh WHERE rk <= 5
        |  ORDER BY priority DESC, url LIMIT 100)
        |SELECT CAST(host AS BIGINT) AS host, CAST(count(*) AS BIGINT) AS n_selected,
        |  CAST(sum(url) AS BIGINT) AS sum_url_ids,
        |  CAST(max(priority) AS BIGINT) AS max_priority
        |FROM cbsel GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_snapshot_gc", (s, dir) => {
      import s.implicits._
      // Snapshot retention over a multi-generation table: 100 urls with
      // one snapshot per crawl generation (day = (doc div 100) div 2,
      // so generation PAIRS share a timestamp — the commit sequence
      // must break those ties or retained sets drift), keep latest 2
      // per url, everything else is the vacuum list. Aggregates pin the
      // retained/deleted SETS via seq and ts sums.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val snaps = d.select(($"doc_id" % 100).as("url"),
        timestamp_seconds(lit(1735689600L) +
          expr("((doc_id div 100) div 2) * 86400")).as("ts"),
        $"doc_id".as("seq"))
      graft.operators.CrawlDiff.retentionPlan(snaps, "url", "ts", "seq", n = 2)
        .groupBy($"retained")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"url").as("n_urls"),
          sum($"seq").as("sum_seq"),
          sum($"ts_sec").as("sum_ts_sec"))
        .orderBy($"retained")
    },
      // retention replay: same synthesis, per-url window rank over
      // (second DESC, seq DESC), retained = rank <= 2
      """WITH sg AS (
        |  SELECT doc_id % 100 AS url,
        |    1735689600 + ((doc_id // 100) // 2) * 86400 AS ts_sec,
        |    doc_id AS seq
        |  FROM documents),
        |sgr AS (SELECT url, ts_sec, seq,
        |    row_number() OVER (PARTITION BY url ORDER BY ts_sec DESC, seq DESC) AS rk
        |  FROM sg)
        |SELECT rk <= 2 AS retained, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
        |  CAST(sum(seq) AS BIGINT) AS sum_seq,
        |  CAST(sum(ts_sec) AS BIGINT) AS sum_ts_sec
        |FROM sgr GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_crawl_diff", (s, dir) => {
      import s.implicits._
      // Two crawl generations synthesized from documents (the oracle
      // rebuilds both): generation B drops the %10==2 slice, gains the
      // %10==7 slice (absent from A), and rewrites every %5==0 doc.
      // Hash-only diff (CrawlDiff scaladoc — bodies never shuffle); the
      // status histogram + id-sums pin per-class membership.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id", $"text")
      val a = d.filter($"doc_id" % 10 =!= 7)
        .select($"doc_id".as("url"), md5($"text").as("digest"))
      val bSnap = d.filter($"doc_id" % 10 =!= 2)
        .select($"doc_id".as("url"),
          md5(when($"doc_id" % 5 === 0, concat($"text", lit(" updated")))
            .otherwise($"text")).as("digest"))
      graft.operators.CrawlDiff.diff(a, bSnap, "url", "digest")
        .groupBy($"status")
        .agg(count(lit(1)).as("n_urls"), sum($"key").as("sum_ids"))
        .orderBy($"status")
    },
      // identical two-generation synthesis; full-outer digest compare
      """WITH cda AS (
        |  SELECT doc_id AS url, md5(text) AS digest
        |  FROM documents WHERE doc_id % 10 <> 7),
        |cdb AS (
        |  SELECT doc_id AS url,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END) AS digest
        |  FROM documents WHERE doc_id % 10 <> 2),
        |cdd AS (
        |  SELECT coalesce(a.url, b.url) AS key,
        |    CASE WHEN a.url IS NULL THEN 'added'
        |         WHEN b.url IS NULL THEN 'removed'
        |         WHEN a.digest = b.digest THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM cda a FULL OUTER JOIN cdb b ON a.url = b.url)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(sum(key) AS BIGINT) AS sum_ids
        |FROM cdd GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_host_blocklist", (s, dir) => {
      import s.implicits._
      // subdomain-suffix blocklist filtering over deterministically
      // synthesized hosts (subK.siteM.com from doc_id): site2.com blocks
      // a whole domain at any depth, sub1.site4.com blocks one exact
      // subdomain, badsite.com matches nothing. The oracle rebuilds the
      // hosts and replays the suffix decomposition in SQL list functions.
      val blocklist = Seq("site2.com", "sub1.site4.com", "badsite.com")
      val docs = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id", $"source",
        concat(lit("sub"), ($"doc_id" % 7).cast("string"),
          lit(".site"), ($"doc_id" % 5).cast("string"), lit(".com")).as("host"))
      val kept = graft.operators.HostFilter.dropBlockedHosts(docs, "host", blocklist)
      docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy($"source")
          .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids")),
          Seq("source"), "left")
        .select($"source", $"n_docs",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"))
        .orderBy($"source")
    },
      // identical host synthesis; suffix decomposition via list slicing
      // (parts[i:] re-joined), blocked = any suffix in the blocklist
      """WITH hsrc AS (
        |  SELECT doc_id, source,
        |    'sub' || CAST(doc_id % 7 AS VARCHAR) || '.site' ||
        |    CAST(doc_id % 5 AS VARCHAR) || '.com' AS host
        |  FROM documents),
        |hm AS (
        |  SELECT doc_id, source,
        |    len(list_filter(
        |      list_transform(generate_series(1, len(string_split(host, '.'))),
        |        i -> array_to_string(string_split(host, '.')[i:], '.')),
        |      sfx -> list_contains(['site2.com', 'sub1.site4.com', 'badsite.com'], sfx)
        |    )) > 0 AS blocked
        |  FROM hsrc)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN blocked THEN NULL ELSE doc_id END), 0) AS BIGINT) AS sum_kept_ids
        |FROM hm GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_meta_robots", (s, dir) => {
      import s.implicits._
      // the in-page half of robots exclusion: per-page <meta
      // name="robots"> admission on the streaming tokenizer sink (no
      // DOM). Seven deterministic directive families are synthesized
      // IN-PLAN (codegen'd concat/CASE, one parse UDF per page): plain
      // noindex; case/whitespace-mangled NOFOLLOW with an unknown
      // directive; none (= both); two tags combining restrictively; a
      // BODY-placed decoy that engines (and this parser) must ignore; a
      // name="description" decoy; and no tag at all. The oracle replays
      // the family->verdict map arithmetically; the parse itself is
      // MetaRobotsSpec's job.
      val metaUdf = udf((h: String) => {
        val d = graft.functions.html.MetaRobots.parse(h)
        (d.noindex, d.nofollow)
      })
      val b = $"doc_id" % 7
      val html = concat(
        lit("<html><head><title>x</title>"),
        when(b === 0, lit("<meta name=\"robots\" content=\"noindex\">"))
          .when(b === 1, lit("<meta name=\"ROBOTS\" content=\" NOFOLLOW , noarchive \">"))
          .when(b === 2, lit("<meta name=\"robots\" content=\"none\">"))
          .when(b === 3, lit("<meta name=\"robots\" content=\"nofollow\">" +
            "<meta name=\"robots\" content=\"noindex\">"))
          .when(b === 5, lit("<meta name=\"description\" content=\"noindex\">"))
          .otherwise(lit("")),
        lit("</head><body>"),
        when(b === 4, lit("<meta name=\"robots\" content=\"noindex\">")).otherwise(lit("")),
        lit("<p>"), $"text", lit("</p></body></html>"))
      s.read.parquet(pq(dir, "documents"))
        .select(b.cast("long").as("bucket"), metaUdf(html).as("d"))
        .groupBy($"bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"d._1", 1L).otherwise(0L)).as("n_noindex"),
          sum(when($"d._2", 1L).otherwise(0L)).as("n_nofollow"),
          sum(when(!$"d._1", 1L).otherwise(0L)).as("n_admitted")
        )
        .orderBy($"bucket")
    },
      // meta-robots admission: the family->verdict map replayed
      // arithmetically over the same doc_id % 7 synthesis (noindex for
      // families 0/2/3, nofollow for 1/2/3; body/description decoys and
      // the bare family admit)
      """SELECT bucket, count(*) AS n_docs,
        |  CAST(count(*) * (CASE WHEN bucket IN (0, 2, 3) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_noindex,
        |  CAST(count(*) * (CASE WHEN bucket IN (1, 2, 3) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nofollow,
        |  CAST(count(*) * (CASE WHEN bucket IN (0, 2, 3) THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_admitted
        |FROM (SELECT CAST(doc_id % 7 AS BIGINT) AS bucket FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_robots_filter", (s, dir) => {
      import s.implicits._
      // RFC 9309 robots compliance over synthesized hosts/paths: the
      // kernel must pick the graftbot groups (ignoring otherbot and the
      // poisoned '*' group on site2), combine multiple named groups, and
      // apply longest-match with Allow winning ties (the /dup pair). The
      // oracle rebuilds hosts/paths and replays longest-match as an
      // integer argmax (2*len(prefix)+allow; odd = allowed) over the
      // EFFECTIVE graftbot rules — so a wrong group selection, a missed
      // combine, or a tie broken the wrong way all shift the counts.
      val docs = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id", $"source",
        concat(lit("site"), ($"doc_id" % 5).cast("string"), lit(".com")).as("host"),
        concat(lit("/"),
          element_at(
            array(lit("private"), lit("private/open"), lit("dup"), lit("public")),
            ($"doc_id" % 4).cast("int") + 1),
          lit("/"), ($"doc_id" % 11).cast("string")).as("path"))
      val robots = Seq(
        ("site1.com",
          "User-agent: otherbot\nAllow: /\n\nUser-agent: graftbot\nDisallow: /\n"),
        ("site2.com",
          "User-agent: *\nDisallow: /\n\nUser-agent: graftbot\nDisallow: /private\n" +
            "Allow: /private/open\n\nUser-agent: graftbot\nDisallow: /dup\nAllow: /dup\n"),
        ("site4.com", "User-agent: otherbot\nDisallow: /\n")).toDF("host", "robots_body")
      val kept = graft.operators.Robots
        .allowedPages(docs, robots, "host", "path", "robots_body", "graftbot")
      docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy($"source")
          .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids")),
          Seq("source"), "left")
        .select($"source", $"n_docs",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"))
        .orderBy($"source")
    },
      // longest-match replay over the EFFECTIVE graftbot rules: verdict key
      // = max(2*len(prefix)+allow) over matching rules; odd (or absent) =
      // allowed. Mirrors Robots.evaluate's ordering exactly (ties -> Allow).
      """WITH d AS (
        |  SELECT doc_id, source,
        |    'site' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS host,
        |    '/' || CASE CAST(doc_id % 4 AS INT)
        |             WHEN 0 THEN 'private' WHEN 1 THEN 'private/open'
        |             WHEN 2 THEN 'dup' ELSE 'public' END
        |        || '/' || CAST(doc_id % 11 AS VARCHAR) AS path
        |  FROM documents),
        |r(host, allow, prefix) AS (VALUES
        |  ('site1.com', 0, '/'),
        |  ('site2.com', 0, '/private'), ('site2.com', 1, '/private/open'),
        |  ('site2.com', 0, '/dup'),     ('site2.com', 1, '/dup')),
        |v AS (
        |  SELECT d.doc_id, d.source,
        |    max(CASE WHEN r.host IS NOT NULL AND starts_with(d.path, r.prefix)
        |             THEN 2 * length(r.prefix) + r.allow END) AS vkey
        |  FROM d LEFT JOIN r ON d.host = r.host
        |  GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN vkey IS NULL OR vkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN vkey IS NULL OR vkey % 2 = 1 THEN doc_id END), 0) AS BIGINT) AS sum_kept_ids
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_crawl_admission", (s, dir) => {
      import s.implicits._
      // The crawler admission pipeline composed end to end from the
      // library operators: URL canonicalization (upper-case scheme/host,
      // default port, tracking params, fragment, unsorted params) →
      // canonical dedup → subdomain blocklist → RFC 9309 robots →
      // politeness budget. The canonical key (k, m, n) is re-derived
      // from the CANONICAL STRING by an anchored regex, so any
      // canonicalization drift breaks the match and surfaces in
      // n_canon_bad (pinned 0) — the kernel is load-bearing, not
      // decorative. The oracle reconstructs every stage as closed-form
      // predicates on doc_id % 840.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val raw = docs.select(concat(
        lit("HTTP://Sub"), ($"doc_id" % 7).cast("string"),
        lit(".Site"), ($"doc_id" % 5).cast("string"),
        lit(".com:80/p/"), ($"doc_id" % 120).cast("string"),
        lit("?utm_source=x&b=2&a=1#frag")).as("url"))
      val canonUdf = udf((u: String) => graft.functions.UrlCanon.canonicalize(u))
      val canon = raw.select(canonUdf($"url").as("canon")).distinct().cache()
      val pat = "^http://sub([0-9]+)\\.site([0-9]+)\\.com(/p/([0-9]+))\\?a=1&b=2$"
      val parsed = canon.filter($"canon".rlike(pat)).select(
        regexp_extract($"canon", pat, 1).cast("long").as("k"),
        regexp_extract($"canon", pat, 2).cast("long").as("m"),
        regexp_extract($"canon", pat, 3).as("path"),
        regexp_extract($"canon", pat, 4).cast("long").as("n"))
        .withColumn("host", concat(lit("sub"), $"k", lit(".site"), $"m", lit(".com")))
        .cache()
      val afterBlock = graft.operators.HostFilter
        .dropBlockedHosts(parsed, "host", Seq("site2.com", "sub1.site4.com")).cache()
      val robots = (0 until 7).map(k =>
        (s"sub$k.site3.com", "User-agent: graftbot\nDisallow: /p\nAllow: /p/1\n"))
        .toDF("host", "robots_body")
      val afterRobots = graft.operators.Robots
        .allowedPages(afterBlock, robots, "host", "path", "robots_body", "graftbot").cache()
      val frontier = afterRobots.select(
        (($"k" * 5 + $"m") * 120 + $"n").as("url"),
        ($"k" * 10 + $"m").as("host_id"), $"n".as("priority"))
      val sel = graft.operators.CrawlBudget
        .allocate(frontier, "host_id", "url", "priority", perHostCap = 5, totalBudget = 60)
      raw.agg(count(lit(1)).as("n_raw"))
        .crossJoin(canon.agg(count(lit(1)).as("n_canon")))
        .crossJoin(parsed.agg(count(lit(1)).as("__p")))
        .crossJoin(afterBlock.agg(count(lit(1)).as("n_after_block")))
        .crossJoin(afterRobots.agg(count(lit(1)).as("n_after_robots")))
        .crossJoin(sel.agg(count(lit(1)).as("n_budget"),
          coalesce(sum($"url"), lit(0L)).as("sum_budget_urls")))
        .select($"n_raw", $"n_canon", ($"n_canon" - $"__p").as("n_canon_bad"),
          $"n_after_block", $"n_after_robots", $"n_budget", $"sum_budget_urls")
    },
      // admission replay: every stage a closed-form predicate on the
      // canonical key u = doc_id % 840 (k=u%7, m=u%5, n=u%120 — the
      // mixed-radix url id is injective); blocklist = m!=2 and not
      // (k=1,m=4); robots on site3 = n starts with '1' (Allow /p/1 beats
      // Disallow /p by longest-match); budget = window rank + LIMIT
      """WITH ad AS (SELECT DISTINCT doc_id % 840 AS u FROM documents),
        |at AS (SELECT u, u % 7 AS k, u % 5 AS m, u % 120 AS n FROM ad),
        |ab AS (SELECT * FROM at WHERE m <> 2 AND NOT (k = 1 AND m = 4)),
        |ar AS (SELECT * FROM ab WHERE m <> 3 OR CAST(n AS VARCHAR) LIKE '1%'),
        |af AS (SELECT (k*5 + m)*120 + n AS url, k*10 + m AS host_id, n AS priority
        |  FROM ar),
        |ah AS (SELECT url, priority,
        |    row_number() OVER (PARTITION BY host_id ORDER BY priority DESC, url) AS rk
        |  FROM af),
        |asel AS (SELECT url FROM ah WHERE rk <= 5 ORDER BY priority DESC, url LIMIT 60)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_raw,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ad) AS n_canon,
        |  CAST(0 AS BIGINT) AS n_canon_bad,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ab) AS n_after_block,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ar) AS n_after_robots,
        |  (SELECT CAST(count(*) AS BIGINT) FROM asel) AS n_budget,
        |  (SELECT CAST(coalesce(sum(url), 0) AS BIGINT) FROM asel) AS sum_budget_urls""".stripMargin),
    Query("p_sitemap_frontier", (s, dir) => {
      import s.implicits._
      // sitemap-driven crawl frontier: every doc becomes a one-entry
      // urlset (locs collide across docs mod 50, and lastmod day
      // = 1 + k%10 + 3*(d%3), so the per-loc MAX-lastmod aggregation is
      // load-bearing: max day = 7 + k%10 splits crawled urls into stale
      // (k%10 >= 6) and current at the 2025-01-12 watermark — a min or a
      // first-wins would flip rows). The crawled table covers k%3!=0;
      // up-to-date urls must be dropped. Zero-padded <lastmod> is
      // load-bearing too (a non-padded date fails W3C parsing and would
      // kill every stale).
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val sitemaps = docs.select(
        concat(lit("https://site"), ($"doc_id" % 5).cast("string"),
          lit(".com/sitemap"), $"doc_id".cast("string"), lit(".xml")).as("url"),
        concat(
          lit("<?xml version=\"1.0\"?><urlset><url><loc>https://site"),
          ($"doc_id" % 5).cast("string"), lit(".com/p/"),
          ($"doc_id" % 50).cast("string"),
          lit("</loc><lastmod>2025-01-"),
          lpad((lit(1) + $"doc_id" % 50 % 10 + lit(3) * ($"doc_id" % 3)).cast("string"), 2, "0"),
          lit("</lastmod></url></urlset>")).cast("binary").as("body"))
      val crawledKeys = docs.select(($"doc_id" % 50).as("k")).distinct()
        .filter($"k" % 3 =!= 0)
        .select(
          concat(lit("https://site"), ($"k" % 5).cast("string"), lit(".com/p/"),
            $"k".cast("string")).as("url"))
      // TWO snapshots per crawled url (a stale 01-02 fetch plus the 01-12
      // re-crawl): staleness must be judged against the LATEST snapshot
      // only — an un-aggregated left join would fan each url into one row
      // per snapshot and mark day>2 urls stale against the old fetch
      val crawled = crawledKeys
        .select($"url", to_timestamp(lit("2025-01-12 00:00:00")).as("warc_ts"))
        .union(crawledKeys
          .select($"url", to_timestamp(lit("2025-01-02 00:00:00")).as("warc_ts")))
      graft.sources.Sitemap.frontier(sitemaps, crawled)
        .select($"status",
          regexp_extract($"loc", "([0-9]+)$", 1).cast("long").as("k"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_urls"), sum($"k").as("sum_k"))
        .orderBy($"status")
    },
      // frontier replay: per-loc MAX lastmod day (1 + k%10 + 3*(d%3)) vs
      // the day-12 watermark; crawled set = k%3!=0 over the 50 loc keys
      """WITH d AS (SELECT doc_id FROM documents),
        |l0 AS (SELECT doc_id % 50 AS k,
        |         1 + doc_id % 50 % 10 + 3 * (doc_id % 3) AS day FROM d),
        |l AS (SELECT k, max(day) AS day FROM l0 GROUP BY 1),
        |c AS (SELECT DISTINCT k FROM l0 WHERE k % 3 <> 0),
        |f AS (SELECT l.k,
        |        CASE WHEN c.k IS NULL THEN 'new'
        |             WHEN l.day > 12 THEN 'stale'
        |             ELSE 'current' END AS status
        |      FROM l LEFT JOIN c USING (k))
        |SELECT status, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM f WHERE status <> 'current' GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_feed_ingest", (s, dir) => {
      import s.implicits._
      // RSS/Atom feed ingestion: even docs become RSS 2.0 feeds, odd
      // docs Atom feeds, each with one dated and one undated item. The
      // parse must skip channel-level title/link (outside items), decode
      // the &amp; entity in titles, prefer the rel-less Atom link over
      // the rel="self" one, parse RFC 1123 (rss) and ISO-8601 (atom)
      // dates, and leave the undated item's published null. The oracle
      // reconstructs every aggregate arithmetically from doc_id.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val a = ($"doc_id" % 50).cast("string")
      val m = ($"doc_id" % 5).cast("string")
      val d = (lit(1) + $"doc_id" % 28).cast("string")
      val dd = lpad(d, 2, "0")
      val rssBody = concat(
        lit("<?xml version=\"1.0\"?><rss><channel><title>chan</title>" +
          "<link>https://ignored.example.com</link><item><title>post &amp; "),
        a, lit("</title><link>https://site"), m, lit(".com/a/"), a,
        lit("</link><pubDate>"), d, lit(" Jan 2025 00:00:00 GMT</pubDate></item>" +
          "<item><title>late</title><link>https://site"), m, lit(".com/b/"), a,
        lit("</link></item></channel></rss>"))
      val atomBody = concat(
        lit("<?xml version=\"1.0\"?><feed><title>chan</title>" +
          "<entry><title>post &amp; "), a,
        lit("</title><link rel=\"self\" href=\"https://self.example.com\"/>" +
          "<link href=\"https://site"), m, lit(".com/a/"), a,
        lit("\"/><updated>2025-02-"), dd, lit("T00:00:00Z</updated></entry>" +
          "<entry><title>late</title><link href=\"https://site"), m, lit(".com/b/"), a,
        lit("\"/></entry></feed>"))
      val feeds = docs.select(
        concat(lit("https://site"), m, lit(".com/feed"), $"doc_id".cast("string"),
          lit(".xml")).as("url"),
        when($"doc_id" % 2 === 0, rssBody).otherwise(atomBody).cast("binary").as("body"))
      graft.sources.Feed.items(feeds, "url", "body")
        .groupBy($"kind")
        .agg(
          count(lit(1)).as("n_items"),
          sum(when($"published".isNotNull, 1L).otherwise(0L)).as("n_dated"),
          sum(regexp_extract($"link", "([0-9]+)$", 1).cast("long")).as("sum_k"),
          sum(coalesce(unix_micros($"published"), lit(0L))).as("sum_epoch_us"),
          sum(length($"title")).as("sum_title_len"))
        .orderBy($"kind")
    },
      // feed replay: every aggregate reconstructed arithmetically from
      // doc_id (two items per feed, one dated: epoch = month start +
      // (d-1) days; decoded title "post & {a}" = 7 + len(a) chars + the
      // undated "late" = 4)
      """WITH ff AS (
        |  SELECT doc_id, doc_id % 50 AS a, 1 + doc_id % 28 AS d,
        |    CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind
        |  FROM documents),
        |fr AS (SELECT kind,
        |  2 AS n_items, 1 AS n_dated, 2 * a AS sum_k,
        |  CASE WHEN kind = 'rss'
        |    THEN epoch_us(TIMESTAMP '2025-01-01 00:00:00') + (d - 1) * 86400000000
        |    ELSE epoch_us(TIMESTAMP '2025-02-01 00:00:00') + (d - 1) * 86400000000
        |  END AS epoch,
        |  (7 + length(CAST(a AS VARCHAR))) + 4 AS title_len
        |  FROM ff)
        |SELECT kind, CAST(sum(n_items) AS BIGINT) AS n_items,
        |  CAST(sum(n_dated) AS BIGINT) AS n_dated,
        |  CAST(sum(sum_k) AS BIGINT) AS sum_k,
        |  CAST(sum(epoch) AS BIGINT) AS sum_epoch_us,
        |  CAST(sum(title_len) AS BIGINT) AS sum_title_len
        |FROM fr GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_anchor_text", (s, dir) => {
      import s.implicits._
      // anchor-text aggregation over REAL synthesized HTML: the streaming
      // link harvest must resolve absolute, rooted, and ../-relative hrefs
      // (each producing a different target family by doc_id arithmetic),
      // decode the &amp; entity, and drop javascript:/#fragment noise.
      // The oracle rebuilds the resolved link rows arithmetically and
      // replays the exact bounded top-k as a row_number window — any
      // parse, resolution, or tie-break drift shifts rows.
      val pages = s.read.parquet(pq(dir, "documents")).select(
        concat(lit("https://site"), ($"doc_id" % 5).cast("string"),
          lit(".com/dir/page"), $"doc_id".cast("string"), lit(".html")).as("url"),
        concat(
          lit("<html><body><p>intro</p><a href=\"https://site"),
          (($"doc_id" + 1) % 5).cast("string"),
          lit(".com/t/"), ($"doc_id" % 7).cast("string"),
          lit("\">t zero "), ($"doc_id" % 3).cast("string"),
          lit("</a> mid <a href=\"/t/"), ($"doc_id" % 7).cast("string"),
          lit("\">t one</a><a href=\"../t/"), (($"doc_id" + 1) % 7).cast("string"),
          lit("\">t &amp; two</a><a href=\"javascript:void(0)\">noise</a>" +
            "<a href=\"#frag\">noise2</a></body></html>")
        ).cast("binary").as("html"))
      val links = graft.operators.AnchorText.links(pages, "url", "html")
      graft.operators.AnchorText.topAnchors(links, 2)
        .select($"dst", $"n_inlinks", $"n_distinct_anchors",
          concat_ws("|", $"top_anchors").as("top_anchors"))
        .orderBy($"dst")
    },
      // resolved link rows rebuilt arithmetically; bounded top-k replayed as
      // a row_number window (cnt DESC, anchor — the aggregator's ordering)
      """WITH d AS (SELECT doc_id FROM documents),
        |l AS (
        |  SELECT 'https://site' || CAST((doc_id+1)%5 AS VARCHAR) || '.com/t/' ||
        |         CAST(doc_id%7 AS VARCHAR) AS dst,
        |         't zero ' || CAST(doc_id%3 AS VARCHAR) AS anchor FROM d
        |  UNION ALL
        |  SELECT 'https://site' || CAST(doc_id%5 AS VARCHAR) || '.com/t/' ||
        |         CAST(doc_id%7 AS VARCHAR), 't one' FROM d
        |  UNION ALL
        |  SELECT 'https://site' || CAST(doc_id%5 AS VARCHAR) || '.com/t/' ||
        |         CAST((doc_id+1)%7 AS VARCHAR), 't & two' FROM d),
        |c AS (SELECT dst, anchor, count(*) AS cnt FROM l GROUP BY 1, 2),
        |r AS (SELECT dst, anchor, cnt,
        |        row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor) AS rn
        |      FROM c)
        |SELECT dst,
        |  CAST(sum(cnt) AS BIGINT) AS n_inlinks,
        |  CAST(count(*) AS BIGINT) AS n_distinct_anchors,
        |  string_agg(CASE WHEN rn <= 2 THEN anchor END, '|' ORDER BY rn) AS top_anchors
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_decontam_bloom", (s, dir) => {
      import s.implicits._
      // the Bloom-sketch decontamination path vs the exact path: the
      // bloom gate has NO false negatives, so its kept set must be a
      // SUBSET of the exact kept set — the oracle mirrors the exact kept
      // counts per lang and pins the containment violation count at a
      // provable zero (the over-drop rate is bounded in a spec, not here,
      // because DuckDB cannot replay the sketch).
      val docs = s.read.parquet(pq(dir, "documents"))
      val evalSet = docs.filter($"doc_id" % 41 === 0)
      val train = docs.filter($"doc_id" % 41 =!= 0)
      // keptExact feeds both the anti-join and the per-lang aggregate —
      // cache it or the gram explode + broadcast join runs twice
      val keptExact = Decontaminate
        .dropContaminated(train, evalSet, "doc_id", "text", k = 4, hashGrams = false)
        .cache()
      val keptBloom = Decontaminate
        .dropContaminatedBloom(train, evalSet, "doc_id", "text", k = 4, fpp = 1e-6)
      val bloomOnly = keptBloom.select($"doc_id", $"lang")
        .join(keptExact.select($"doc_id"), Seq("doc_id"), "left_anti")
        .groupBy($"lang").agg(count(lit(1)).as("n_bloom_kept_not_exact"))
      train.groupBy($"lang").agg(count(lit(1)).as("__n_train"))
        .join(keptExact.groupBy($"lang").agg(count(lit(1)).as("n_exact_kept")),
          Seq("lang"), "left")
        .join(bloomOnly, Seq("lang"), "left")
        .select($"lang",
          coalesce($"n_exact_kept", lit(0L)).as("n_exact_kept"),
          coalesce($"n_bloom_kept_not_exact", lit(0L)).as("n_bloom_kept_not_exact"))
        .orderBy($"lang")
    },
      // exact kept set mirrored like p_decontaminate; the bloom containment
      // column is a PROVABLE zero (no-false-negative sketch), not a replay
      s"""WITH ${gramCtesOver("documents", "d")},
        |g AS (SELECT doc_id, g FROM dgrams WHERE g IS NOT NULL),
        |eval_g AS (SELECT DISTINCT g FROM g WHERE doc_id % 41 = 0),
        |hits AS (SELECT DISTINCT g.doc_id FROM g JOIN eval_g USING (g)
        |         WHERE g.doc_id % 41 <> 0)
        |SELECT d.lang,
        |  CAST(count(*) - count(h.doc_id) AS BIGINT) AS n_exact_kept,
        |  CAST(0 AS BIGINT) AS n_bloom_kept_not_exact
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 41 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_decontam_fuzzy", (s, dir) => {
      import s.implicits._
      // fuzzy decontamination (the near-dup tier above the exact k-gram
      // rule): eval docs are PERTURBED copies of every 37th train doc — a
      // 3-token "benchmark answer key" prefix, the light re-wrap that
      // defeats exact gram matching for short k but leaves 3-gram Jaccard
      // = n/(n+3) >= 0.8 whenever the doc has >= 12 distinct shingles.
      // The operator broadcasts the eval band + text tables and verifies
      // with exact Jaccard in the scan pipeline (zero train shuffle);
      // with 16x2 bands the per-pair miss at j=0.8 is < 1e-7, so the
      // output equals the exact cross-set Jaccard definition the DuckDB
      // oracle computes — recall AND precision, end to end.
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val evalSet = docs.filter($"doc_id" % 37 === 0)
        .select(($"doc_id" + 9000000L).as("doc_id"),
          concat(lit("benchmark answer key "), $"text").as("text"))
      Decontaminate.fuzzyHits(docs, evalSet, "doc_id", "text",
          shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
        .select($"train_id", $"eval_id", round($"jaccard", 6).as("jaccard"))
        .orderBy($"train_id", $"eval_id")
    },
      // exact cross-set distinct-3-gram Jaccard between the train corpus and
      // the perturbed eval set — the fuzzy-decontamination operator's output
      // equals this definition because verification is exact and the 16x2
      // band miss probability at j>=0.8 is < 1e-7 per pair
      raw"""WITH tr AS (
        |  SELECT doc_id, string_split_regex(lower(text),'\s+') w FROM documents
        |  WHERE length(string_split_regex(lower(text),'\s+')) >= 3),
        |ev AS (
        |  SELECT doc_id + 9000000 AS doc_id,
        |         string_split_regex(lower('benchmark answer key ' || text),'\s+') w
        |  FROM documents
        |  WHERE length(string_split_regex(lower(text),'\s+')) >= 3 AND doc_id % 37 = 0),
        |sht AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) s FROM tr),
        |she AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) s FROM ev),
        |ct AS (SELECT doc_id, count(*) n FROM sht GROUP BY 1),
        |ce AS (SELECT doc_id, count(*) n FROM she GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id a, y.doc_id b, count(*) i
        |  FROM sht x JOIN she y ON x.s = y.s
        |  GROUP BY 1, 2)
        |SELECT a AS train_id, b AS eval_id,
        |  round(i::DOUBLE / (ct.n + ce.n - i), 6) AS jaccard
        |FROM inter JOIN ct ON ct.doc_id = a JOIN ce ON ce.doc_id = b
        |WHERE i::DOUBLE / (ct.n + ce.n - i) >= 0.8
        |ORDER BY train_id, eval_id""".stripMargin),
    Query("p_domain_mix", (s, dir) => {
      import s.implicits._
      // temperature-based domain mixing at alpha = 1/2, total target = half
      // the corpus: head domains are squashed toward sqrt(n), tail domains
      // keep a larger share. The oracle re-derives the kept SET (same
      // md5-rank rule), so sum_kept_ids pins membership per domain.
      val d = s.read.parquet(pq(dir, "documents"))
      val kept = Sampling.domainMixExact(d, "source", "text", "doc_id", 1, 2)
      d.groupBy($"source")
        .agg(count(lit(1)).as("n_total"))
        .join(
          kept.groupBy($"source")
            .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids")),
          Seq("source"), "left")
        .select($"source", $"n_total",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"))
        .orderBy($"source")
    },
      // mirror of Sampling.domainMixExact(1, 2): w = floor(sqrt(n)) is
      // engine-exact for n < 2^52, targets are pure integer div in the SAME
      // operation order as the Spark expr, kept set re-derived by md5 rank
      """WITH c AS (
        |  SELECT source, count(*) AS n,
        |         CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS nsum, sum(w) AS wsum FROM c),
        |tgt AS (SELECT c.source, c.n,
        |          least(c.n, ((tot.nsum * 1 // 2) * c.w) // tot.wsum) AS target
        |        FROM c, tot),
        |rk AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |  FROM documents),
        |kept AS (
        |  SELECT r.source, r.doc_id
        |  FROM rk r JOIN tgt t ON r.source = t.source WHERE r.rk <= t.target)
        |SELECT c.source, CAST(c.n AS BIGINT) AS n_total,
        |  CAST(count(k.doc_id) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(k.doc_id), 0) AS BIGINT) AS sum_kept_ids
        |FROM c LEFT JOIN kept k ON c.source = k.source
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    Query("p_dsir_select", (s, dir) => {
      import s.implicits._
      // DSIR-style importance selection (Xie et al. 2023): rank the raw
      // corpus by how target-like each doc's hashed unigram+bigram
      // distribution is, keep the top slice. Target = the doc_id % 17
      // slice, raw = the whole documents table; buckets are the
      // md5-prefix-16 % 256 oracle-replayable discipline, scores the
      // integer linear analog (Dsir scaladoc), selection a TakeOrdered on
      // (score desc, doc_id). Each selected row carries its exact BIGINT
      // score and gram count, so the oracle must reproduce the ranking AND
      // the score arithmetic bucket for bucket.
      val d = s.read.parquet(pq(dir, "documents"))
      val nB = 256
      val tCounts = Dsir.bucketCounts(d.filter($"doc_id" % 17 === 0), "text", nB)
      val rCounts = Dsir.bucketCounts(d, "text", nB)
      Dsir.selectTop(d, "doc_id", "text", tCounts, rCounts, 25)
    },
      // mirror of Dsir.selectTop over target = doc_id % 17, raw = all docs:
      // unigram+bigram grams (repeats kept, positions renumbered after the
      // empty-token filter), md5-prefix-16 % 256 buckets, per-bucket delta
      // = cntT*totR - cntR*totT, per-doc integer score = sum of deltas,
      // gram-free docs kept at score 0, top-25 by (score desc, doc_id)
      raw"""WITH tok0 AS (
        |  SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS w0
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS ls
        |        FROM documents)),
        |tok AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
        |    lower(w0) AS w
        |  FROM tok0 WHERE w0 <> ''),
        |grams AS (
        |  SELECT doc_id, w AS g FROM tok
        |  UNION ALL
        |  SELECT a.doc_id, a.w || ' ' || b.w AS g
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
        |gb AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(g), 4, 1)) - 1)) % 256 AS b
        |  FROM grams),
        |rcnt AS (SELECT b, count(*) AS c FROM gb GROUP BY 1),
        |tcnt AS (SELECT b, count(*) AS c FROM gb WHERE doc_id % 17 = 0 GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c) FROM tcnt) AS tt,
        |               (SELECT sum(c) FROM rcnt) AS tr),
        |delta AS (
        |  SELECT r.b, coalesce(t.c, 0) * tot.tr - r.c * tot.tt AS d
        |  FROM rcnt r LEFT JOIN tcnt t USING (b) CROSS JOIN tot),
        |sc AS (
        |  SELECT gb.doc_id, CAST(sum(delta.d) AS BIGINT) AS score,
        |         CAST(count(*) AS BIGINT) AS n_grams
        |  FROM gb JOIN delta ON gb.b = delta.b GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.score, 0) AS BIGINT) AS score,
        |  CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams
        |FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id
        |ORDER BY score DESC, d.doc_id LIMIT 25""".stripMargin),
    Query("p_zorder", (s, dir) => {
      import s.implicits._
      // Z-order (Morton) clustering for multi-column data-skipping —
      // the OPTIMIZE ZORDER BY shape: rank-bucket l_partkey and
      // l_suppkey into 16 buckets each (value-deterministic percent_rank
      // buckets, distributed via the prefix-sum scaffold), interleave to
      // a z-value (pure codegen'd shift/mask arithmetic), range-assign
      // 512-row files, and measure what a min/max-stats scan planner
      // must read under (a) the z-order layout vs (b) a LINEAR layout
      // clustered by bucket_a alone, for THREE predicate shapes: a 2-D
      // box, an a-only slice, and a b-only slice. This is z-order's
      // actual contract: the linear layout wins narrowly on its own
      // sort key and collapses to a FULL scan on the other dimension,
      // while the z layout prunes all three. The oracle recomputes
      // buckets, interleave, both layouts, and all six scan counts in
      // SQL — sum_zvalue pins the interleave arithmetic per-row.
      import graft.operators.ZOrder
      val li = s.read.parquet(pq(dir, "lineitem"))
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      val ties = Seq("l_orderkey", "l_linenumber")
      val assigned = ZOrder.assignFiles(
        li, "l_partkey", "l_suppkey", bits = 4, rowsPerFile = 512L, tieCols = ties)
        .cache()
      val statsZ = ZOrder.fileStats(assigned)
      val statsL = ZOrder.fileStats(
        ZOrder.assignByKey(assigned.drop("file_id"), "bucket_a", 512L, ties))
      val out = statsZ
        .agg(
          count(lit(1)).as("n_files"),
          ZOrder.filesToScan(statsZ, 3, 5, 9, 12).as("z_box"),
          ZOrder.filesToScan(statsZ, 3, 5, 0, 15).as("z_a_only"),
          ZOrder.filesToScan(statsZ, 0, 15, 9, 12).as("z_b_only"))
        .crossJoin(statsL.agg(
          ZOrder.filesToScan(statsL, 3, 5, 9, 12).as("lin_box"),
          ZOrder.filesToScan(statsL, 3, 5, 0, 15).as("lin_a_only"),
          ZOrder.filesToScan(statsL, 0, 15, 9, 12).as("lin_b_only")))
        .crossJoin(assigned.agg(sum($"zvalue").as("sum_zvalue")))
        .select($"n_files", $"z_box", $"z_a_only", $"z_b_only",
          $"lin_box", $"lin_a_only", $"lin_b_only", $"sum_zvalue")
      val r = out.head()
      assigned.unpersist()
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
        .toDF("n_files", "z_box", "z_a_only", "z_b_only",
          "lin_box", "lin_a_only", "lin_b_only", "sum_zvalue")
    },
      // mirror of Sharding.assignShards(nShards=8): the 16-bit md5 hex
      // prefix parsed via strpos arithmetic (DuckDB has no base-16 conv;
      // the VALUE is what must match, and integer ops are exact). The
      // coalesce mirrors the kernel's null-total assignment.
      // z-order replay: identical percent_rank buckets, expanded-literal
      // Morton interleave, both file layouts, both stats-pruning counts
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    least(15, CAST(floor(percent_rank() OVER (ORDER BY l_partkey) * 16.0) AS BIGINT)) AS ba,
        |    least(15, CAST(floor(percent_rank() OVER (ORDER BY l_suppkey) * 16.0) AS BIGINT)) AS bb
        |  FROM lineitem),
        |z AS (
        |  SELECT *,
        |    ((ba >> 0) & 1) * 2 + ((bb >> 0) & 1) * 1
        |    + ((ba >> 1) & 1) * 8 + ((bb >> 1) & 1) * 4
        |    + ((ba >> 2) & 1) * 32 + ((bb >> 2) & 1) * 16
        |    + ((ba >> 3) & 1) * 128 + ((bb >> 3) & 1) * 64 AS zv
        |  FROM b),
        |fz AS (SELECT *, (row_number() OVER (ORDER BY zv, l_orderkey, l_linenumber) - 1) // 512 AS fid FROM z),
        |sz AS (SELECT fid, min(ba) AS mina, max(ba) AS maxa, min(bb) AS minb, max(bb) AS maxb
        |       FROM fz GROUP BY 1),
        |fl AS (SELECT *, (row_number() OVER (ORDER BY ba, l_orderkey, l_linenumber) - 1) // 512 AS fid FROM z),
        |sl AS (SELECT fid, min(ba) AS mina, max(ba) AS maxa, min(bb) AS minb, max(bb) AS maxb
        |       FROM fl GROUP BY 1)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM sz) AS n_files,
        |  (SELECT CAST(sum(CASE WHEN mina <= 5 AND maxa >= 3 AND minb <= 12 AND maxb >= 9
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sz) AS z_box,
        |  (SELECT CAST(sum(CASE WHEN mina <= 5 AND maxa >= 3
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sz) AS z_a_only,
        |  (SELECT CAST(sum(CASE WHEN minb <= 12 AND maxb >= 9
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sz) AS z_b_only,
        |  (SELECT CAST(sum(CASE WHEN mina <= 5 AND maxa >= 3 AND minb <= 12 AND maxb >= 9
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sl) AS lin_box,
        |  (SELECT CAST(sum(CASE WHEN mina <= 5 AND maxa >= 3
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sl) AS lin_a_only,
        |  (SELECT CAST(sum(CASE WHEN minb <= 12 AND maxb >= 9
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sl) AS lin_b_only,
        |  (SELECT CAST(sum(zv) AS BIGINT) FROM z) AS sum_zvalue""".stripMargin),
    Query("p_shard_plan", (s, dir) => {
      import s.implicits._
      // content-hash output sharding into 8 shards: per-shard doc/token
      // mass plus an id-sum membership pin. The assignment is a pure
      // digest function, so the oracle recomputes every shard_id from
      // md5 hex arithmetic and must land the identical partition.
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"text", size(split($"text", "\\s+")).cast("long").as("toks"))
      Sharding.assignShards(d, "text", nShards = 8)
        .groupBy($"shard_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"toks").as("n_tokens"),
          sum($"doc_id").as("sum_ids")
        )
        .orderBy($"shard_id")
    },
      raw"""WITH h AS (
        |  SELECT doc_id, md5(coalesce(text, '')) AS h,
        |    CAST(length(string_split_regex(text, '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks, CAST(
        |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 8
        |    AS INTEGER) AS shard_id
        |  FROM h)
        |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("p_pipeline_clean", (s, dir) => {
      import s.implicits._
      // The modern web-cleaning pipeline (CCNet/RefinedWeb shape) composed
      // from the round-4 operators as ONE job: PII scrub -> span-level
      // substring dedup -> hashed-classifier quality gate -> temperature
      // domain mix -> content-hash shard assignment. The corpus carries
      // the same deterministic injections as the per-operator queries
      // (viral quote on %3, email/phone/IP on %5/%7/%11) so every stage
      // has real work, and the DuckDB mirror chains every stage CTE;
      // sum_kept_ids pins final membership through all five stages.
      val quote = "winter storms bring heavy snow across the northern valley" +
        " roads closing schools until further notice"
      val scrubUdf = udf((t: String) => PiiScrub.scrub(t))
      val clsWeights = graft.functions.SqlFunctions.DefaultGateWeights
      val scoreUdf = udf((t: String) => graft.functions.HashClassifier.score(t, clsWeights))
      val inj = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id", $"source",
        concat(
          $"text",
          when($"doc_id" % 3 === 0, lit(" " + quote)).otherwise(lit("")),
          when($"doc_id" % 5 === 0,
            concat(lit(" contact user"), $"doc_id".cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when($"doc_id" % 7 === 0,
            concat(lit(" call 415-555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when($"doc_id" % 11 === 0,
            concat(lit(" from 10."), ($"doc_id" % 200).cast("string"), lit("."),
              ($"doc_id" % 250).cast("string"), lit("."), ($"doc_id" % 254).cast("string")))
            .otherwise(lit(""))
        ).as("text"))
      // stage caches (same discipline as p_pipeline_keep/p_corpus_build):
      // scrubbed feeds the gram explode, the occurrence join AND the
      // stats join (the regex pass must not run once per consumer), and
      // scored feeds both the final aggregate and the gate->mix->shard
      // branch. At petabyte scale these become manifest-table snapshots.
      val scrubbed = inj
        .select($"doc_id", $"source", scrubUdf($"text").as("sc"))
        .select($"doc_id", $"source", $"sc.clean".as("text"),
          ($"sc.n_email" + $"sc.n_phone" + $"sc.n_ip").cast("long").as("pii_hits"))
        .cache()
      val sp = Dedup.dedupSpans(scrubbed.select($"doc_id", $"text"), "doc_id", "text", k = 5)
        .withColumnRenamed("text", "clean")
      val scored = scrubbed.drop("text")
        .join(sp, Seq("doc_id"))
        .select($"doc_id", $"source", $"clean", $"pii_hits", $"n_removed",
          scoreUdf($"clean").as("s"))
        .cache()
      val gated = scored.filter($"s._1" > 0)
      val kept = Sampling.domainMixExact(gated, "source", "clean", "doc_id", 1, 2)
      val sharded = Sharding.assignShards(kept, "clean", nShards = 8)
      scored.groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"pii_hits").as("n_pii_hits"),
          sum($"n_removed").as("n_span_removed"),
          sum(when($"s._1" > 0, 1L).otherwise(0L)).as("n_gate")
        )
        .join(
          sharded.groupBy($"source")
            .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids"),
              sum($"shard_id".cast("long")).as("sum_shards")),
          Seq("source"), "left")
        .select($"source", $"n_docs", $"n_pii_hits", $"n_span_removed", $"n_gate",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"),
          coalesce($"sum_shards", lit(0L)).as("sum_shards"))
        .orderBy($"source")
    },
      // complete five-stage mirror of p_pipeline_clean: injection -> the
      // p_scrub_pii regex chain -> the d_span_dedup gram/winner/coverage
      // CTEs -> per-doc recompose + hashed-classifier score over the KEPT
      // tokens (identical to scoring the recomposed text: tokens contain no
      // whitespace) -> domain-mix targets over gate survivors -> shard ids
      // from md5(recomposed) hex arithmetic
      raw"""WITH inj AS (
        |  SELECT doc_id, source,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' winter storms bring heavy snow across the northern valley roads closing schools until further notice' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) || '.' || CAST(doc_id % 254 AS VARCHAR) ELSE '' END
        |    AS text
        |  FROM documents),
        |c1 AS (SELECT doc_id, source,
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t,
        |         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne
        |       FROM inj),
        |c2 AS (SELECT doc_id, source, ne,
        |         regexp_replace(t, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS t,
        |         len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS np
        |       FROM c1),
        |c3 AS (SELECT doc_id, source, ne, np,
        |         regexp_replace(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS clean,
        |         len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS ni
        |       FROM c2),
        |sc AS (SELECT doc_id, source, clean, CAST(ne + np + ni AS BIGINT) AS pii_hits FROM c3),
        |stok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(clean, '\s+')) AS w,
        |         generate_subscripts(string_split_regex(clean, '\s+'), 1) AS i
        |  FROM sc),
        |stok AS (SELECT doc_id, w, md5(lower(w)) AS hw,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
        |         FROM stok0 WHERE w <> ''),
        |occ AS (
        |  SELECT doc_id, i AS pos,
        |    w || ' ' || lead(w,1) OVER swin || ' ' || lead(w,2) OVER swin || ' ' ||
        |    lead(w,3) OVER swin || ' ' || lead(w,4) OVER swin AS g
        |  FROM stok WINDOW swin AS (PARTITION BY doc_id ORDER BY i)),
        |ranked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
        |  FROM occ WHERE g IS NOT NULL),
        |dups AS (SELECT doc_id, pos FROM ranked WHERE rk > 1),
        |removed AS (
        |  SELECT DISTINCT t.doc_id, t.i
        |  FROM stok t JOIN dups d ON t.doc_id = d.doc_id
        |    AND t.i >= d.pos AND t.i < d.pos + 5),
        |sdoc AS (
        |  SELECT t.doc_id,
        |    sum(CASE WHEN r.i IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(string_agg(CASE WHEN r.i IS NULL THEN t.w END, ' ' ORDER BY t.i), '') AS clean2,
        |    coalesce(sum(CASE WHEN r.i IS NULL THEN
        |      ((((strpos('0123456789abcdef', substr(t.hw, 1, 1)) - 1) * 4096
        |         + (strpos('0123456789abcdef', substr(t.hw, 2, 1)) - 1) * 256
        |         + (strpos('0123456789abcdef', substr(t.hw, 3, 1)) - 1) * 16
        |         + (strpos('0123456789abcdef', substr(t.hw, 4, 1)) - 1)) % 256) * 37 + 11) % 201 - 100
        |      ELSE 0 END), 0) AS score
        |  FROM stok t LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.i = r.i
        |  GROUP BY t.doc_id),
        |docstats AS (
        |  SELECT s.doc_id, s.source, s.pii_hits,
        |    coalesce(d.n_removed, 0) AS n_removed,
        |    coalesce(d.clean2, '') AS clean2,
        |    coalesce(d.score, 0) AS score
        |  FROM sc s LEFT JOIN sdoc d ON s.doc_id = d.doc_id),
        |gated AS (SELECT * FROM docstats WHERE score > 0),
        |mc AS (SELECT source, count(*) AS n,
        |         CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        |       FROM gated GROUP BY 1),
        |mtot AS (SELECT sum(n) AS nsum, sum(w) AS wsum FROM mc),
        |mtgt AS (SELECT mc.source,
        |           least(mc.n, ((mtot.nsum * 1 // 2) * mc.w) // mtot.wsum) AS target
        |         FROM mc, mtot),
        |mrk AS (
        |  SELECT source, doc_id, clean2,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(clean2), doc_id) AS rk
        |  FROM gated),
        |mkept AS (
        |  SELECT r.source, r.doc_id, r.clean2
        |  FROM mrk r JOIN mtgt t ON r.source = t.source WHERE r.rk <= t.target),
        |kshard AS (
        |  SELECT source, doc_id,
        |    ((strpos('0123456789abcdef', substr(md5(clean2), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(md5(clean2), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(clean2), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(clean2), 4, 1)) - 1)) % 8 AS shard_id
        |  FROM mkept)
        |SELECT b.source, b.n_docs, b.n_pii_hits, b.n_span_removed, b.n_gate,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(k.sum_kept_ids, 0) AS BIGINT) AS sum_kept_ids,
        |  CAST(coalesce(k.sum_shards, 0) AS BIGINT) AS sum_shards
        |FROM (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(pii_hits) AS BIGINT) AS n_pii_hits,
        |    CAST(sum(n_removed) AS BIGINT) AS n_span_removed,
        |    CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gate
        |  FROM docstats GROUP BY 1) b
        |LEFT JOIN (
        |  SELECT source, count(*) AS n_kept, sum(doc_id) AS sum_kept_ids,
        |    sum(shard_id) AS sum_shards
        |  FROM kshard GROUP BY 1) k
        |ON b.source = k.source
        |ORDER BY b.source""".stripMargin),
    Query("p_pack_sequences", (s, dir) => {
      import s.implicits._
      // GPT-style sequence packing stats over 256-token contexts: docs
      // concatenated in doc_id order, sliced at fixed boundaries. cum comes
      // from the distributed prefix-sum (Packing.withGlobalOffsets — never
      // a single-partition global window); the oracle recomputes it as a
      // naive global cumsum. Integer div only (no float ceil drift).
      val ctx = 256
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("toks"))
      val withCum = Packing.withGlobalOffsets(d, "doc_id", "toks", 8)
      withCum
        .select($"toks", $"cum",
          expr(s"(cum - toks) div $ctx").as("seq_first"),
          expr(s"(cum - 1) div $ctx").as("seq_last"))
        .agg(
          count(lit(1)).as("n_docs"),
          max($"cum").as("total_tokens"),
          expr(s"(max(cum) + ${ctx - 1}) div $ctx").as("n_sequences"),
          sum(when($"seq_first" =!= $"seq_last", 1L).otherwise(0L)).as("n_split_docs")
        )
    },
      """WITH t AS (
        |  SELECT doc_id, CAST(length(string_split_regex(text, '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    sum(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(cum) AS BIGINT) AS total_tokens,
        |  CAST((max(cum) + 255) // 256 AS BIGINT) AS n_sequences,
        |  CAST(sum(CASE WHEN (cum - toks) // 256 <> (cum - 1) // 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
        |FROM c""".stripMargin),
    Query("p_redirect_resolve", (s, dir) => {
      import s.implicits._
      // redirect-chain resolution by pointer doubling: synthetic alias
      // chains i -> i-1 -> ... down to the nearest multiple of 5 (chain
      // lengths 1..4; multiples of 5 are terminal canonicals with no
      // outgoing edge). Truth is closed-form: final = 5*floor(i/5),
      // hops = i mod 5 — which the oracle computes directly, making both
      // the terminal TARGET and the composed hop count exact.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val edges = docs.filter($"doc_id" % 5 =!= 0)
        .select($"doc_id".as("src"), ($"doc_id" - 1).as("dst"))
      graft.operators.Redirects.resolve(edges, "src", "dst")
        .select($"src".as("url_id"), $"final".as("final_id"), $"n_hops")
        .orderBy($"url_id")
    },
      // closed-form truth for the synthetic chains: nearest lower multiple
      // of 5 is the terminal, i mod 5 the chain length
      """SELECT doc_id AS url_id, (doc_id // 5) * 5 AS final_id,
        |  CAST(doc_id % 5 AS BIGINT) AS n_hops
        |FROM documents WHERE doc_id % 5 <> 0 ORDER BY url_id""".stripMargin),
    Query("p_revisit_schedule", (s, dir) => {
      import s.implicits._
      // adaptive revisit scheduling (Cho & Garcia-Molina): per-url change
      // rates from a synthetic crawl history — 6 observations per doc whose
      // digest advances every (doc_id % 5 + 1) visits, so the truth spans
      // ratio 1.0 (changes every revisit) down to 0.2 — tiered hot/warm/
      // cold. Oracle replays the same lag/count arithmetic in SQL.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val hist = docs
        .withColumn("i", explode(sequence(lit(0), lit(5))))
        .withColumn("ts", ($"i".cast("long") * 86400L).cast("timestamp"))
        .withColumn("digest",
          $"doc_id" * 31 + expr("i div (doc_id % 5 + 1)"))
      graft.operators.Revisit
        .tiered(graft.operators.Revisit.changeRates(hist, "doc_id", "ts", "digest"))
        .select($"doc_id".as("url_id"), $"n_obs", $"n_changes",
          round($"change_ratio", 6).as("change_ratio"), $"tier")
        .orderBy($"url_id")
    },
      // same lag/count change-rate arithmetic over the same synthetic history
      """WITH h AS (
        |  SELECT doc_id, i, doc_id*31 + i // (doc_id % 5 + 1) AS digest
        |  FROM documents, generate_series(0, 5) AS g(i)),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN lag(digest) OVER w IS NOT NULL
        |           AND digest <> lag(digest) OVER w THEN 1 ELSE 0 END AS c
        |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY i, digest)),
        |r AS (SELECT doc_id, count(*) AS n_obs, sum(c) AS n_changes FROM m GROUP BY 1),
        |t AS (
        |  SELECT doc_id, n_obs, n_changes,
        |    CASE WHEN n_obs > 1 THEN n_changes::DOUBLE / (n_obs - 1)
        |         ELSE 0.0 END AS ratio
        |  FROM r)
        |SELECT doc_id AS url_id, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(n_changes AS BIGINT) AS n_changes,
        |  round(ratio, 6) AS change_ratio,
        |  CASE WHEN ratio >= 0.8 THEN 'hot'
        |       WHEN ratio >= 0.4 THEN 'warm' ELSE 'cold' END AS tier
        |FROM t ORDER BY url_id""".stripMargin),
    Query("p_pipeline_keep", (s, dir) => {
      import s.implicits._
      // the full training-corpus keep pipeline as ONE composed job — what a
      // 100 TB ingest actually runs: quality gate -> exact dedup (min-id
      // survivor per content digest) -> verified near-dup pairs ->
      // connected components -> keep one representative per cluster. Every
      // stage is the library operator; the oracle is a complete DuckDB
      // mirror (bit-exact quality scores, md5 grouping, recursive-CTE
      // transitive closure over the exact Jaccard pairs).
      val qUdf = udf((t: String) => TextStats.quality(t).score)
      // ScanPar BEFORE the quality UDF: the gate is per-row kernel work,
      // and the cached `qualified` inherits the parallel layout so every
      // downstream stage (dedup digests, signatures) stays parallel too
      val docs = ScanPar(s.read.parquet(pq(dir, "documents")))
      val qualified = docs.filter(qUdf($"text") >= 0.9).cache()
      val exDocs = Dedup.dedupExact(qualified, "doc_id", "text").cache()
      val pairs = Dedup.minhashVerifiedPairs(
        exDocs.filter(size(split(lower($"text"), "\\s+")) >= 3),
        "doc_id", "text", shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      val kept = Dedup.keepRepresentatives(exDocs, "doc_id", pairs)
      docs.agg(count(lit(1)).as("n_input"))
        .crossJoin(qualified.agg(count(lit(1)).as("n_quality")))
        .crossJoin(exDocs.agg(count(lit(1)).as("n_exact")))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
    }, pipelineKeepSql),
    Query("p_corpus_build", (s, dir) => {
      import s.implicits._
      // the COMPLETE corpus-construction pipeline as one composed job:
      // quality gate -> exact dedup -> near-dup representatives (the
      // p_pipeline_keep stages) -> benchmark decontamination (word-4-gram
      // overlap vs the doc_id%41==0 eval set; eval members drop via
      // self-overlap) -> deterministic per-lang 1/5 stratified sample.
      // The oracle mirrors every stage; sum_sampled_ids pins the final
      // kept SET, so a wrong survivor anywhere upstream breaks the hash.
      // Stage caches (MEMORY_AND_DISK, session-scoped) hold the already-
      // gated subsets reused by 2+ downstream stages; a petabyte run would
      // materialize stage outputs as manifest-table snapshots instead.
      val qUdf = udf((t: String) => TextStats.quality(t).score)
      // ScanPar: same rationale as p_pipeline_keep — parallelize before
      // the quality UDF so every cached stage keeps the layout
      val docs = ScanPar(s.read.parquet(pq(dir, "documents")))
      val qualified = docs.filter(qUdf($"text") >= 0.9).cache()
      val exDocs = Dedup.dedupExact(qualified, "doc_id", "text").cache()
      val pairs = Dedup.minhashVerifiedPairs(
        exDocs.filter(size(split(lower($"text"), "\\s+")) >= 3),
        "doc_id", "text", shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      val kept = Dedup.keepRepresentatives(exDocs, "doc_id", pairs).cache()
      val evalDocs = docs.filter($"doc_id" % 41 === 0)
      val clean = Decontaminate
        .dropContaminated(kept, evalDocs, "doc_id", "text", k = 4, hashGrams = false)
        .cache()
      val sampled = Sampling.stratifiedExact(clean, "lang", "text", "doc_id", 1, 5)
      kept.groupBy($"lang").agg(count(lit(1)).as("n_kept"))
        .join(clean.groupBy($"lang").agg(count(lit(1)).as("n_clean")), Seq("lang"), "left")
        .join(
          sampled.groupBy($"lang")
            .agg(count(lit(1)).as("n_sampled"), sum($"doc_id").as("sum_sampled_ids")),
          Seq("lang"), "left")
        .select($"lang", $"n_kept",
          coalesce($"n_clean", lit(0L)).as("n_clean"),
          coalesce($"n_sampled", lit(0L)).as("n_sampled"),
          coalesce($"sum_sampled_ids", lit(0L)).as("sum_sampled_ids"))
        .orderBy($"lang")
    }, corpusBuildSql),
    Query("p_ccnet_buckets", (s, dir) => {
      import s.implicits._
      // CCNet head/middle/tail: per-language terciles of the integer
      // commonness-per-token rate (top-500 corpus vocab, scale 10^6, floor
      // division). The confusion-free integer rate + rank arithmetic makes
      // the bucket assignment engine-exact.
      val d = s.read.parquet(pq(dir, "documents"))
      graft.operators.UnigramLm.ccnetBuckets(d, "doc_id", "text", "lang", topV = 500)
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("sum_ids"))
        .orderBy($"lang", $"bucket")
    },
      // Extends the t_unigram_lm mirror with the integer rate + per-lang
      // tercile cut: same top-500 vocab, same floor division, same
      // (rate DESC, doc_id) rank order.
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
        |    coalesce(sum(v.cnt), 0) AS commonness
        |  FROM utok t LEFT JOIN vocab v ON t.w = v.w
        |  GROUP BY 1),
        |sc AS (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN coalesce(p.n_tokens, 0) > 0
        |         THEN (p.commonness * 1000000) // p.n_tokens ELSE 0 END AS rate
        |  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id),
        |rk AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY rate DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM sc),
        |b AS (SELECT lang, doc_id,
        |        CASE WHEN rk * 3 <= n THEN 'head'
        |             WHEN rk * 3 <= 2 * n THEN 'middle'
        |             ELSE 'tail' END AS bucket
        |      FROM rk)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("p_bitext_mine", (s, dir) => {
      import s.implicits._
      // parallel-corpus mining by URL pattern (ParaCrawl-style): pages of a
      // multilingual site differ only in the language path segment, so the
      // stripped URL is the alignment key. The synthetic urls are built from
      // documents identically in both engines (doc_id div 5 groups ~5 docs
      // of assorted langs under one site path); en<->fr candidates then pass
      // the integer length-ratio gate.
      val d = s.read.parquet(pq(dir, "documents"))
        .withColumn("url", concat(lit("https://ex.com/"), $"lang", lit("/p"),
          expr("doc_id div 5").cast("string")))
      Bitext.minePairs(d, "url", "lang", "doc_id", "text",
          srcLang = "en", tgtLang = "fr",
          allLangs = Seq("de", "en", "es", "fr", "zh"), ratio = 2)
        .orderBy($"key")
    },
      // Full mirror of the bitext miner: same synthetic urls, same anchored
      // language-segment strip, same min-id candidate per (key, lang), same
      // cross-multiplied length-ratio gate.
      raw"""WITH pg AS (
        |  SELECT doc_id, lang, text,
        |    'https://ex.com/' || lang || '/p' || CAST(doc_id // 5 AS VARCHAR) AS url
        |  FROM documents),
        |keyed AS (
        |  SELECT regexp_replace(url, '^(https?://[^/]+)/(de|en|es|fr|zh)/', '\1/') AS key,
        |         lang, doc_id AS id, CAST(length(coalesce(text, '')) AS BIGINT) AS len
        |  FROM pg WHERE lang IN ('en', 'fr')),
        |one AS (SELECT key, lang, id, len FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key, lang ORDER BY id) AS rn
        |  FROM keyed) WHERE rn = 1),
        |s AS (SELECT key, id AS src_id, len AS src_len FROM one WHERE lang = 'en'),
        |t AS (SELECT key, id AS tgt_id, len AS tgt_len FROM one WHERE lang = 'fr')
        |SELECT s.key, src_id, tgt_id, src_len, tgt_len
        |FROM s JOIN t ON s.key = t.key
        |WHERE tgt_len * 2 >= src_len AND src_len * 2 >= tgt_len
        |ORDER BY s.key""".stripMargin),
    Query("p_paginate_stitch", (s, dir) => {
      import s.implicits._
      // pagination stitching (Paginate scaladoc): groups of 5 consecutive
      // docs become one article split across 5 pages, each page's html
      // carrying <link rel="next"> to its successor — markup quirks varied
      // by parity (attr order, case, quote style) plus a commented-out
      // decoy link. The REAL chain: StructuredData parses rel=next out of
      // the html, Paginate.stitch resolves chains by pointer doubling over
      // the reversed edges and reassembles texts in page order. Truth is
      // closed-form (head = 5*floor(id/5), order = id), so the oracle
      // rebuilds the stitched text with an ordered string_agg — any parse
      // miss, mis-resolved head, or out-of-order concat diverges the text.
      val d = s.read.parquet(pq(dir, "documents"))
      val nextUrl = concat(lit("u"), $"doc_id" + 1)
      val linkTag = when($"doc_id" % 2 === 0,
          concat(lit("<link rel=\"next\" href=\""), nextUrl, lit("\">")))
        .otherwise(concat(lit("<LINK HREF='"), nextUrl, lit("' REL='next'>")))
      val html = concat(
        lit("<html><head><title>P"), $"doc_id", lit("</title>\n"),
        lit("<!-- <link rel=\"next\" href=\"uDECOY\"> -->\n"),
        lit("<link rel=\"stylesheet\" href=\"s.css\">\n"),
        when($"doc_id" % 5 =!= 4, linkTag).otherwise(lit("")),
        lit("</head><body>"), $"text", lit("</body></html>"))
      val nextOf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(h).links.get("next"))
      val pages = d.select(concat(lit("u"), $"doc_id").as("url"), $"text",
        nextOf(html).as("next"))
      // dangling tail guard: keep only edges whose target page exists
      // (the last chain of a truncated corpus would otherwise stitch
      // under a never-fetched head)
      val edges = pages.filter($"next".isNotNull)
        .select($"url".as("src"), $"next".as("dst"))
        .join(pages.select($"url".as("dst")), Seq("dst"), "left_semi")
      graft.operators.Paginate.stitch(pages, edges, "url", "text")
        .select($"head", $"n_pages", md5($"text".cast("binary")).as("text_md5"),
          length($"text").cast("long").as("n_chars"))
        .orderBy($"head")
    },
      // closed-form chain truth: chains are the 5-doc doc_id//5 groups, the
      // head is the group's min id, page order is doc_id order — the ordered
      // string_agg rebuilds the stitched text exactly (md5 compared, so a
      // single out-of-order or dropped page diverges)
      """SELECT 'u' || min(doc_id) AS head,
        |  CAST(count(*) AS BIGINT) AS n_pages,
        |  md5(string_agg(text, ' ' ORDER BY doc_id)) AS text_md5,
        |  CAST(length(string_agg(text, ' ' ORDER BY doc_id)) AS BIGINT)
        |    AS n_chars
        |FROM documents GROUP BY doc_id // 5 ORDER BY head""".stripMargin),
    Query("p_canonical_dedup", (s, dir) => {
      import s.implicits._
      // rel=canonical alias-cluster dedup: every 3 consecutive docs alias
      // one canonical url (print/mobile/AMP variants of one article — the
      // highest-volume duplication class in real crawls, and the one class
      // the SITE declares itself, no similarity pass needed). The html
      // carries the canonical <link> with parity-varied markup plus decoys
      // (a commented link, an alternate-rel link, a meta refresh); the REAL
      // parse extracts it, then the cluster reduces to (canonical,
      // n_aliases, representative = min url id, total chars) — the exact
      // groupBy a 10^12-page dedup would run, keyed on the declared
      // canonical instead of a content signature. Oracle: closed-form
      // cluster arithmetic (doc_id // 3).
      val d = s.read.parquet(pq(dir, "documents"))
      val canon = concat(lit("https://ex.com/a"), expr("doc_id div 3"))
      val linkTag = when($"doc_id" % 2 === 0,
          concat(lit("<link rel=\"canonical\" href=\""), canon, lit("\">")))
        .otherwise(concat(lit("<LINK HREF='"), canon, lit("' REL='CANONICAL'>")))
      val html = concat(
        lit("<html><head><title>C"), $"doc_id", lit("</title>\n"),
        lit("<!-- <link rel=\"canonical\" href=\"https://ex.com/DECOY\"> -->\n"),
        lit("<link rel=\"alternate\" href=\"https://ex.com/alt\">\n"),
        linkTag,
        lit("</head><body>"), $"text", lit("</body></html>"))
      val canonOf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(h).links.get("canonical"))
      d.select($"doc_id", $"n_chars", canonOf(html).as("canonical"))
        .groupBy($"canonical")
        .agg(count(lit(1)).as("n_aliases"),
          min($"doc_id").as("rep_id"),
          sum($"n_chars").as("sum_chars"))
        .orderBy($"canonical")
    },
      // closed-form alias-cluster truth: 3 consecutive ids per canonical
      """SELECT 'https://ex.com/a' || (doc_id // 3) AS canonical,
        |  CAST(count(*) AS BIGINT) AS n_aliases,
        |  CAST(min(doc_id) AS BIGINT) AS rep_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY doc_id // 3 ORDER BY canonical""".stripMargin),
    Query("p_refresh_redirects", (s, dir) => {
      import s.implicits._
      // client-side redirect mining: meta-refresh chains the HTTP layer
      // never sees (interstitials, geo hops, link shorteners). Chains
      // i -> i-1 down to the nearest multiple of 4; terminals carry a
      // pure-DELAY refresh ("30", no url=) that must NOT become an edge.
      // Refresh grammar quirks vary by parity (URL case, quoting, space
      // around ';'/'='), plus a commented-out decoy. The REAL path:
      // StructuredData captures http-equiv:refresh, refreshTarget parses
      // the grammar, Redirects resolves by pointer doubling. Oracle:
      // closed-form terminal + hop count, like p_redirect_resolve — but
      // the edges here come out of an html parse, not arithmetic.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val tgt = concat(lit("u"), $"doc_id" - 1)
      val refresh = when($"doc_id" % 4 === 0,
          lit("<meta http-equiv=\"refresh\" content=\"30\">"))
        .when($"doc_id" % 2 === 0,
          concat(lit("<meta http-equiv=\"refresh\" content=\"0; url="), tgt, lit("\">")))
        .otherwise(
          concat(lit("<META CONTENT=\"0 ;URL='"), tgt, lit("'\" HTTP-EQUIV='Refresh'>")))
      val html = concat(
        lit("<html><head><title>R"), $"doc_id", lit("</title>\n"),
        lit("<!-- <meta http-equiv=\"refresh\" content=\"0; url=uDECOY\"> -->\n"),
        refresh, lit("</head><body>b</body></html>"))
      val targetOf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(h)
          .metas.get("http-equiv:refresh")
          .flatMap(graft.functions.html.StructuredData.refreshTarget))
      val edges = d.select(concat(lit("u"), $"doc_id").as("src"), targetOf(html).as("dst"))
        .filter($"dst".isNotNull)
      graft.operators.Redirects.resolve(edges, "src", "dst")
        .select($"src".as("url"), $"final", $"n_hops")
        .orderBy($"url")
    },
      // closed-form chain truth (chains of 4, terminals at multiples of 4;
      // pure-delay refreshes contribute no edge) — same shape as
      // p_redirect_resolve but the engine-side edges come from an html parse
      """SELECT 'u' || doc_id AS url, 'u' || (doc_id // 4) * 4 AS final,
        |  CAST(doc_id % 4 AS BIGINT) AS n_hops
        |FROM documents WHERE doc_id % 4 <> 0 ORDER BY url""".stripMargin),
    Query("p_hreflang_pairs", (s, dir) => {
      import s.implicits._
      // declared-translation mining: hreflang alternate clusters feed the
      // bitext tier with SITE-declared language variants (no URL heuristic
      // needed). Clusters of 4 consecutive docs carry langs en/de/fr/pt by
      // doc_id mod 4; every page declares all four variants plus an
      // x-default and a duplicate-lang decoy (first href wins). The REAL
      // parse: StructuredData.hreflangs (per-LANGUAGE map — the rel map
      // would collapse all alternates to one href). Output: one bitext
      // candidate pair per non-English page, its url against the en
      // variant its own markup declares. Oracle: closed-form cluster
      // arithmetic.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val base = expr("(doc_id div 4) * 4")
      val variant = udf((i: Long) => Seq("en", "de", "fr", "pt")(i.toInt))
      val declaredLang = Seq("EN", "de", "fr", "pt") // EN: value case-folds
      val decl = (0 to 3).map { k =>
        val langAttr = if (k % 2 == 0) "hreflang" else "HREFLANG"
        concat(
          lit(s"""<link rel="alternate" $langAttr="${declaredLang(k)}" href="uh"""),
          base + k, lit("\">\n"))
      }.reduce(concat(_, _))
      val html = concat(
        lit("<html><head>\n"),
        lit("<link rel=\"alternate\" hreflang=\"x-default\" href=\"uhDEFAULT\">\n"),
        decl,
        lit("<link rel=\"alternate\" hreflang=\"en\" href=\"uhDUPLICATE-LOSES\">\n"),
        lit("</head><body>b</body></html>"))
      val hrefsOf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(h).hreflangs)
      d.select($"doc_id", variant($"doc_id" % 4).as("lang"), hrefsOf(html).as("hl"))
        .filter($"lang" =!= "en")
        .select(concat(lit("uh"), $"doc_id").as("url"), $"lang",
          element_at($"hl", "en").as("en_url"))
        .orderBy($"url")
    },
      // closed-form variant-cluster truth: clusters of 4, en at the
      // cluster base, every non-en page pairs with the declared en url
      """SELECT 'uh' || doc_id AS url,
        |  CASE doc_id % 4 WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
        |       ELSE 'pt' END AS lang,
        |  'uh' || (doc_id // 4) * 4 AS en_url
        |FROM documents WHERE doc_id % 4 <> 0 ORDER BY url""".stripMargin),
    Query("p_base_links", (s, dir) => {
      import s.implicits._
      // base-href-aware link harvest: the frontier needs ABSOLUTE urls,
      // and <base href> silently re-roots every relative link on the
      // page (CDN-hosted mirrors, amp caches). Three page families by
      // doc_id%3 — absolute base, RELATIVE base (composes against the
      // page url), no base — each carrying the four href shapes
      // (relative, rooted, protocol-relative, absolute) plus fragment
      // and mailto noise that must drop. The REAL path: AnchorText.links
      // → HtmlLinks streaming harvest → RFC 3986 resolution against the
      // effective base. Oracle: every resolved url rebuilt closed-form —
      // one mis-rooted link diverges a string.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val u = concat(lit("https://h"), $"doc_id" % 50, lit(".com"))
      val baseTag = when($"doc_id" % 3 === 0,
          concat(lit("<base href=\"https://cdn"), $"doc_id" % 5, lit(".org/assets/\">")))
        .when($"doc_id" % 3 === 1, lit("<base href=\"sub/\">"))
        .otherwise(lit(""))
      val html = concat(
        lit("<html><head>"), baseTag, lit("</head><body>"),
        lit("<a href=\"a.html\">r</a><a href=\"/root.html\">o</a>"),
        lit("<a href=\"//other.net/x\">p</a><a href=\"https://abs.com/y\">a</a>"),
        lit("<a href=\"#frag\">f</a><a href=\"mailto:x@y\">m</a></body></html>"))
      val pages = d.select(
        concat(u, lit("/dir/page"), $"doc_id", lit(".html")).as("url"),
        html.cast("binary").as("html"))
      graft.operators.AnchorText.links(pages, "url", "html")
        .select($"src".as("url"), $"dst")
        .orderBy($"url", $"dst")
    },
      // every resolved url rebuilt closed-form per (base family, href
      // shape); fragment/mailto noise contributes nothing
      """WITH b AS (SELECT doc_id,
        |    'https://h' || (doc_id % 50) || '.com' AS u,
        |    doc_id % 3 AS m, doc_id % 5 AS c FROM documents),
        |tr AS (
        |  SELECT doc_id, u,
        |    CASE m WHEN 0 THEN 'https://cdn' || c || '.org/assets/a.html'
        |           WHEN 1 THEN u || '/dir/sub/a.html'
        |           ELSE u || '/dir/a.html' END AS dst FROM b
        |  UNION ALL SELECT doc_id, u,
        |    CASE m WHEN 0 THEN 'https://cdn' || c || '.org/root.html'
        |           ELSE u || '/root.html' END FROM b
        |  UNION ALL SELECT doc_id, u, 'https://other.net/x' FROM b
        |  UNION ALL SELECT doc_id, u, 'https://abs.com/y' FROM b)
        |SELECT u || '/dir/page' || doc_id || '.html' AS url, dst
        |FROM tr ORDER BY url, dst""".stripMargin),
    Query("p_image_corpus", (s, dir) => {
      import s.implicits._
      // the multimodal corpus-build composition: harvest image-alt pairs
      // (ImageLinks over real html) → canonicalize image urls (UrlCanon —
      // pairs of pages reference the SAME image through host-case and
      // tracking-param variants that MUST collapse) → one representative
      // alt per image (longest, tie = lexicographic min via min_by on
      // (-len, alt): a total order) → caption gate (non-empty alt; every
      // group g%7==0 carries empty alts on both pages and must drop).
      // Output: per-stage counts plus length checksums over the kept
      // canonicals AND their chosen alts — a wrong representative or a
      // canonicalization miss shifts a sum.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val g = expr("doc_id div 2")
      val pageUrl = concat(lit("https://h"), $"doc_id" % 50,
        lit(".com/g/p"), $"doc_id", lit(".html"))
      // even doc of the pair: clean url, LONG alt; odd doc: host-case +
      // tracking-param variant of the same image, short alt
      val src = when($"doc_id" % 2 === 0,
          concat(lit("https://cdn"), g % 5, lit(".net/i/m"), g, lit(".jpg")))
        .otherwise(
          concat(lit("https://CDN"), g % 5, lit(".net/i/m"), g,
            lit(".jpg?utm_source=tr")))
      val alt = when(g % 7 === 0, lit(""))
        .when($"doc_id" % 2 === 0, concat(lit("Alt "), g, lit(" long caption")))
        .otherwise(concat(lit("Alt "), g))
      val html = concat(lit("<html><body><img src=\""), src,
        lit("\" alt=\""), alt, lit("\"></body></html>"))
      val imgUdf = udf((h: String, u: String) =>
        graft.functions.html.ImageLinks.extract(h, u).map(i => (i.url, i.alt)))
      val canonUdf = udf((u: String) => graft.functions.UrlCanon.canonicalize(u))
      val raw = d.select(explode(imgUdf(html, pageUrl)).as("i"))
        .select(canonUdf($"i._1").as("img"), $"i._2".as("alt"))
      val best = raw.groupBy($"img")
        .agg(count(lit(1)).as("n_variants"),
          min_by($"alt", struct((-length($"alt")).as("a"), $"alt".as("b")))
            .as("alt"))
      best.agg(
        count(lit(1)).as("n_images"),
        sum($"n_variants").as("n_raw"),
        sum(when(length($"alt") > 0, 1L).otherwise(0L)).as("n_kept"),
        sum(when(length($"alt") > 0, length($"img"))).as("sum_img_len"),
        sum(when(length($"alt") > 0, length($"alt"))).as("sum_alt_len"))
    },
      // group truth: pairs of docs share image g = doc_id // 2 through a
      // case/tracking variant that canonicalizes away; the representative
      // alt is the even doc's longer caption; g%7==0 groups gate out
      """WITH cnt AS (
        |  SELECT doc_id // 2 AS g, count(*) AS nv FROM documents GROUP BY 1),
        |m AS (
        |  SELECT g, nv,
        |    'https://cdn' || (g % 5) || '.net/i/m' || g || '.jpg' AS img,
        |    CASE WHEN g % 7 = 0 THEN ''
        |         ELSE 'Alt ' || g || ' long caption' END AS alt
        |  FROM cnt)
        |SELECT CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(sum(nv) AS BIGINT) AS n_raw,
        |  CAST(sum(CASE WHEN length(alt) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN length(alt) > 0 THEN length(img) END) AS BIGINT)
        |    AS sum_img_len,
        |  CAST(sum(CASE WHEN length(alt) > 0 THEN length(alt) END) AS BIGINT)
        |    AS sum_alt_len
        |FROM m""".stripMargin),
    Query("p_url_dates", (s, dir) => {
      import s.implicits._
      // publish-date mining from URL paths (UrlDates scaladoc): four url
      // families by doc_id%4 — slash form, dash form, an INVALID
      // /2026/13/40/ calendar-trap segment that must reject, and no date
      // at all. The real regexp+validation chain runs over constructed
      // urls; the oracle rebuilds the expected ISO strings from the same
      // arithmetic (never re-running a regex), so a validation hole or a
      // grammar drift diverges a count or a min/max.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val mm = lpad(($"doc_id" % 12 + 1).cast("string"), 2, "0")
      val dd = lpad(($"doc_id" % 28 + 1).cast("string"), 2, "0")
      val url = when($"doc_id" % 4 === 0,
          concat(lit("https://h.com/2026/"), mm, lit("/"), dd, lit("/post-"),
            $"doc_id", lit(".html")))
        .when($"doc_id" % 4 === 1,
          concat(lit("https://h.com/blog/item-2026-"), mm, lit("-"), dd,
            lit("-"), $"doc_id", lit(".html")))
        .when($"doc_id" % 4 === 2,
          concat(lit("https://h.com/2026/13/40/trap-"), $"doc_id", lit(".html")))
        .otherwise(concat(lit("https://h.com/page-"), $"doc_id", lit(".html")))
      d.select(($"doc_id" % 4).as("family"),
          graft.functions.UrlDates.publishDate(url).as("dt"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), count($"dt").as("n_dated"),
          min($"dt").as("min_date"), max($"dt").as("max_date"))
        .orderBy($"family")
    },
      // expected ISO strings rebuilt from the same arithmetic; the invalid
      // and date-less families must count zero dated urls
      """WITH f AS (
        |  SELECT doc_id % 4 AS family,
        |    CASE WHEN doc_id % 4 IN (0, 1)
        |         THEN '2026-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
        |              || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    END AS dt
        |  FROM documents)
        |SELECT family, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(dt) AS BIGINT) AS n_dated,
        |  min(dt) AS min_date, max(dt) AS max_date
        |FROM f GROUP BY family ORDER BY family""".stripMargin),
    Query("p_lexicon_filter", (s, dir) => {
      import s.implicits._
      // Aho-Corasick policy-lexicon tagging (Lexicon scaladoc): K terms in
      // ONE text pass, broadcast automaton, map-only. Synthesis plants the
      // semantics the automaton must get right on top of the natural text:
      // a multiword phrase twice per hit-doc (doc_id%5), boundary probes
      // (doc_id%3: "grandwinner" must NOT count — word char before;
      // "winner-takes-all" must — '-' is not a word char), ASCII case
      // folding (doc_id%7: CASINO/Casino/casino = 3), a digit-suffix decoy
      // plus one real hit (doc_id%11: "jackpot2000" rejected, "jackpot!"
      // counted), and a never-planted term whose zero row must survive the
      // left join. The oracle recomputes every count with RE2 \b word
      // boundaries over lower() of the same augmented text (all-occurrence
      // == non-overlapping here: border-free terms; documented contract).
      val terms = Seq("free money", "winner", "casino", "jackpot", "forbidden")
      val aug = s.read.parquet(pq(dir, "documents")).select($"doc_id",
        concat($"text",
          when($"doc_id" % 5 === 0, lit(" free money today and free money tomorrow")).otherwise(lit("")),
          when($"doc_id" % 3 === 0, lit(" the grandwinner takes winner-takes-all")).otherwise(lit("")),
          when($"doc_id" % 7 === 0, lit(" CASINO Casino casino")).otherwise(lit("")),
          when($"doc_id" % 11 === 0, lit(" jackpot2000 hit the jackpot!")).otherwise(lit(""))
        ).as("text"))
      val tagged = graft.operators.Lexicon.tagDocs(aug, "doc_id", "text", terms)
      graft.operators.Lexicon.termStats(tagged, terms).orderBy($"term")
    },
      raw"""WITH aug AS (
        |  SELECT doc_id,
        |    text
        |    || (CASE WHEN doc_id % 5 = 0 THEN ' free money today and free money tomorrow' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN ' the grandwinner takes winner-takes-all' ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN ' CASINO Casino casino' ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN ' jackpot2000 hit the jackpot!' ELSE '' END) AS s
        |  FROM documents),
        |terms(term) AS (VALUES ('free money'), ('winner'), ('casino'), ('jackpot'), ('forbidden')),
        |hits AS (
        |  SELECT t.term, a.doc_id,
        |    len(regexp_extract_all(lower(a.s), '\b' || t.term || '\b')) AS n
        |  FROM aug a CROSS JOIN terms t)
        |SELECT term,
        |  CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_hits
        |FROM hits GROUP BY term ORDER BY term""".stripMargin),
    Query("p_length_buckets", (s, dir) => {
      import s.implicits._
      // doc-length distribution — the dataset-card length figure, in
      // power-of-2 buckets computed INTEGER-exactly on both engines:
      // bucket = length(bin(tokens)) = floor(log2)+1 (bin() renders the
      // binary string in Spark and DuckDB alike — no floating log2 whose
      // boundary values differ). Zero-token docs land in bucket 0. Pure
      // built-ins, map-only to one small rollup.
      s.read.parquet(pq(dir, "documents"))
        .select(size(filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
          .cast("long").as("toks"))
        .withColumn("bucket",
          when($"toks" === 0L, lit(0)).otherwise(length(bin($"toks")))
            .cast("long"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"toks").as("sum_tokens"),
          min($"toks").as("min_tokens"), max($"toks").as("max_tokens"))
        .orderBy($"bucket")
    },
      raw"""WITH t AS (
        |  SELECT len(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS toks
        |  FROM documents),
        |b AS (SELECT toks,
        |        CASE WHEN toks = 0 THEN 0 ELSE length(bin(toks)) END AS bucket FROM t)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
        |  CAST(min(toks) AS BIGINT) AS min_tokens, CAST(max(toks) AS BIGINT) AS max_tokens
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    Query("p_mix_schedule", (s, dir) => {
      import s.implicits._
      // data-mixing SCHEDULE — the sampling-proportions table a training
      // run publishes (per-source weights -> per-source token targets ->
      // upsampling epochs): target_i = budget·w_i/Σw, upsampling
      // reported as the exact integer rational epochs_x1000 =
      // target·1000 div have, capped at 4 epochs (the repeat ceiling
      // mixing studies respect). Weights derive from the lang string
      // itself (no side-channel table to drift), budget = 2x the corpus
      // so some source must upsample; everything integer, one aggregate
      // + a |langs|-row rollup.
      val toks = s.read.parquet(pq(dir, "documents"))
        .select($"lang", size(split($"text", "\\s+")).cast("long").as("toks"))
        .groupBy($"lang").agg(sum($"toks").as("have"))
        .withColumn("w", (length($"lang") * 7 + ascii(substring($"lang", 1, 1))) % 10 + 1)
      val tot = toks.agg(sum($"have").as("total_have"), sum($"w").as("total_w"))
      toks.crossJoin(broadcast(tot))
        .withColumn("target", expr("(2 * total_have * w) div total_w"))
        .withColumn("epochs_x1000",
          least(expr("(target * 1000) div have"), lit(4000L)))
        .withColumn("capped", (expr("(target * 1000) div have") > 4000L).cast("int"))
        .select($"lang", $"have", $"w".cast("long").as("w"), $"target",
          $"epochs_x1000", $"capped".cast("long").as("capped"))
        .orderBy($"lang")
    },
      """WITH t AS (
        |  SELECT lang, CAST(sum(length(string_split_regex(text, '\s+'))) AS BIGINT) AS have,
        |    (length(lang) * 7 + ascii(substr(lang, 1, 1))) % 10 + 1 AS w
        |  FROM documents GROUP BY lang),
        |g AS (SELECT sum(have) AS total_have, sum(w) AS total_w FROM t)
        |SELECT lang, have, CAST(w AS BIGINT) AS w,
        |  CAST((2 * g.total_have * w) // g.total_w AS BIGINT) AS target,
        |  CAST(least(((2 * g.total_have * w) // g.total_w * 1000) // have, 4000) AS BIGINT) AS epochs_x1000,
        |  CAST(CASE WHEN ((2 * g.total_have * w) // g.total_w * 1000) // have > 4000
        |       THEN 1 ELSE 0 END AS BIGINT) AS capped
        |FROM t CROSS JOIN g ORDER BY lang""".stripMargin),
    Query("p_polite_budget", (s, dir) => {
      import s.implicits._
      // the politeness COMPOSITION (CrawlBudget.allocateWithCaps
      // scaladoc): robots crawl-delay -> per-host fetch capacity in a
      // 60 s window (cap = 60/delay, absent robots -> default 10 s ->
      // cap 6), variable caps enforced at selection, then the global
      // budget. 11 hosts by delay family (5 s -> 12, 30 s -> 2,
      // none -> 6); the oracle replays crawl-delay arithmetic, per-host
      // windows, and the global cut.
      val robotsUdf = udf { (host: Long) =>
        host % 3 match {
          case 0 => "User-agent: *\nCrawl-delay: 5\nDisallow: /tmp\n"
          case 1 => "User-agent: *\nCrawl-delay: 30\n"
          case _ => "User-agent: *\nDisallow: /x\n"
        }
      }
      val capUdf = udf { (body: String) =>
        60 / graft.operators.Robots.crawlDelay(body, "graftbot").getOrElse(10)
      }
      val frontier = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id".as("url"), ($"doc_id" % 11).as("host"),
          (($"doc_id" * 31) % 1000).as("priority"))
      val caps = frontier.select($"host").distinct()
        .select($"host", capUdf(robotsUdf($"host")).as("cap"))
      graft.operators.CrawlBudget
        .allocateWithCaps(frontier, "host", "url", "priority", caps, "cap",
          defaultCap = 6, maxCap = 12, totalBudget = 40)
        .groupBy($"host")
        .agg(count(lit(1)).as("n_selected"), sum($"url").as("sum_url_ids"),
          max($"priority").as("max_priority"))
        .orderBy($"host")
    },
      """WITH f AS (
        |  SELECT doc_id AS url, doc_id % 11 AS host, (doc_id * 31) % 1000 AS priority
        |  FROM documents),
        |caps AS (
        |  SELECT host,
        |    CASE host % 3 WHEN 0 THEN 60 // 5 WHEN 1 THEN 60 // 30 ELSE 60 // 10 END AS cap
        |  FROM (SELECT DISTINCT host FROM f)),
        |rk AS (
        |  SELECT f.url, f.host, f.priority, c.cap,
        |    row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.url) AS r
        |  FROM f JOIN caps c ON f.host = c.host),
        |capped AS (SELECT url, host, priority FROM rk WHERE r <= cap),
        |sel AS (SELECT url, host, priority FROM capped ORDER BY priority DESC, url LIMIT 40)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_selected,
        |  CAST(sum(url) AS BIGINT) AS sum_url_ids,
        |  CAST(max(priority) AS BIGINT) AS max_priority
        |FROM sel GROUP BY host ORDER BY host""".stripMargin),
    Query("p_fim_transform", (s, dir) => {
      import s.implicits._
      // fill-in-the-middle transformation (Fim scaladoc): half the docs
      // (md5 rate class) rewritten to PSM order with md5-chosen token
      // cuts, empty segments dropped by concat_ws-skip semantics —
      // mirrored exactly in SQL with nullif + FILTERed string_aggs. The
      // md5-prefix sums pin every output string bit-for-bit; plain docs
      // must round-trip their token join untouched.
      val out = graft.operators.Fim.transform(
        s.read.parquet(pq(dir, "documents")), "doc_id", "text", rateMod = 2)
      out.agg(
        count(lit(1)).as("n_docs"),
        sum(when($"mode" === "fim", 1L).otherwise(0L)).as("n_fim"),
        sum($"n_middle").as("n_middle_tokens"),
        sum(conv(substring(md5($"output"), 1, 4), 16, 10).cast("long")).as("sum_out_md5pfx"))
    },
      s"""WITH t0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\\s+'), 1) AS i0
        |  FROM documents),
        |t1 AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i0) AS i
        |       FROM t0 WHERE w <> ''),
        |nper AS (SELECT doc_id, count(*) AS n FROM t1 GROUP BY doc_id),
        |dk AS (
        |  SELECT d.doc_id, coalesce(np.n, 0) AS n,
        |    (coalesce(np.n, 0) >= 2 AND
        |     (${md5PrefixSql("CAST(d.doc_id AS VARCHAR) || '|0'", 4)}) % 2 = 0) AS applies,
        |    (${md5PrefixSql("CAST(d.doc_id AS VARCHAR) || '|1'", 4)}) % (coalesce(np.n, 0) + 1) AS c1,
        |    (${md5PrefixSql("CAST(d.doc_id AS VARCHAR) || '|2'", 4)}) % (coalesce(np.n, 0) + 1) AS c2
        |  FROM documents d LEFT JOIN nper np ON d.doc_id = np.doc_id),
        |cuts AS (SELECT doc_id, n, applies, least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM dk),
        |segs AS (
        |  SELECT c.doc_id, c.applies, c.hi - c.lo AS n_middle,
        |    string_agg(t.w, ' ' ORDER BY t.i) AS plain,
        |    string_agg(t.w, ' ' ORDER BY t.i) FILTER (WHERE t.i <= c.lo) AS pre,
        |    string_agg(t.w, ' ' ORDER BY t.i) FILTER (WHERE t.i > c.lo AND t.i <= c.hi) AS mid,
        |    string_agg(t.w, ' ' ORDER BY t.i) FILTER (WHERE t.i > c.hi) AS suf
        |  FROM cuts c LEFT JOIN t1 t ON c.doc_id = t.doc_id
        |  GROUP BY c.doc_id, c.applies, c.hi - c.lo),
        |outs AS (
        |  SELECT doc_id, applies,
        |    CASE WHEN applies THEN n_middle ELSE 0 END AS n_middle,
        |    CASE WHEN applies THEN concat_ws(' ', '<fim_prefix>', nullif(coalesce(pre, ''), ''),
        |      '<fim_suffix>', nullif(coalesce(suf, ''), ''), '<fim_middle>', nullif(coalesce(mid, ''), ''))
        |    ELSE coalesce(plain, '') END AS output
        |  FROM segs)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN applies THEN 1 ELSE 0 END) AS BIGINT) AS n_fim,
        |  CAST(sum(n_middle) AS BIGINT) AS n_middle_tokens,
        |  CAST(sum(${md5PrefixSql("output", 4)}) AS BIGINT) AS sum_out_md5pfx
        |FROM outs""".stripMargin),
    Query("p_span_corrupt", (s, dir) => {
      import s.implicits._
      // span-corruption data generation (SpanCorrupt scaladoc): the
      // T5-denoising shape with deterministic grid-aligned masking (md5
      // rate class per cell — the engine-reproducible hex device), map
      // only. The oracle REBUILDS every input/target string through SQL
      // string_agg over the replayed mask and compares md5-prefix sums —
      // a sentinel off by one, a lost span token, or a joining-space
      // drift diverges the sums.
      val out = graft.operators.SpanCorrupt.corrupt(
        s.read.parquet(pq(dir, "documents")), "doc_id", "text", gridL = 3, modD = 5)
      out.agg(
        count(lit(1)).as("n_docs"),
        sum($"n_spans").as("n_spans"),
        sum($"n_masked").as("n_masked"),
        sum(conv(substring(md5($"input"), 1, 4), 16, 10).cast("long")).as("sum_input_md5pfx"),
        sum(conv(substring(md5($"target"), 1, 4), 16, 10).cast("long")).as("sum_target_md5pfx"))
    },
      s"""WITH t0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\\s+'), 1) AS i0
        |  FROM documents),
        |t1 AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i0) AS i
        |       FROM t0 WHERE w <> ''),
        |cellt AS (SELECT doc_id, w, i, (i - 1) // 3 AS cell FROM t1),
        |starts AS (
        |  SELECT doc_id, cell,
        |    ((${md5PrefixSql("CAST(doc_id AS VARCHAR) || '|' || CAST(cell * 3 + 1 AS VARCHAR)", 4)}) % 5 = 0) AS m
        |  FROM (SELECT DISTINCT doc_id, cell FROM cellt)),
        |ks AS (SELECT doc_id, cell,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY cell) - 1 AS k
        |       FROM starts WHERE m),
        |r AS (SELECT c.doc_id, c.w, c.i, c.cell, s.m, ks.k
        |      FROM cellt c
        |      JOIN starts s ON c.doc_id = s.doc_id AND c.cell = s.cell
        |      LEFT JOIN ks ON c.doc_id = ks.doc_id AND c.cell = ks.cell),
        |inp AS (
        |  SELECT doc_id, string_agg(
        |    CASE WHEN m THEN '<extra_id_' || CAST(k AS VARCHAR) || '>' ELSE w END,
        |    ' ' ORDER BY i) AS input
        |  FROM r WHERE (NOT m) OR ((i - 1) % 3 = 0) GROUP BY doc_id),
        |tgt AS (
        |  SELECT doc_id, string_agg(
        |    CASE WHEN (i - 1) % 3 = 0 THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || w ELSE w END,
        |    ' ' ORDER BY i) AS target
        |  FROM r WHERE m GROUP BY doc_id),
        |perdoc AS (
        |  SELECT dd.doc_id, coalesce(inp.input, '') AS input, coalesce(tgt.target, '') AS target,
        |    coalesce((SELECT count(*) FROM ks WHERE ks.doc_id = dd.doc_id), 0) AS n_spans,
        |    coalesce((SELECT count(*) FROM r WHERE r.doc_id = dd.doc_id AND r.m), 0) AS n_masked
        |  FROM documents dd
        |  LEFT JOIN inp ON dd.doc_id = inp.doc_id
        |  LEFT JOIN tgt ON dd.doc_id = tgt.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_spans) AS BIGINT) AS n_spans,
        |  CAST(sum(n_masked) AS BIGINT) AS n_masked,
        |  CAST(sum(${md5PrefixSql("input", 4)}) AS BIGINT) AS sum_input_md5pfx,
        |  CAST(sum(${md5PrefixSql("target", 4)}) AS BIGINT) AS sum_target_md5pfx
        |FROM perdoc""".stripMargin),
    Query("p_frontier_discovery", (s, dir) => {
      import s.implicits._
      // frontier discovery: out-edges whose destination is NOT in the
      // crawled corpus are the next fetch candidates, ranked by in-degree
      // (citation count — the OPIC-lite prioritization every crawler
      // starts from). Synthesized link table: each doc cites three
      // targets by modulus, two resolving inside the corpus id space and
      // one landing beyond it (the discovery tail). Plan shape: edge
      // aggregate (map-side combined) -> LEFT ANTI join against the
      // corpus keys -> top-k; the oracle replays the moduli and the
      // anti-join arithmetic exactly.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id").cache()
      val n = docs.count() // corpus size: the known-url universe
      val edges = docs.select(explode(array(
        ($"doc_id" * 7 + 1) % (n * 2), // half land beyond the corpus
        ($"doc_id" * 11 + 3) % n, // always known
        ($"doc_id" * 13 + 5) % (n * 2)
      )).as("dst"))
      val indeg = edges.groupBy($"dst").agg(count(lit(1)).as("citations"))
      val frontier = indeg
        .join(docs.select($"doc_id".as("dst")), Seq("dst"), "left_anti")
        .orderBy($"citations".desc, $"dst")
        .limit(20)
      frontier.select($"dst", $"citations")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"citations".desc, $"dst")).cast("long"))
        .orderBy($"rank")
    },
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e AS (
        |  SELECT unnest(list_value(
        |    (doc_id * 7 + 1) % (2 * (SELECT n FROM nn)),
        |    (doc_id * 11 + 3) % (SELECT n FROM nn),
        |    (doc_id * 13 + 5) % (2 * (SELECT n FROM nn)))) AS dst
        |  FROM documents),
        |ind AS (SELECT dst, count(*) AS citations FROM e GROUP BY dst),
        |fr AS (
        |  SELECT dst, citations FROM ind
        |  WHERE dst NOT IN (SELECT doc_id FROM documents)
        |  ORDER BY citations DESC, dst LIMIT 20)
        |SELECT dst, CAST(citations AS BIGINT) AS citations,
        |  CAST(row_number() OVER (ORDER BY citations DESC, dst) AS BIGINT) AS rank
        |FROM fr ORDER BY rank""".stripMargin),
    Query("p_hard_negatives", (s, dir) => {
      import s.implicits._
      // hard-negative mining for retrieval/embedding training: per probe
      // query, the top BM25 hit stands in for the labeled positive and
      // ranks 2..k are the hard negatives (the top-retrieved-non-positive
      // recipe; with labels the gold doc swaps in, nothing else changes).
      // Three probe queries run the SAME bm25TopK operator the retrieval
      // tier verifies bit-identically; the oracle reuses the mirrored
      // BM25 legs and pins gold + negative-id sums per query.
      val probes = Seq(
        0L -> Seq("data", "spark"),
        1L -> Seq("fast", "data"),
        2L -> Seq("spark", "fast"))
      val docs = s.read.parquet(pq(dir, "documents"))
      // shared-frame legs (same discipline as s_hybrid_rrf): union-term
      // postings + doc lengths are one subtree shared by every probe, so
      // exchange reuse materializes them once; each probe re-filters and
      // rescores bit-identically via bm25TopKOver
      val unionTerms = probes.flatMap(_._2).distinct
      val post = graft.operators.InvertedIndex.postings(docs, "doc_id", "text")
        .filter($"term".isin(unionTerms: _*))
      val dls = graft.operators.InvertedIndex.docLens(docs, "doc_id", "text")
      val corpus = dls.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
      val legs = probes.map { case (qid, terms) =>
        graft.operators.InvertedIndex
          .bm25TopKOver(post, dls, corpus, terms, k1 = 1.2, b = 0.75, topK = 10)
          .select(lit(qid).as("qid"), $"doc", $"rank")
      }
      legs.reduce(_.unionByName(_))
        .groupBy($"qid")
        .agg(
          min(when($"rank" === 1L, $"doc")).as("gold_doc"),
          sum(when($"rank" > 1L, 1L).otherwise(0L)).as("n_neg"),
          sum(when($"rank" > 1L, $"doc").otherwise(0L)).as("neg_id_sum"))
        .orderBy($"qid")
    },
      s"""WITH ${bm25CorpusCtesSql("hn")},
        |${Seq(0 -> Seq("data", "spark"), 1 -> Seq("fast", "data"), 2 -> Seq("spark", "fast"))
          .map { case (q, ts) => bm25LegCtesSql(s"hn$q", "hn", ts, 10) }.mkString(",\n")},
        |u AS (
        |  SELECT 0 AS qid, doc, rank FROM hn0rank
        |  UNION ALL SELECT 1, doc, rank FROM hn1rank
        |  UNION ALL SELECT 2, doc, rank FROM hn2rank)
        |SELECT CAST(qid AS BIGINT) AS qid,
        |  CAST(min(CASE WHEN rank = 1 THEN doc END) AS BIGINT) AS gold_doc,
        |  CAST(sum(CASE WHEN rank > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  CAST(sum(CASE WHEN rank > 1 THEN doc ELSE 0 END) AS BIGINT) AS neg_id_sum
        |FROM u GROUP BY qid ORDER BY qid""".stripMargin),
    Query("p_corpus_report", (s, dir) => {
      import s.implicits._
      // corpus REPORT — the dataset-card row every published corpus
      // ships: size, token mass, exact-dup rate, language spread, and the
      // dominant detected language, composed from the SAME library
      // kernels the pipeline stages run (langId, token grammar, digest
      // dedup) in two tiny aggregates + a 1-row cross join (nothing wide
      // reaches the driver; at 100 TB this is one map-side-combined pass
      // + a |langs|-row rollup). The oracle recomputes every number
      // through the mirrored kernel SQL — a drift in any underlying
      // kernel surfaces here too.
      val langUdf = udf { (t: String) =>
        graft.functions.TextStats.langId(if (t == null) "" else t)
      }
      val base = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"text", langUdf($"text").as("detected"))
        .cache()
      val global = base.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("n_distinct_texts"),
        sum(size(split($"text", "\\s+"))).cast("long").as("n_tokens"),
        countDistinct($"detected").cast("long").as("n_langs"))
      val top = base.groupBy($"detected").count()
        .orderBy($"count".desc, $"detected")
        .limit(1)
        .select($"detected".as("top_lang"), $"count".as("top_lang_docs"))
      global.crossJoin(top)
        .withColumn("n_dup_docs", $"n_docs" - $"n_distinct_texts")
        .select($"n_docs", $"n_distinct_texts", $"n_dup_docs", $"n_tokens",
          $"n_langs", $"top_lang", $"top_lang_docs")
    },
      s"""WITH b AS (
        |  SELECT doc_id, text, left(text, 4000) AS head, left(lower(text), 4000) AS lhead
        |  FROM documents),
        |${langIdDetectSql("", "b", "doc_id, text")},
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
        |    CAST(sum(length(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT detected) AS BIGINT) AS n_langs
        |  FROM d),
        |t AS (
        |  SELECT detected AS top_lang, CAST(count(*) AS BIGINT) AS top_lang_docs
        |  FROM d GROUP BY detected ORDER BY count(*) DESC, detected LIMIT 1)
        |SELECT n_docs, n_distinct_texts, n_docs - n_distinct_texts AS n_dup_docs,
        |  n_tokens, n_langs, top_lang, top_lang_docs
        |FROM g CROSS JOIN t""".stripMargin),
    Query("p_robots_directives", (s, dir) => {
      import s.implicits._
      // robots.txt DIRECTIVE mining (Robots.sitemaps/crawlDelay scaladoc):
      // Sitemap records are non-group (apply anywhere, dedup, comment
      // strip) — robots.txt is how a crawler discovers sitemaps; the
      // crawl-delay is group-scoped with named-agent-beats-star
      // precedence, feeding politeness scheduling. Three host families
      // pin discovery, dedup, comment handling, precedence (named 2 wins
      // over star 10), star fallback (5), and the no-directive null.
      val robotsUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "User-agent: graftbot\nCrawl-delay: 2\nUser-agent: *\nCrawl-delay: 10\n" +
            "Sitemap: https://h0.com/a.xml\nSitemap: https://h0.com/b.xml\nSitemap: https://h0.com/a.xml\n"
          case 1L => "User-agent: *\nCrawl-delay: 5\nSitemap: https://h1.com/s.xml # main\n"
          case _  => "User-agent: *\nDisallow: /tmp\n"
        }
      }
      val mineUdf = udf { (body: String) =>
        val sm = graft.operators.Robots.sitemaps(body)
        val cd = graft.operators.Robots.crawlDelay(body, "graftbot")
        (sm.mkString("|"), sm.length, cd.map(_.toLong).getOrElse(-1L))
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), mineUdf(robotsUdf($"doc_id" % 3)).as("r"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"r._1").as("min_maps"), max($"r._1").as("max_maps"),
          sum($"r._2").cast("long").as("sum_sitemaps"),
          min($"r._3").as("min_delay"), max($"r._3").as("max_delay"))
        .orderBy($"family")
    },
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, maps, ns, delay) AS (VALUES
        |  (0, 'https://h0.com/a.xml|https://h0.com/b.xml', 2, 2),
        |  (1, 'https://h1.com/s.xml', 1, 5),
        |  (2, '', 0, -1))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.maps) AS min_maps, max(t.maps) AS max_maps,
        |  CAST(sum(t.ns) AS BIGINT) AS sum_sitemaps,
        |  CAST(min(t.delay) AS BIGINT) AS min_delay,
        |  CAST(max(t.delay) AS BIGINT) AS max_delay
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
    Query("p_pubdate_fuse", (s, dir) => {
      import s.implicits._
      // publish-date FUSION (UrlDates.publishDateFused scaladoc): declared
      // meta > in-content <time datetime> > url-path hint, every layer
      // through the same calendar gate. Four families: declared wins over
      // both lower layers; time-element wins over url; url-only; and a
      // poisoned family whose INVALID declaration (2026-13-40) and
      // unparseable time element must fall through to 'none' — the
      // fall-through is the contract under test. Per-family date and
      // source are constants (min == max pins every doc).
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<head><meta property=\"article:published_time\" content=\"2026-01-15T10:00:00Z\"></head>" +
            "<body><time datetime=\"2026-02-16\">Feb</time></body>"
          case 1L => "<body><p>x</p><time datetime=\"2026-02-16T08:00:00Z\">Feb</time></body>"
          case 2L => "<body>no dates here</body>"
          case _  => "<head><meta property=\"article:published_time\" content=\"2026-13-40T00:00:00Z\"></head>" +
            "<body><time datetime=\"yesterday\">?</time></body>"
        }
      }
      val metaUdf = udf { (html: String) =>
        graft.functions.html.StructuredData.extract(html)
          .metas.get("article:published_time").orNull
      }
      val timeUdf = udf { (html: String) =>
        graft.functions.html.StructuredData.firstTime(html).orNull
      }
      val url = when($"family" < 3, concat(lit("https://h.com/2026/03/17/post-"), $"doc_id"))
        .otherwise(concat(lit("https://h.com/page-"), $"doc_id"))
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", ($"doc_id" % 4).as("family"))
        .select($"family", htmlUdf($"family").as("html"), url.as("url"))
        .select($"family", graft.functions.UrlDates.publishDateFused(
          metaUdf($"html"), timeUdf($"html"), $"url").as("f"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), count($"f.date").as("n_dated"),
          min($"f.date").as("min_date"), max($"f.date").as("max_date"),
          min($"f.source").as("min_src"), max($"f.source").as("max_src"))
        .orderBy($"family")
    },
      """WITH f AS (SELECT doc_id, doc_id % 4 AS family FROM documents),
        |t(family, dt, src) AS (VALUES
        |  (0, '2026-01-15', 'declared'),
        |  (1, '2026-02-16', 'time'),
        |  (2, '2026-03-17', 'url'),
        |  (3, NULL, 'none'))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(t.dt) AS BIGINT) AS n_dated,
        |  min(t.dt) AS min_date, max(t.dt) AS max_date,
        |  min(t.src) AS min_src, max(t.src) AS max_src
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
    Query("p_holdout_split", (s, dir) => {
      import s.implicits._
      // deterministic leakage-free train/val/test split (Sampling
      // .holdoutSplit scaladoc): the split is a pure function of the key
      // (stable under corpus growth, page-snapshot leakage-free when
      // keyed on url), bucket = md5-prefix-8 % Σweights replayed exactly
      // by the oracle. doc_id-as-string stands in for the canonical url;
      // id sums pin the exact membership of every split, not just sizes.
      val docs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"doc_id".cast("string").as("k"))
      graft.operators.Sampling
        .holdoutSplit(docs, "k", Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .groupBy($"split")
        .agg(count(lit(1)).as("n"), sum($"doc_id").as("id_sum"))
        .orderBy($"split")
    },
      s"""WITH b AS (
        |  SELECT doc_id,
        |    (${md5PrefixSql("CAST(doc_id AS VARCHAR)", 8)}) % 10 AS bkt
        |  FROM documents),
        |a AS (
        |  SELECT doc_id,
        |    CASE WHEN bkt < 8 THEN 'train' WHEN bkt < 9 THEN 'val' ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM a GROUP BY split ORDER BY split""".stripMargin),
  )
}
