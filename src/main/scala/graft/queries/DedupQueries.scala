package graft
package queries

import graft.operators.{Dedup, SemDedup}
import graft.queries.Shared.{pq, tokCtesOver, md5PrefixSql, exactPairsCtesOver}
import org.apache.spark.sql.functions._

/** `d_*`: dedup over the documents table — exact, span, near-duplicate,
  * LSH and clustering — with exact DuckDB oracles. */
object DedupQueries {

  private val exactPairsCtes: String = exactPairsCtesOver("documents")

  /** Directed containment over the augmented (originals + planted
    * containers) table — exact mirror of the d_containment query: both
    * directions of every undirected intersection, ratio against the SOURCE
    * doc's distinct-shingle count.
    */
  private val containmentSql: String =
    s"""WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT 1000000 + a.doc_id, a.text || ' ' || b.text
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id < 20),
      |${exactPairsCtesOver("aug")},
      |d AS (
      |  SELECT a AS src, b AS dst, i::DOUBLE / ca.n AS cont
      |  FROM inter JOIN c ca ON ca.doc_id = a
      |  UNION ALL
      |  SELECT b, a, i::DOUBLE / cb.n
      |  FROM inter JOIN c cb ON cb.doc_id = b)
      |SELECT src, dst, round(cont, 6) AS containment
      |FROM d WHERE cont >= 0.6 ORDER BY src, dst""".stripMargin

  /** Exact distinct-3-gram Jaccard pairs at j >= 0.8 (the shared oracle for
    * d_ngram_pairs and the verified LSH pipelines, whose outputs are the
    * same set by construction).
    */
  private val exactJaccardSql: String =
    s"""WITH $exactPairsCtes
      |SELECT a, b, round(i::DOUBLE / (ca.n + cb.n - i), 6) AS jaccard
      |FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
      |WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8
      |ORDER BY a, b""".stripMargin

  /** Connected components over the exact pair set via a recursive-CTE
    * transitive closure (component = min reachable doc id) — the oracle for
    * the distributed min-label propagation behind d_clusters.
    */
  private val clustersSql: String =
    s"""WITH RECURSIVE $exactPairsCtes,
      |p AS (
      |  SELECT a, b FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
      |  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8),
      |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
      |cc(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, cc.r FROM cc JOIN edges e ON e.src = cc.id),
      |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id)
      |SELECT component, count(*) AS n_docs, max(id) AS max_doc
      |FROM comp GROUP BY component ORDER BY component""".stripMargin

  /** Same transitive closure; representative = argmax (n_chars, -id) —
    * the d_cluster_best oracle.
    */
  private val clusterBestSql: String =
    s"""WITH RECURSIVE $exactPairsCtes,
      |p AS (
      |  SELECT a, b FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
      |  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8),
      |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
      |cc(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, cc.r FROM cc JOIN edges e ON e.src = cc.id),
      |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id),
      |ranked AS (
      |  SELECT comp.component, d.doc_id, d.n_chars,
      |    row_number() OVER (PARTITION BY comp.component
      |                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
      |  FROM comp JOIN documents d ON d.doc_id = comp.id)
      |SELECT component, CAST(doc_id AS BIGINT) AS rep_id,
      |  CAST(n_chars AS BIGINT) AS rep_chars
      |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin

  val all: Seq[Query] = Seq(
    Query("d_exact", (s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "documents"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5($"text")).as("n_unique")
        )
    },
      "SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique FROM documents"),
    Query("d_incremental_bloom", (s, dir) => {
      import s.implicits._
      // recrawl ingest dedup at 10^12-corpus shape: the EXISTING corpus
      // never joins the new batch — its content digests live in a Bloom
      // filter and the batch drops probably-seen rows map-only. Batch =
      // every even doc recrawled verbatim (a true dup — MUST drop, the
      // one-sided guarantee) + every odd doc with fresh appended content
      // (genuinely new — kept unless an fpp collision, deterministic for
      // this fixed corpus and measured zero at all three sfs, which the
      // closed-form oracle therefore pins exactly).
      val docs = s.read.parquet(pq(dir, "documents"))
      val batch = docs.filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"source", $"text")
        .unionByName(docs.filter($"doc_id" % 2 === 1)
          .select($"doc_id", $"source",
            concat($"text", lit(" fresh recrawl delta "), $"doc_id").as("text")))
      graft.operators.Dedup.dedupIncrementalBloom(docs, batch, "text")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_admitted"),
          sum($"doc_id" % 2).as("n_admitted_odd")
        )
        .orderBy($"source")
    },
      // incremental bloom ingest: with zero fpp collisions (deterministic
      // for this corpus, asserted by the exact compare) the admitted set
      // is exactly the odd (fresh) leg; n_admitted_odd == n_admitted pins
      // that no recrawled duplicate slipped through
      """SELECT source, count(*) AS n_admitted,
        |  CAST(count(*) AS BIGINT) AS n_admitted_odd
        |FROM documents WHERE doc_id % 2 = 1 GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("d_winnowing", (s, dir) => {
      import s.implicits._
      // Winnowing fingerprints (k=3 grams, w=4 windows) with a planted
      // shared passage on every third doc: the detection guarantee says
      // every pair of quote carriers must share fingerprints, so
      // n_shared_docs >= the carrier count. The single row pins the
      // fingerprint SET (positions via sum_pos, hashes via sum_h)
      // against a frame-window + packed-key SQL replay.
      val quote = "storm warnings continue across the northern valley as" +
        " heavy snow closes mountain roads again"
      val inj = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id",
        concat($"text",
          when($"doc_id" % 3 === 0, lit(" " + quote)).otherwise(lit(""))).as("text"))
      val fp = graft.operators.Winnowing
        .fingerprints(inj, "doc_id", "text", k = 3, w = 4).cache()
      val hdf = fp.groupBy($"h").agg(countDistinct($"doc").as("df"))
      val shared = fp.join(hdf.filter($"df" > 1), "h")
        .select($"doc").distinct()
      fp.agg(
          count(lit(1)).as("n_fp_total"),
          countDistinct($"h").as("n_distinct_hashes"),
          sum($"pos").as("sum_pos"),
          sum($"h").as("sum_h"))
        .crossJoin(broadcast(shared.agg(count(lit(1)).as("n_shared_docs"))))
        .select($"n_fp_total", $"n_distinct_hashes", $"n_shared_docs",
          $"sum_pos", $"sum_h")
    }, {
      // winnowing replay: lead-window 3-grams, md5-prefix hashes, packed
      // (h, rightmost-pos) key min over the 4-frame, distinct selections
      val h8 = md5PrefixSql("g", 8)
      raw"""WITH winj AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
        |    THEN ' storm warnings continue across the northern valley as heavy snow closes mountain roads again'
        |    ELSE '' END AS text
        |  FROM documents),
        |${tokCtesOver("winj", "wn")},
        |wng0 AS (SELECT doc_id, i - 1 AS pos,
        |    w || ' ' || lead(w, 1) OVER wwin || ' ' || lead(w, 2) OVER wwin AS g
        |  FROM wntok WINDOW wwin AS (PARTITION BY doc_id ORDER BY i)),
        |wng AS (SELECT doc_id, pos,
        |    (""".stripMargin + h8 + raw""") AS h
        |  FROM wng0 WHERE g IS NOT NULL),
        |wnk AS (SELECT doc_id, pos, h,
        |    h * 1048576 + (1048575 - pos) AS wkey FROM wng),
        |wnw AS (SELECT doc_id, pos,
        |    min(wkey) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win,
        |    count(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM wnk),
        |wfp AS (SELECT DISTINCT doc_id,
        |    1048575 - (win % 1048576) AS pos, win // 1048576 AS h
        |  FROM wnw WHERE pos <= ng - 4),
        |wdf AS (SELECT h, count(DISTINCT doc_id) AS df FROM wfp GROUP BY 1),
        |wsh AS (SELECT count(DISTINCT f.doc_id) AS n_shared_docs
        |  FROM wfp f JOIN wdf d ON f.h = d.h AND d.df > 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_fp_total,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_hashes,
        |  (SELECT CAST(n_shared_docs AS BIGINT) FROM wsh) AS n_shared_docs,
        |  CAST(sum(pos) AS BIGINT) AS sum_pos,
        |  CAST(sum(h) AS BIGINT) AS sum_h
        |FROM wfp""".stripMargin
    }),
    Query("d_paragraph_dedup", (s, dir) => {
      import s.implicits._
      // CCNet-style paragraph-level exact dedup. Every doc gets the same
      // 10-word boilerplate paragraph prepended (cookie-banner stand-in —
      // the duplication mode this op exists to kill): exactly ONE copy
      // must survive corpus-wide while every doc keeps its own tail, and
      // the recomposed per-source char mass is closed-form in SQL.
      val boiler = "accept all cookies to continue reading this page free today"
      val docs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"source", concat(lit(boiler + " "), $"text").as("text"))
      val out = Dedup.dedupParagraphs(docs, "doc_id", "text", paraWords = 10)
      docs.select($"doc_id", $"source")
        .join(out, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum($"n_paras"), lit(0L)).as("n_paras"),
          coalesce(sum($"n_kept"), lit(0L)).as("n_kept"),
          coalesce(sum(length($"text")).cast("long"), lit(0L)).as("sum_kept_chars")
        )
        .orderBy($"source")
    },
      // mirror of TextStats.chunk(.,10) segmentation + first-occurrence-wins
      // paragraph dedup + recomposition: kept chars = kept para lengths plus
      // the (n_kept - 1) single-space joiners
      raw"""WITH src AS (
        |  SELECT doc_id, source,
        |    'accept all cookies to continue reading this page free today ' || text AS text
        |  FROM documents),
        |ptok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS i
        |  FROM src),
        |ptok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
        |         FROM ptok0 WHERE w <> ''),
        |paras AS (
        |  SELECT doc_id, (i - 1) // 10 AS pos, string_agg(w, ' ' ORDER BY i) AS para
        |  FROM ptok GROUP BY doc_id, (i - 1) // 10),
        |ranked AS (
        |  SELECT doc_id, pos, para,
        |         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
        |  FROM paras),
        |perdoc AS (
        |  SELECT doc_id,
        |    count(*) AS n_paras,
        |    sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS n_kept,
        |    coalesce(sum(CASE WHEN rk = 1 THEN length(para) END), 0)
        |      + CASE WHEN sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) > 1
        |             THEN sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) - 1 ELSE 0 END AS kept_chars
        |  FROM ranked GROUP BY doc_id)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(coalesce(sum(p.n_paras), 0) AS BIGINT) AS n_paras,
        |  CAST(coalesce(sum(p.n_kept), 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(p.kept_chars), 0) AS BIGINT) AS sum_kept_chars
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
    Query("d_span_dedup", (s, dir) => {
      import s.implicits._
      // ExactSubstr-style span dedup (Lee et al. 2021) at 5-gram
      // granularity. A fixed 15-word "viral quote" is appended to every
      // third doc: only the FIRST such doc keeps it (all its grams are
      // global winners); every later copy has exactly the quote's 15
      // tokens removed (grams straddling the doc-specific tail are unique,
      // so coverage stops at the quote boundary), and natural cross-doc
      // 5-gram repeats are handled identically by the SQL mirror.
      val quote = "winter storms bring heavy snow across the northern valley" +
        " roads closing schools until further notice"
      val docs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"source",
          when($"doc_id" % 3 === 0, concat($"text", lit(" " + quote)))
            .otherwise($"text").as("text"))
      val out = Dedup.dedupSpans(docs, "doc_id", "text", k = 5)
        .withColumnRenamed("text", "clean")
      docs.select($"doc_id", $"source")
        .join(out, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum($"n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(sum($"n_removed"), lit(0L)).as("n_removed"),
          coalesce(sum(length($"clean")).cast("long"), lit(0L)).as("sum_clean_len"),
          sum(when($"n_removed" > 0, 1L).otherwise(0L)).as("n_docs_affected")
        )
        .orderBy($"source")
    },
      // mirror of Dedup.dedupSpans(k=5): all overlapping 5-gram occurrences,
      // global first occurrence per gram wins (ORDER BY doc_id, pos == the
      // Spark min(struct)), a token is removed iff covered by a losing
      // occurrence, clean chars = kept token lengths + (n_kept - 1) joiners
      raw"""WITH src AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0 THEN text ||
        |      ' winter storms bring heavy snow across the northern valley roads closing schools until further notice'
        |    ELSE text END AS text
        |  FROM documents),
        |stok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS i
        |  FROM src),
        |stok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
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
        |perdoc AS (
        |  SELECT t.doc_id,
        |    count(*) AS n_tokens,
        |    sum(CASE WHEN r.i IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(sum(CASE WHEN r.i IS NULL THEN length(t.w) END), 0)
        |      + CASE WHEN count(*) - sum(CASE WHEN r.i IS NOT NULL THEN 1 ELSE 0 END) > 1
        |             THEN count(*) - sum(CASE WHEN r.i IS NOT NULL THEN 1 ELSE 0 END) - 1
        |             ELSE 0 END AS clean_len
        |  FROM stok t LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.i = r.i
        |  GROUP BY t.doc_id)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(coalesce(sum(p.n_tokens), 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(p.n_removed), 0) AS BIGINT) AS n_removed,
        |  CAST(coalesce(sum(p.clean_len), 0) AS BIGINT) AS sum_clean_len,
        |  CAST(coalesce(sum(CASE WHEN p.n_removed > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs_affected
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
    Query("d_template_lines", (s, dir) => {
      import s.implicits._
      // Per-site template-line removal (the CCNet/RefinedWeb cross-page
      // boilerplate tier). Synthetic sites keyed by doc_id mod 7 — coprime
      // with every condition modulus, so residues spread within each site
      // — plant four chrome shapes: an every-page nav (template), a
      // 3/4-frequency cookie banner (template), a 1/3-frequency CROSS-site
      // promo (kept: frequency is scoped per site), and a 1/2-frequency
      // footer sitting EXACTLY on the df*2 >= n boundary — template in
      // some sites, kept in others (parity of the site's doc count), so
      // both engines must agree on the inclusive integer threshold site by
      // site. The md5-prefix sum pins the recomposed clean STRINGS.
      // Oracle parity assumes documents.text contains no newline (checked:
      // zero docs with chr(10) at every sf) — the Spark side re-splits the
      // assembled doc on \n while the SQL mirror keeps text as ONE list
      // element, so an embedded newline would diverge the line sets.
      val empty = array().cast("array<string>")
      val docs = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id",
        concat(lit("site"), ($"doc_id" % 7).cast("string")).as("site"),
        array_join(
          concat(
            array(concat(lit("Home | About | Site "), ($"doc_id" % 7).cast("string"))),
            array($"text"),
            when($"doc_id" % 4 =!= 0,
              array(concat(lit("This site uses cookies "), ($"doc_id" % 7).cast("string"))))
              .otherwise(empty),
            when($"doc_id" % 3 === 0, array(lit("Subscribe to our newsletter today")))
              .otherwise(empty),
            when($"doc_id" % 2 === 0,
              array(concat(lit("All rights reserved "), ($"doc_id" % 7).cast("string"))))
              .otherwise(empty)
          ),
          "\n").as("text"))
      val out = graft.operators.Boilerplate.stripTemplateLines(
        docs, "doc_id", "site", "text", fracNum = 1, fracDen = 2, minDocs = 3)
      out.groupBy($"site")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_lines").as("n_lines"),
          sum($"n_removed").as("n_removed"),
          sum(length($"text")).cast("long").as("sum_clean_len"),
          sum(conv(substring(md5($"text"), 1, 4), 16, 10).cast("long")).as("sum_clean_md5pfx")
        )
        .orderBy($"site")
    },
      // mirror of Boilerplate.stripTemplateLines(1/2, minDocs=3): the same
      // synthesized line lists, per-(site, line) distinct-doc frequency vs
      // the site's doc count in exact integer arithmetic, recomposition in
      // original line order (string_agg skips the template lines' NULLs)
      """WITH aug AS (
        |  SELECT doc_id, 'site' || CAST(doc_id % 7 AS VARCHAR) AS site,
        |    ['Home | About | Site ' || CAST(doc_id % 7 AS VARCHAR)]
        |    || [text]
        |    || (CASE WHEN doc_id % 4 <> 0
        |             THEN ['This site uses cookies ' || CAST(doc_id % 7 AS VARCHAR)]
        |             ELSE [] END)
        |    || (CASE WHEN doc_id % 3 = 0
        |             THEN ['Subscribe to our newsletter today'] ELSE [] END)
        |    || (CASE WHEN doc_id % 2 = 0
        |             THEN ['All rights reserved ' || CAST(doc_id % 7 AS VARCHAR)]
        |             ELSE [] END) AS ls
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, site,
        |    generate_subscripts(ls, 1) - 1 AS pos, unnest(ls) AS line
        |  FROM aug),
        |nd AS (SELECT site, count(DISTINCT doc_id) AS n FROM aug GROUP BY 1),
        |freq AS (SELECT site, line, count(DISTINCT doc_id) AS df
        |         FROM lines GROUP BY 1, 2),
        |tmpl AS (SELECT f.site, f.line FROM freq f JOIN nd USING (site)
        |         WHERE f.df >= 3 AND f.df * 2 >= nd.n),
        |kept AS (
        |  SELECT l.doc_id, l.site, l.pos, l.line,
        |         (t.line IS NOT NULL) AS isb
        |  FROM lines l LEFT JOIN tmpl t ON l.site = t.site AND l.line = t.line),
        |perdoc AS (
        |  SELECT doc_id, min(site) AS site, count(*) AS n_lines,
        |    sum(CASE WHEN isb THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(string_agg(CASE WHEN NOT isb THEN line END, chr(10) ORDER BY pos), '')
        |      AS clean
        |  FROM kept GROUP BY doc_id)
        |SELECT site, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_lines) AS BIGINT) AS n_lines,
        |  CAST(sum(n_removed) AS BIGINT) AS n_removed,
        |  CAST(sum(length(clean)) AS BIGINT) AS sum_clean_len,
        |  CAST(sum(
        |    (strpos('0123456789abcdef', substr(md5(clean), 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(md5(clean), 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(md5(clean), 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(clean), 4, 1)) - 1)) AS BIGINT)
        |    AS sum_clean_md5pfx
        |FROM perdoc GROUP BY site ORDER BY site""".stripMargin),
    Query("d_ngram_pairs", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, minJaccard = 0.8)
        .select($"a", $"b", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a", $"b")
    }, exactJaccardSql),
    Query("d_containment", (s, dir) => {
      import s.implicits._
      // Directed shingle containment (inclusion detection — what Jaccard
      // misses when a small doc is quoted inside a big one). The raw corpus
      // has only symmetric near-dups, so the query plants the asymmetric
      // case deterministically: 20 "container" docs, each the concatenation
      // of two adjacent originals — the originals are fully contained
      // (containment 1.0 into their container) while the reverse direction
      // falls below threshold. The oracle builds the IDENTICAL augmented
      // table in SQL and replays the exact ratio.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id", $"text")
      val containers = docs.as("a")
        .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(col("a.doc_id") < 20)
        .select((col("a.doc_id") + 1000000).as("doc_id"),
          concat(col("a.text"), lit(" "), col("b.text")).as("text"))
      val aug = docs.unionByName(containers)
      Dedup.containmentPairs(aug, "doc_id", "text", k = 3, minContainment = 0.6)
        .select($"src", $"dst", round($"containment", 6).as("containment"))
        .orderBy($"src", $"dst")
    }, containmentSql),
    Query("d_minhash_pairs", (s, dir) => {
      import s.implicits._
      // production near-dup pipeline: MinHash-LSH candidate generation +
      // exact-Jaccard verification. With bands=16 x rows=2 the per-pair miss
      // probability at j=0.8 is < 1e-7, so the output EQUALS the exact
      // d_ngram_pairs definition — which is exactly what the DuckDB oracle
      // checks (end-to-end recall + precision, not just shape).
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      Dedup.minhashVerifiedPairs(docs, "doc_id", "text", shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
        .select($"a", $"b", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a", $"b")
    },
      // the LSH pipelines are candidate-generation + exact-Jaccard verify, so
      // their outputs equal the exact pair definition — same oracle
      exactJaccardSql),
    Query("d_incremental_minhash", (s, dir) => {
      import s.implicits._
      // index-once / probe-per-batch near-dup (the daily-crawl shape): the
      // standing corpus (doc_id % 10 != 0) is banded into a stored MinHash
      // index ONCE; the "new batch" (doc_id % 10 == 0) probes it — only
      // batch band keys shuffle, never the corpus pair set — and candidates
      // are verified by exact Jaccard. Oracle: the exact cross-set j>=0.8
      // pair definition in SQL (end-to-end recall + precision).
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val standing = docs.filter($"doc_id" % 10 =!= 0)
      val fresh = docs.filter($"doc_id" % 10 === 0)
      val index = Dedup.minhashIndex(standing, "doc_id", "text")
      Dedup.minhashProbeVerified(index, fresh, docs, "doc_id", "text",
        shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
        .select($"a".as("old_id"), $"b".as("new_id"),
          round($"jaccard", 6).as("jaccard"))
        .orderBy($"old_id", $"new_id")
    },
      // cross-set variant: standing corpus (doc_id % 10 <> 0) x new batch
      // (doc_id % 10 = 0), same exact distinct-3-gram Jaccard definition
      raw"""WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(text),'\s+') w FROM documents
        |  WHERE length(string_split_regex(lower(text),'\s+')) >= 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) s
        |  FROM words),
        |c AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id o, y.doc_id nw, count(*) i
        |  FROM sh x JOIN sh y ON x.s = y.s
        |  WHERE x.doc_id % 10 <> 0 AND y.doc_id % 10 = 0
        |  GROUP BY 1, 2)
        |SELECT o AS old_id, nw AS new_id,
        |  round(i::DOUBLE / (co.n + cn.n - i), 6) AS jaccard
        |FROM inter JOIN c co ON co.doc_id = o JOIN c cn ON cn.doc_id = nw
        |WHERE i::DOUBLE / (co.n + cn.n - i) >= 0.8
        |ORDER BY old_id, new_id""".stripMargin),
    Query("d_simhash_pairs", (s, dir) => {
      import s.implicits._
      // SimHash over DISTINCT 3-gram shingles (the Jaccard feature set),
      // candidates = the hamming<=15 ball via 8x8-bit bands + 1-bit-flip
      // probes (recall within the ball is exact by pigeonhole: a missed
      // pair would need >15 differing bits), then exact-Jaccard verify;
      // oracle = the exact pair definition. True j>=0.8 pairs measure
      // hamming <= 12 across sf0.001-0.1 while unrelated docs measure
      // >= 16, so the ball captures every true pair and almost nothing
      // else. maxBucket=500 bounds the worst bucket join (never hit on
      // this corpus: 8-bit band keys spread 5000 docs ~20 per bucket).
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      Dedup.simhashVerifiedPairs(docs, "doc_id", "text", maxHamming = 15, shingleK = 3,
          minJaccard = 0.8, maxBucket = 500)
        .select($"a", $"b", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a", $"b")
    }, exactJaccardSql),
    Query("d_clusters", (s, dir) => {
      import s.implicits._
      // duplicate CLUSTERS (what a training pipeline keeps one doc of):
      // connected components over the verified near-dup pair set, via
      // distributed min-label propagation. The pair set equals the exact
      // Jaccard definition (see d_minhash_pairs), so the DuckDB oracle is a
      // recursive-CTE transitive closure over the same pairs.
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val pairs = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
        shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      Dedup.connectedComponents(pairs)
        .groupBy($"comp".as("component"))
        .agg(count(lit(1)).as("n_docs"), max($"id").as("max_doc"))
        .orderBy($"component")
    }, clustersSql),
    Query("d_cluster_best", (s, dir) => {
      import s.implicits._
      // score-aware representative selection: per duplicate cluster keep
      // the LONGEST member (argmax of (n_chars, -id) — a total order),
      // the policy production dedup actually runs (the fullest duplicate
      // survives, not the min-label anchor). Components computed once and
      // shared between the keep operator and the output join. Oracle: the
      // same recursive-CTE transitive closure, representative picked by a
      // window over the identical order.
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val pairs = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
        shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      val comps = Dedup.connectedComponents(pairs).cache()
      val kept = Dedup.keepRepresentativesOf(docs, "doc_id", comps, "n_chars")
      kept.join(comps, kept("doc_id") === comps("id"))
        .select($"comp".as("component"), $"doc_id".as("rep_id"),
          $"n_chars".as("rep_chars"))
        .orderBy($"component")
    }, clusterBestSql),
    Query("d_embed_neardup", (s, dir) => {
      import s.implicits._
      // this corpus has no true embedding near-dups (max pairwise cosine
      // ~0.51), so the demo threshold 0.3 is low — which forces a wide
      // OR-construction (nBits=2 x 16 tables) for full recall; production
      // callers pass minCosine~0.95 with nBits=16 x 8 tables. Output is the
      // pair SET (cosine values dropped: DuckDB accumulates float32, ours
      // float64 — ranks/sets agree, trailing decimals do not).
      Dedup.embeddingNearDup(s.read.parquet(pq(dir, "embeddings")), "vec_id", "embedding",
          minCosine = 0.3, nBits = 2, tables = 32)
        .select($"a", $"b")
        .orderBy($"a", $"b")
    },
      """SELECT x.vec_id AS a, y.vec_id AS b
        |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.3
        |ORDER BY a, b""".stripMargin),
    Query("d_embed_neardup_prod", (s, dir) => {
      import s.implicits._
      // the PRODUCTION near-dup config (minCosine=0.95, nBits=16 x 8
      // tables — the one Dedup.embeddingNearDup's scaladoc recommends),
      // oracle-exact. The corpus has no cos>=0.95 pairs, so 25 families of
      // 4 true near-duplicates are planted on the first 25 base vectors:
      // member k of family f = cos(k*0.8deg)*u_f + sin(k*0.8deg)*w_f (u_f
      // the normalized base, w_f a fixed axis orthogonalized against it).
      // Geometry makes the true pair set CLOSED-FORM: intra-family angles
      // <= 2.4deg (cos >= 0.999), while every other pair in the input is
      // bounded by the corpus' max base angle minus the spread — max base
      // cosine is 0.601 across sfs, so cross pairs stay under cos(48.3deg)
      // = 0.67, nowhere near 0.95. Bases 0..24 are EXCLUDED from the
      // input (members stand in for them); bases >= 25 ride along to
      // prove the config admits no false positives at corpus scale.
      // Verification inside the operator is exact cosine, so the oracle is
      // exactly the 150 intra-family pairs.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val base = embs.filter($"vec_id" < 25)
        .select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val members = base.flatMap { case (f, v) =>
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        val u = v.map(_ / norm)
        // fixed axis e0 orthogonalized against u (|e0.u| <= 0.33 on this
        // corpus — never degenerate)
        val w0 = u.indices.map(i => (if (i == 0) 1.0 else 0.0) - u(0) * u(i)).toArray
        val wn = math.sqrt(w0.map(x => x * x).sum)
        val w = w0.map(_ / wn)
        (0 until 4).map { k =>
          val th = k * 0.8 * math.Pi / 180
          (100000L + f * 4 + k,
            u.indices.map(i => (math.cos(th) * u(i) + math.sin(th) * w(i)).toFloat).toArray)
        }
      }.toSeq
      val input = embs.filter($"vec_id" >= 25)
        .select($"vec_id".cast("long").as("id"), $"embedding".as("vec"))
        .union(members.toDF("id", "vec"))
      Dedup.embeddingNearDup(input, "id", "vec", minCosine = 0.95, nBits = 16, tables = 8)
        .select($"a", $"b")
        .orderBy($"a", $"b")
    },
      // the planted-family geometry (see the query) makes the cos>=0.95 truth
      // exactly the intra-family pairs — closed-form ids, no SQL cosines
      """SELECT 100000 + f.f*4 + p.pa AS a, 100000 + f.f*4 + p.pb AS b
        |FROM generate_series(0, 24) AS f(f),
        |     (VALUES (0,1),(0,2),(0,3),(1,2),(1,3),(2,3)) AS p(pa, pb)
        |ORDER BY a, b""".stripMargin),
    Query("d_semdedup", (s, dir) => {
      import s.implicits._
      // SemDeDup (Abbas et al. 2023) over the embeddings table: 8 seed
      // centroids (the vec_id < 8 embeddings), nearest-seed assignment,
      // within-cluster greedy drop at eps = 0.41. The eps sits in the
      // widest float-precision gap of the corpus' pairwise-cosine
      // distribution (min |cos - 0.41| >= 4.2e-5 at every sf, argmax
      // assignment margin >= 4.7e-5), so Spark's float64 accumulation and
      // DuckDB's float32 list_cosine_similarity cannot disagree on any
      // threshold or assignment decision. Per-cluster kept-id sums pin
      // the survivor SET, not just its size.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val cents = SemDedup.seedCentroids(embs, "vec_id", "embedding", 0L until 8L)
      SemDedup.semDeDup(embs, "vec_id", "embedding", cents, eps = 0.41)
        .groupBy($"cluster")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"is_kept", 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when($"is_kept", $"vec_id")), lit(0L)).as("sum_kept_ids"))
        .orderBy($"cluster")
    },
      // mirror of SemDedup.semDeDup(seeds = vec_id < 8, eps = 0.41):
      // nearest-seed argmax (ties to the lowest seed id), then the
      // upper-triangle greedy — y drops iff ANY smaller-id x in the same
      // cluster has cos >= eps, whether or not x itself survived
      """WITH assign AS (
        |  SELECT vec_id, cl FROM (
        |    SELECT x.vec_id, s.vec_id AS cl,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_cosine_similarity(x.embedding, s.embedding) DESC,
        |                 s.vec_id) AS rn
        |    FROM embeddings x, embeddings s WHERE s.vec_id < 8)
        |  WHERE rn = 1),
        |drops AS (
        |  SELECT DISTINCT y.vec_id
        |  FROM embeddings y
        |  JOIN assign ay ON y.vec_id = ay.vec_id
        |  JOIN assign ax ON ax.cl = ay.cl AND ax.vec_id < y.vec_id
        |  JOIN embeddings x ON x.vec_id = ax.vec_id
        |  WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.41)
        |SELECT a.cl AS cluster, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN d.vec_id IS NULL THEN a.vec_id END), 0)
        |    AS BIGINT) AS sum_kept_ids
        |FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("d_cdc_chunks", (s, dir) => {
      import s.implicits._
      // storage-tier dedup across crawl snapshots: content-defined chunking
      // (LBFS boundary rule, k=8 window, m=64 target) over snapshot v1 (the
      // corpus) and v2 (every 4th doc gets a prefix edit that shifts all
      // offsets). CDC boundaries resynchronize after the edit, so shared
      // chunk mass stays high — the single output row pins chunk counts,
      // distinct-chunk store size, and the shared (cross-snapshot) mass.
      val d = s.read.parquet(pq(dir, "documents"))
      val base = d.filter($"text".isNotNull && length($"text") > 0)
        .select($"doc_id", $"text")
      val v1 = base.withColumn("snap", lit(1L))
      val v2 = base.withColumn("text",
          when($"doc_id" % 4 === 0, concat(lit("UPDATED "), $"text"))
            .otherwise($"text"))
        .withColumn("snap", lit(2L))
      val chunks = graft.operators.Cdc
        .chunkDocs(v1.unionByName(v2), "text", k = 8, m = 64).cache()
      val perSnap = chunks.agg(
        sum(when($"snap" === 1, 1L).otherwise(0L)).as("n_chunks_v1"),
        sum(when($"snap" === 2, 1L).otherwise(0L)).as("n_chunks_v2"))
      // identical hash => identical content => identical length (max = the value)
      val dist = chunks.groupBy($"chunk_hash")
        .agg(max($"chunk_len").as("l"), countDistinct($"snap").as("ns"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(when($"ns" === 2, 1L).otherwise(0L)).as("n_shared"),
          sum(when($"ns" === 2, $"l").otherwise(0L)).as("shared_chars"))
      val out = perSnap.crossJoin(dist)
      val materialized = out.cache()
      materialized.count()
      chunks.unpersist()
      materialized
    },
      // Full mirror of the CDC chunker: same snapshots, same LBFS boundary
      // rule (16-bit md5 prefix of the trailing 8-char window ≡ 0 mod 64),
      // same end-of-document cut, same whole-doc chunk for short texts.
      raw"""WITH v AS (
        |  SELECT doc_id, 1 AS snap, text FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0
        |  UNION ALL
        |  SELECT doc_id, 2,
        |    CASE WHEN doc_id % 4 = 0 THEN 'UPDATED ' || text ELSE text END
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |lng AS (SELECT * FROM v WHERE length(text) >= 8),
        |pos AS (SELECT doc_id, snap, text,
        |          unnest(generate_series(8, length(text))) AS i
        |        FROM lng),
        |bnd AS (SELECT doc_id, snap, i FROM pos
        |        WHERE ((strpos('0123456789abcdef', substr(md5(substr(text, i - 7, 8)), 1, 1)) - 1) * 4096
        |             + (strpos('0123456789abcdef', substr(md5(substr(text, i - 7, 8)), 2, 1)) - 1) * 256
        |             + (strpos('0123456789abcdef', substr(md5(substr(text, i - 7, 8)), 3, 1)) - 1) * 16
        |             + (strpos('0123456789abcdef', substr(md5(substr(text, i - 7, 8)), 4, 1)) - 1)) % 64 = 0),
        |cut AS (SELECT doc_id, snap, i FROM bnd
        |        UNION
        |        SELECT doc_id, snap, length(text) FROM lng),
        |chk AS (SELECT doc_id, snap,
        |          md5(substr(text, coalesce(lag(i) OVER w, 0) + 1,
        |                     i - coalesce(lag(i) OVER w, 0))) AS h,
        |          CAST(i - coalesce(lag(i) OVER w, 0) AS BIGINT) AS l
        |        FROM (SELECT c.doc_id, c.snap, c.i, g.text
        |              FROM cut c JOIN lng g
        |              ON c.doc_id = g.doc_id AND c.snap = g.snap)
        |        WINDOW w AS (PARTITION BY doc_id, snap ORDER BY i)),
        |srt AS (SELECT doc_id, snap, md5(text) AS h,
        |          CAST(length(text) AS BIGINT) AS l
        |        FROM v WHERE length(text) < 8),
        |allc AS (SELECT * FROM chk UNION ALL SELECT * FROM srt),
        |dist AS (SELECT h, max(l) AS l, count(DISTINCT snap) AS ns
        |         FROM allc GROUP BY h)
        |SELECT
        |  CAST((SELECT count(*) FROM allc WHERE snap = 1) AS BIGINT) AS n_chunks_v1,
        |  CAST((SELECT count(*) FROM allc WHERE snap = 2) AS BIGINT) AS n_chunks_v2,
        |  CAST((SELECT count(*) FROM dist) AS BIGINT) AS n_distinct,
        |  CAST((SELECT count(*) FROM dist WHERE ns = 2) AS BIGINT) AS n_shared,
        |  CAST((SELECT coalesce(sum(l), 0) FROM dist WHERE ns = 2) AS BIGINT) AS shared_chars""".stripMargin),
    Query("d_cluster_histogram", (s, dir) => {
      import s.implicits._
      // duplicate-family SIZE HISTOGRAM — the dedup-savings figure corpus
      // papers publish: clusters per size, docs per size, and the
      // removable count ((size-1) per cluster), with the singleton row
      // (size 1) derived from the same >=3-token domain the pair mining
      // runs on. Reuses the verified pair set + connected components; the
      // oracle extends the recursive-closure mirror with the histogram
      // and singleton arithmetic.
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val pairs = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
        shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      val sizes = Dedup.connectedComponents(pairs)
        .groupBy($"comp").agg(count(lit(1)).as("sz"))
      val hist = sizes.groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
      val tot = docs.agg(count(lit(1)).as("n_total"))
        .crossJoin(sizes.agg(coalesce(sum($"sz"), lit(0L)).as("n_in")))
      val single = tot.select(lit(1L).as("sz"), ($"n_total" - $"n_in").as("n_clusters"))
      hist.select($"sz".cast("long").as("size"), $"n_clusters")
        .unionByName(single.select($"sz".as("size"), $"n_clusters"))
        .withColumn("n_docs", $"size" * $"n_clusters")
        .withColumn("n_removable", ($"size" - 1L) * $"n_clusters")
        .orderBy($"size")
    },
      s"""WITH RECURSIVE $exactPairsCtes,
        |p AS (
        |  SELECT a, b FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
        |  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8),
        |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
        |cc(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, cc.r FROM cc JOIN edges e ON e.src = cc.id),
        |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id),
        |sz AS (SELECT component, count(*) AS size FROM comp GROUP BY component),
        |h AS (SELECT size, count(*) AS n_clusters FROM sz GROUP BY size),
        |allrows AS (
        |  SELECT size, n_clusters FROM h
        |  UNION ALL
        |  SELECT 1, (SELECT count(*) FROM c) - (SELECT coalesce(sum(size), 0) FROM sz))
        |SELECT CAST(size AS BIGINT) AS size, CAST(n_clusters AS BIGINT) AS n_clusters,
        |  CAST(size * n_clusters AS BIGINT) AS n_docs,
        |  CAST((size - 1) * n_clusters AS BIGINT) AS n_removable
        |FROM allrows ORDER BY size""".stripMargin),
    Query("d_dom_templates", (s, dir) => {
      import s.implicits._
      // DOM-shape template clustering (DomShape scaladoc): pages from the
      // same template share their tag skeleton even when every word
      // differs — the per-doc TEXT varies with doc_id here while the
      // skeleton depends only on doc_id%3, so text-level identity would
      // find nothing and the shape must find exactly three families.
      // Shapes cluster per site (doc_id%7); the oracle recomputes family
      // sizes from the moduli and pins each family's tag path constant.
      val htmlUdf = udf { (fam: Long, id: Long) =>
        val uniqueText = s"page $id with its own words ${id * 7}"
        fam match {
          case 0L => s"<html><body><article><h1>t$id</h1><p>$uniqueText</p></article></body></html>"
          case 1L => s"<html><body><ul><li>a$id</li><li>b$id</li></ul></body></html>"
          case _  => s"<html><body><div><table><tr><td>$uniqueText</td></tr></table></div></body></html>"
        }
      }
      val shapeUdf = udf { (html: String) =>
        val sh = graft.functions.html.DomShape.shape(html)
        (sh.path, sh.hash)
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", ($"doc_id" % 3).as("family"), ($"doc_id" % 7).as("site"))
        .select($"family", $"site", shapeUdf(htmlUdf($"family", $"doc_id")).as("sh"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"sh._1").as("min_path"), max($"sh._1").as("max_path"),
          countDistinct($"sh._2").cast("long").as("n_shapes"),
          countDistinct($"site").cast("long").as("n_sites"))
        .orderBy($"family")
    },
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family, doc_id % 7 AS site FROM documents),
        |t(family, path) AS (VALUES
        |  (0, 'html>body>article>h1>p'),
        |  (1, 'html>body>ul>li>li'),
        |  (2, 'html>body>div>table>tr>td'))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.path) AS min_path, max(t.path) AS max_path,
        |  CAST(1 AS BIGINT) AS n_shapes,
        |  CAST(count(DISTINCT f.site) AS BIGINT) AS n_sites
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
  )
}
