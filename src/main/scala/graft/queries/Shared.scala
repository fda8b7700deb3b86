package graft
package queries

/** Helpers used by more than one query family: the parquet path of a
  * scale dir's table, and the oracle CTE blocks several families build on.
  * Each is defined once, so the oracles that share a mirror cannot drift
  * apart.
  */
object Shared {

  private[queries] def pq(dir: String, name: String) = s"$dir/$name.parquet"

  /** Tokenize → re-rank-after-empty-filter CTE pair (`${p}tok0`,
    * `${p}tok` with 1-based token rank `i`) — the ONE oracle-side
    * definition of the word tokenizer; the gram and phrase mirrors both
    * build on it so a tokenizer drift cannot silently diverge them.
    */
  private[queries] def tokCtesOver(src: String, p: String): String =
    raw"""${p}tok0 AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w,
      |         generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
      |  FROM $src),
      |${p}tok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
      |        FROM ${p}tok0 WHERE w <> '')""".stripMargin

  /** The langId decision chain (script-range counts -> Latin stopword
    * profile -> verdict CASE) over a source CTE exposing `head`/`lhead`
    * plus the caller's key columns — ONE SQL authority shared by the
    * per-document (t_langid) and per-segment (t_langid_segments)
    * oracles, so the kernel mirror can never drift per caller. Emits
    * CTEs `${p}sc`, `${p}st`, `${p}d`; `${p}d` carries `$keyCols,
    * detected`.
    */
  private[queries] def langIdDetectSql(p: String, srcCte: String, keyCols: String): String =
    raw"""${p}sc AS (
      |  SELECT $keyCols,
      |    len(regexp_extract_all(head, '[\x{0D00}-\x{0D7F}]')) AS ml,
      |    len(regexp_extract_all(head, '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS cjk,
      |    len(regexp_extract_all(head, '[\x{0400}-\x{04FF}]')) AS cyr,
      |    len(regexp_extract_all(head, '[\x{0600}-\x{06FF}]')) AS arab,
      |    len(regexp_extract_all(head, '[A-Za-z\x{00AA}\x{00B5}\x{00BA}\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]')) AS lat,
      |    string_split_regex(lhead, '\s+') AS toks
      |  FROM $srcCte),
      |${p}st AS (
      |  SELECT $keyCols, ml, cjk, cyr, arab, lat,
      |    len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it','for','with','was','on','are','this','a'))) AS en,
      |    len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','los','del','las','por','un','una','con','para','es'))) AS es,
      |    len(list_filter(toks, t -> t IN ('der','die','und','das','von','zu','mit','den','im','für','ist','des','ein','auf','nicht'))) AS de,
      |    len(list_filter(toks, t -> t IN ('le','la','les','de','des','et','en','un','une','du','est','que','dans','pour','qui'))) AS fr
      |  FROM ${p}sc),
      |${p}d AS (
      |  SELECT $keyCols,
      |    CASE
      |      WHEN (ml+cjk+cyr+arab)*5 > lat THEN
      |        CASE WHEN ml >= cjk AND ml >= cyr AND ml >= arab THEN 'ml'
      |             WHEN cjk >= cyr AND cjk >= arab THEN 'zh'
      |             WHEN cyr >= arab THEN 'ru'
      |             ELSE 'ar' END
      |      WHEN lat = 0 THEN 'und'
      |      WHEN greatest(en, es, de, fr) = 0 THEN 'und'
      |      WHEN en = greatest(en, es, de, fr) THEN 'en'
      |      WHEN es = greatest(en, es, de, fr) THEN 'es'
      |      WHEN de = greatest(en, es, de, fr) THEN 'de'
      |      ELSE 'fr' END AS detected
      |  FROM ${p}st)""".stripMargin

  /** DuckDB-side integer value of the first `digits` hex chars of
    * md5(arg) — the mirror of Spark's `conv(substring(md5(x), 1, d),
    * 16, 10)` (DuckDB has no base conversion; positional strpos
    * arithmetic replays it exactly). Shared by the HLL, CMS, epoch-
    * shuffle, and winnowing oracles.
    */
  private[queries] def md5PrefixSql(arg: String, digits: Int): String =
    (1 to digits).map { i =>
      val pow = math.pow(16, digits - i).toLong
      s"(strpos('0123456789abcdef', substr(md5($arg), $i, 1)) - 1) * $pow"
    }.mkString("\n      + ")

  /** The shared stage CTEs of the BPE replay (tokenize → bpv0 →
    * k merge rounds), reused by t_bpe_merges and p_bpe_pack: bpv0 is
    * the two-space word symbolization weighted by word frequency; each
    * stage computes pair counts by list adjacency, picks the
    * (cnt DESC, t1, t2) argmax, and applies it with the same literal
    * replace as the Spark side ([[graft.operators.BpeTrain]]).
    */
  private[queries] def bpeStageCtes(k: Int): String = {
    // every per-stage CTE is MATERIALIZED and referenced via a single
    // cross join — without it DuckDB INLINES the recursion and the
    // expansion is exponential in k (the same multi-reference plan
    // blowup the Spark side hit in the PageRank loop, mirrored)
    val stages = (1 to k).map { i =>
      s"""bpb$i AS MATERIALIZED (
        |  SELECT l[j] AS t1, l[j+1] AS t2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT l, freq, unnest(generate_series(1, len(l)-1)) AS j
        |    FROM (SELECT string_split(trim(s), '  ') AS l, freq FROM bpv${i - 1}))
        |  GROUP BY 1, 2 ORDER BY cnt DESC, t1, t2 LIMIT 1),
        |bpv$i AS MATERIALIZED (
        |  SELECT replace(v.s, ' ' || b.t1 || '  ' || b.t2 || ' ',
        |                 ' ' || b.t1 || b.t2 || ' ') AS s, v.freq
        |  FROM bpv${i - 1} v, bpb$i b)""".stripMargin
    }.mkString(",\n")
    s"""${tokCtesOver("documents", "bp")},
      |bpv0 AS MATERIALIZED (
      |  SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s,
      |         CAST(count(*) AS BIGINT) AS freq
      |  FROM bptok GROUP BY 1),
      |$stages""".stripMargin
  }

  /** The shared word-4-gram CTE block (tokenize → re-rank after dropping
    * empties → lead-window concat → DISTINCT per doc, NULL rows for the
    * tail positions left for the caller to filter). One definition serves
    * the p_decontaminate oracle and both sides of the corpus-build mirror —
    * a drift in the gram shape must not silently diverge them.
    */
  private[queries] def gramCtesOver(src: String, p: String): String =
    raw"""${tokCtesOver(src, p)},
      |${p}grams AS (SELECT DISTINCT doc_id,
      |    w || ' ' || lead(w,1) OVER ${p}win || ' ' || lead(w,2) OVER ${p}win || ' ' || lead(w,3) OVER ${p}win AS g
      |  FROM ${p}tok WINDOW ${p}win AS (PARTITION BY doc_id ORDER BY i))""".stripMargin

  /** Shared CTE prefix computing the exact distinct-3-gram intersection
    * counts over `src` (feeds the pair, cluster, and pipeline oracles).
    */
  private[queries] def exactPairsCtesOver(src: String): String =
    s"""words AS (
      |  SELECT doc_id, string_split_regex(lower(text),'\\s+') w FROM $src
      |  WHERE length(string_split_regex(lower(text),'\\s+')) >= 3),""".stripMargin +
      """
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) s
      |  FROM words),
      |c AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT x.doc_id a, y.doc_id b, count(*) i
      |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Per-doc quality score mirror (bit-exact float op order vs
    * TextStats.quality — shared by t_quality_score and the pipeline oracle).
    */
  private[queries] val qualityCtes: String =
    """qraw AS (
      |  SELECT doc_id,
      |    length(text) AS nchars,
      |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS ntok,
      |    length(regexp_replace(text, '\s', '', 'g')) AS nonws,
      |    len(regexp_extract_all(text, '\p{L}')) AS letters,
      |    len(regexp_extract_all(text, '\p{Lu}')) AS uppers,
      |    len(regexp_extract_all(text, '\p{Nd}')) AS digits,
      |    len(list_filter(string_split_regex(text, '\s+'), t -> lower(t) IN ('the','and','of','to','in','is','that','it','for','with','was','on','are','this','a'))) AS stop
      |  FROM documents),
      |qs AS (
      |  SELECT doc_id, CASE WHEN ntok = 0 THEN 0.0 ELSE greatest(0.0,
      |    1.0
      |    - CASE WHEN nonws::DOUBLE / ntok < 3.0 OR nonws::DOUBLE / ntok > 10.0 THEN 0.25 ELSE 0.0 END
      |    - CASE WHEN stop::DOUBLE / ntok < 0.01 THEN 0.25 ELSE 0.0 END
      |    - CASE WHEN (nchars - letters - digits - (nchars - nonws))::DOUBLE / greatest(1, nchars) > 0.2 THEN 0.2 ELSE 0.0 END
      |    - CASE WHEN digits::DOUBLE / greatest(1, nchars) > 0.3 THEN 0.15 ELSE 0.0 END
      |    - CASE WHEN (CASE WHEN letters = 0 THEN 0.0 ELSE uppers::DOUBLE / letters END) > 0.5 THEN 0.15 ELSE 0.0 END
      |    - CASE WHEN ntok < 5 THEN 0.3 ELSE 0.0 END) END AS score
      |  FROM qraw)""".stripMargin

  /** Complete corpus-build mirror: the p_pipeline_keep stages, then word-
    * 4-gram decontamination vs the doc_id%41==0 eval set, then the
    * deterministic 1/5 per-lang stratified sample — every stage in SQL.
    */
  private[queries] val corpusBuildSql: String =
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
      |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id),
      |keptdocs AS (
      |  SELECT e.* FROM exdocs e
      |  WHERE e.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)),
      |${gramCtesOver("keptdocs", "k")},
      |${gramCtesOver("(SELECT * FROM documents WHERE doc_id % 41 = 0)", "e")},
      |eval_g AS (SELECT DISTINCT g FROM egrams WHERE g IS NOT NULL),
      |contam AS (
      |  SELECT DISTINCT k.doc_id FROM kgrams k
      |  JOIN eval_g e ON k.g = e.g WHERE k.g IS NOT NULL),
      |clean AS (
      |  SELECT k.* FROM keptdocs k
      |  WHERE k.doc_id NOT IN (SELECT doc_id FROM contam)),
      |rk AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM clean),
      |samp AS (SELECT lang, doc_id FROM rk WHERE rk <= (n * 1 + 4) // 5)
      |SELECT kl.lang,
      |  CAST(kl.n_kept AS BIGINT) AS n_kept,
      |  CAST(coalesce(cl.n_clean, 0) AS BIGINT) AS n_clean,
      |  CAST(coalesce(sp.n_sampled, 0) AS BIGINT) AS n_sampled,
      |  CAST(coalesce(sp.sum_ids, 0) AS BIGINT) AS sum_sampled_ids
      |FROM (SELECT lang, count(*) AS n_kept FROM keptdocs GROUP BY 1) kl
      |LEFT JOIN (SELECT lang, count(*) AS n_clean FROM clean GROUP BY 1) cl USING (lang)
      |LEFT JOIN (SELECT lang, count(*) AS n_sampled, sum(doc_id) AS sum_ids
      |           FROM samp GROUP BY 1) sp USING (lang)
      |ORDER BY 1""".stripMargin

  /** Corpus-level BM25 CTEs (tokenize, doc lengths, corpus stats) under
    * prefix `p` — shared once per oracle even when several query legs
    * score against the same corpus. Emits `${p}tok0/${p}tok/${p}dl/${p}n`.
    */
  private[queries] def bm25CorpusCtesSql(p: String): String =
    raw"""${p}tok0 AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
      |${p}tok AS (SELECT doc_id, w FROM ${p}tok0 WHERE w <> ''),
      |${p}dl AS (SELECT doc_id AS doc, count(*) AS dl FROM ${p}tok GROUP BY 1),
      |${p}n AS (SELECT (SELECT count(*) FROM documents) AS n, (SELECT count(*) FROM ${p}tok) AS sumdl)""".stripMargin

  /** One BM25 query leg under prefix `p` against the corpus CTEs at
    * prefix `cp` — the SQL authority mirroring `InvertedIndex.bm25TopK`
    * (log-free idf, k1=1.2 b=0.75, fixed left-to-right per-term combine,
    * (score desc, doc asc) order). Emits `${p}post/${p}df/${p}sc/
    * ${p}piv/${p}top/${p}rank`; `${p}rank` carries (doc, score, rank
    * 1..topK). ONE authority for s_bm25 and every hybrid-fusion leg.
    */
  private[queries] def bm25LegCtesSql(p: String, cp: String, terms: Seq[String], topK: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivot = terms
      .map(t => s"coalesce(max(CASE WHEN term = '$t' THEN w END), 0.0)")
      .mkString("\n  + ")
    s"""${p}post AS (SELECT w AS term, doc_id AS doc, count(*) AS tf FROM ${cp}tok
      |  WHERE w IN ($inList) GROUP BY 1, 2),
      |${p}df AS (SELECT term, count(*) AS df FROM ${p}post GROUP BY 1),
      |${p}sc AS (SELECT p.doc, p.term,
      |  ((CAST(n.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))
      |  * (CAST(p.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |  / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (CAST(d.dl AS DOUBLE) / (CAST(n.sumdl AS DOUBLE) / CAST(n.n AS DOUBLE))))) AS w
      |  FROM ${p}post p JOIN ${p}df f USING (term) JOIN ${cp}dl d ON p.doc = d.doc CROSS JOIN ${cp}n n),
      |${p}piv AS (SELECT doc,
      |  $pivot AS score
      |  FROM ${p}sc GROUP BY doc),
      |${p}top AS (SELECT doc, score FROM ${p}piv ORDER BY score DESC, doc LIMIT $topK),
      |${p}rank AS (SELECT doc, score,
      |  row_number() OVER (ORDER BY score DESC, doc) AS rank FROM ${p}top)""".stripMargin
  }
}
