package graft
package queries

import graft.operators.Similarity
import graft.queries.Shared.{pq, tokCtesOver, bm25CorpusCtesSql, bm25LegCtesSql}
import org.apache.spark.sql.functions._

/** `s_*`: search — BM25, phrase and fuzzy retrieval over documents and
  * nearest-neighbour search over embeddings — with exact DuckDB oracles. */
object SearchQueries {

  /** Brute-force top-5 cosine neighbor ranks for queries vec_id < 10 (the
    * shared oracle for s_knn_brute and the full-recall-verified s_knn_lsh).
    */
  private val knnRankSql: String =
    """WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id nid, embedding nv FROM embeddings),
      |s AS (SELECT qid, nid, list_cosine_similarity(qv, nv) cos FROM q, c WHERE qid <> nid),
      |r AS (SELECT qid, nid, cos,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM s)
      |SELECT qid AS query_id, rn AS rank, nid AS neighbor_id
      |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  /** MMR greedy replay, one chained CTE pick per round: round 1 is the
    * pure-relevance argmax; round i scores every unpicked pool candidate
    * `0.5*rel - 0.5*max(cos to picked)` via a correlated subquery over
    * the union-of-picks CTE. Ties at every argmax break to the lower
    * nid, exactly the operator's contract.
    */
  private def mmrOracleSql(nQueries: Int, poolK: Int, selectK: Int): String = {
    val rounds = (2 to selectK).map { i =>
      s"""c$i AS (
         |  SELECT p.qid, p.nid, p.rel, p.nv,
         |    (SELECT max(list_cosine_similarity(p.nv, s.nv)) FROM u${i - 1} s
         |      WHERE s.qid = p.qid) AS red
         |  FROM pool p
         |  WHERE NOT EXISTS (SELECT 1 FROM u${i - 1} x
         |                    WHERE x.qid = p.qid AND x.nid = p.nid)),
         |p$i AS (SELECT qid, nid, rel, nv, $i AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY 0.5 * rel - 0.5 * red DESC, nid) rn FROM c$i) WHERE rn = 1),
         |u$i AS (SELECT * FROM u${i - 1} UNION ALL SELECT * FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id nid, embedding nv FROM embeddings),
       |s AS (SELECT qid, nid, list_cosine_similarity(qv, nv) rel, nv
       |      FROM q, c WHERE qid <> nid),
       |pool AS (SELECT qid, nid, rel, nv FROM (
       |  SELECT qid, nid, rel, nv,
       |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) rn FROM s)
       |  WHERE rn <= $poolK),
       |u1 AS (SELECT qid, nid, rel, nv, 1 AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) rn
       |  FROM pool) WHERE rn = 1),
       |$rounds
       |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank, nid AS neighbor_id
       |FROM u$selectK ORDER BY 1, 2""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("s_bm25", (s, dir) => {
      import s.implicits._
      // Ranked retrieval over documents: postings filtered to the query
      // terms before any stat, log-free BM25 (InvertedIndex scaladoc)
      // with a fixed-order per-term combine — scores are bit-identical
      // doubles vs the SQL mirror, order pinned by (score desc, doc asc).
      graft.operators.InvertedIndex.bm25TopK(
        s.read.parquet(pq(dir, "documents")), "doc_id", "text",
        terms = Seq("data", "spark", "fast"), k1 = 1.2, b = 0.75, topK = 20)
        .select($"doc".as("doc_id"), $"score", $"rank")
        .orderBy($"rank")
    },
      // same tokenization as t_heavy_hitters; log-free BM25 replayed with
      // the identical IEEE op tree (InvertedIndex scaladoc), fixed-order
      // per-term combine, (score DESC, doc) total order
      s"""WITH ${bm25CorpusCtesSql("b")},
        |${bm25LegCtesSql("b", "b", Seq("data", "spark", "fast"), 20)}
        |SELECT doc AS doc_id, score, CAST(rank AS BIGINT) AS rank
        |FROM brank ORDER BY rank""".stripMargin),
    Query("s_phrase", (s, dir) => {
      import s.implicits._
      // Exact positional phrase search over the real documents text:
      // three phrases exercise the distinct corners — a common bigram, a
      // REPEATED-term bigram ("data data": overlapping occurrences must
      // each count, the same position array checked against itself
      // shifted), and a trigram. Aggregated per phrase to (n_docs,
      // n_occurrences, sum of matching doc_ids) — the id-sum pins the
      // matching doc SET, not just counts. A zero-match phrase still
      // yields its (0, 0, 0) row; the oracle mirrors that via a VALUES
      // left join, so parity does not depend on every phrase occurring.
      val d = s.read.parquet(pq(dir, "documents"))
      val phrases = Seq(
        "data query" -> Seq("data", "query"),
        "data data" -> Seq("data", "data"),
        "data the query" -> Seq("data", "the", "query"))
      // ONE tokenize pass shared by all phrases: postings filtered to the
      // union of their terms, cached (Verify/Bench clear caches per query)
      val post = graft.operators.InvertedIndex
        .positionalPostings(d, "doc_id", "text")
        .filter($"term".isin(phrases.flatMap(_._2).distinct: _*))
        .cache()
      def leg(name: String, ph: Seq[String]) =
        graft.operators.InvertedIndex.phraseCountOver(post, ph)
          .agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum($"n_occurrences"), lit(0L)).as("n_occurrences"),
            coalesce(sum($"doc"), lit(0L)).as("sum_doc_ids"))
          .select(lit(name).as("phrase"), $"n_docs", $"n_occurrences", $"sum_doc_ids")
      phrases.map { case (n, ph) => leg(n, ph) }.reduce(_ union _)
        .orderBy($"phrase")
    },
      // phrase-occurrence replay: consecutive-token n-grams via token-rank
      // self-joins on the SHARED tokenize CTE (overlapping occurrences
      // count separately — gram rows == anchor positions); id-sum over the
      // DISTINCT doc set. VALUES left join keeps a zero-match phrase at
      // (0,0,0), matching the Spark side's always-one-row-per-phrase aggs.
      s"""WITH ${tokCtesOver("documents", "ph")},
        |ph2 AS (SELECT a.doc_id, a.w || ' ' || b.w AS phrase
        |  FROM phtok a JOIN phtok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |ph3 AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS phrase
        |  FROM phtok a JOIN phtok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |               JOIN phtok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |phall AS (
        |  SELECT doc_id, phrase FROM ph2 WHERE phrase IN ('data query', 'data data')
        |  UNION ALL
        |  SELECT doc_id, phrase FROM ph3 WHERE phrase = 'data the query'),
        |phagg AS (SELECT phrase, count(*) AS n_occurrences,
        |    count(DISTINCT doc_id) AS n_docs
        |  FROM phall GROUP BY 1),
        |phids AS (SELECT phrase, sum(doc_id) AS sum_doc_ids
        |  FROM (SELECT DISTINCT phrase, doc_id FROM phall) GROUP BY 1),
        |phq(phrase) AS (VALUES ('data query'), ('data data'), ('data the query'))
        |SELECT q.phrase, CAST(coalesce(p.n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(p.n_occurrences, 0) AS BIGINT) AS n_occurrences,
        |  CAST(coalesce(i.sum_doc_ids, 0) AS BIGINT) AS sum_doc_ids
        |FROM phq q LEFT JOIN phagg p USING (phrase)
        |           LEFT JOIN phids i USING (phrase)
        |ORDER BY phrase""".stripMargin),
    Query("s_near", (s, dir) => {
      import s.implicits._
      // NEAR-operator proximity search: three legs cover the corners —
      // distinct terms within 3 tokens, the REPEATED-term case (ordered
      // pairs, each unordered pair twice), and a term that never occurs
      // (exercises the zero-match (0,0,0) contract end to end: the leg
      // aggregates an empty frame while the oracle VALUES-left-joins).
      val d = s.read.parquet(pq(dir, "documents"))
      val legs = Seq(
        ("data ~3 query", "data", "query", 3),
        ("data ~2 data", "data", "data", 2),
        ("data ~5 zzznever", "data", "zzznever", 5))
      val post = graft.operators.InvertedIndex
        .positionalPostings(d, "doc_id", "text")
        .filter($"term".isin(legs.flatMap(l => Seq(l._2, l._3)).distinct: _*))
        .cache()
      def leg(name: String, t1: String, t2: String, w: Int) =
        graft.operators.InvertedIndex.nearCount(post, t1, t2, w)
          .agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum($"n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(sum($"doc"), lit(0L)).as("sum_doc_ids"))
          .select(lit(name).as("q"), $"n_docs", $"n_pairs", $"sum_doc_ids")
      legs.map { case (n, a, b, w) => leg(n, a, b, w) }.reduce(_ union _)
        .orderBy($"q")
    },
      // NEAR replay: ordered distinct-position pairs within the window via
      // a token-rank self-join on the shared tokenize CTE (rank DIFFERENCES
      // equal 0-based-position differences, shift-invariant); VALUES left
      // join keeps the never-occurring term's leg at (0,0,0) on both sides
      s"""WITH ${tokCtesOver("documents", "nr")},
        |nrp AS (
        |  SELECT 'data ~3 query' AS q, a.doc_id
        |  FROM nrtok a JOIN nrtok b ON a.doc_id = b.doc_id
        |    AND a.w = 'data' AND b.w = 'query'
        |    AND a.i <> b.i AND abs(a.i - b.i) <= 3
        |  UNION ALL
        |  SELECT 'data ~2 data' AS q, a.doc_id
        |  FROM nrtok a JOIN nrtok b ON a.doc_id = b.doc_id
        |    AND a.w = 'data' AND b.w = 'data'
        |    AND a.i <> b.i AND abs(a.i - b.i) <= 2
        |  UNION ALL
        |  SELECT 'data ~5 zzznever' AS q, a.doc_id
        |  FROM nrtok a JOIN nrtok b ON a.doc_id = b.doc_id
        |    AND a.w = 'data' AND b.w = 'zzznever'
        |    AND a.i <> b.i AND abs(a.i - b.i) <= 5),
        |nragg AS (SELECT q, count(*) AS n_pairs, count(DISTINCT doc_id) AS n_docs
        |  FROM nrp GROUP BY 1),
        |nrids AS (SELECT q, sum(doc_id) AS sum_doc_ids
        |  FROM (SELECT DISTINCT q, doc_id FROM nrp) GROUP BY 1),
        |nrq(q) AS (VALUES ('data ~3 query'), ('data ~2 data'), ('data ~5 zzznever'))
        |SELECT v.q, CAST(coalesce(g.n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(g.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(i.sum_doc_ids, 0) AS BIGINT) AS sum_doc_ids
        |FROM nrq v LEFT JOIN nragg g USING (q)
        |           LEFT JOIN nrids i USING (q)
        |ORDER BY q""".stripMargin),
    Query("s_snippets", (s, dir) => {
      import s.implicits._
      // KWIC highlighting: every occurrence of "data" with its ±2-token
      // context window; first 20 rows in (doc_id, pos) order — a unique
      // key, so the LIMIT selects the identical set in both engines —
      // each row carrying corpus-wide occurrence totals so the unshown
      // tail is pinned too.
      val d = s.read.parquet(pq(dir, "documents"))
      val occ = graft.operators.InvertedIndex
        .kwicSnippets(d, "doc_id", "text", "data", ctx = 2).cache()
      val totals = occ.agg(
        count(lit(1)).as("n_occ_total"),
        countDistinct($"doc").as("n_docs_total"))
      occ.orderBy($"doc", $"pos").limit(20)
        .crossJoin(broadcast(totals))
        .select($"doc".as("doc_id"), $"pos", $"snippet",
          $"n_occ_total", $"n_docs_total")
        .orderBy($"doc_id", $"pos")
    },
      // KWIC replay: occurrences from the shared tokenize CTE, window =
      // a token-rank range join re-joined by string_agg in rank order;
      // (doc_id, i) is a unique key so ORDER BY + LIMIT picks the same 20
      s"""WITH ${tokCtesOver("documents", "kw")},
        |kocc AS (SELECT doc_id, i FROM kwtok WHERE w = 'data'),
        |ksnip AS (
        |  SELECT o.doc_id, o.i - 1 AS pos, string_agg(t.w, ' ' ORDER BY t.i) AS snippet
        |  FROM kocc o JOIN kwtok t
        |    ON t.doc_id = o.doc_id AND t.i BETWEEN o.i - 2 AND o.i + 2
        |  GROUP BY o.doc_id, o.i),
        |ktot AS (SELECT count(*) AS n_occ_total, count(DISTINCT doc_id) AS n_docs_total
        |  FROM ksnip)
        |SELECT CAST(s.doc_id AS BIGINT) AS doc_id, CAST(s.pos AS BIGINT) AS pos,
        |  s.snippet, CAST(t.n_occ_total AS BIGINT) AS n_occ_total,
        |  CAST(t.n_docs_total AS BIGINT) AS n_docs_total
        |FROM ksnip s CROSS JOIN ktot t
        |ORDER BY doc_id, pos LIMIT 20""".stripMargin),
    Query("s_related_docs", (s, dir) => {
      import s.implicits._
      // Content-based related documents over synthesized tag vocabularies
      // (tag/grp/cat tokens by doc_id arithmetic — the real corpus's 31
      // near-universal words all exceed any useful df gate, which would
      // make the query vacuously empty): integer tf-idf inner product,
      // df-gated at 120 (at sf0.1 only the 100-doc tag classes qualify;
      // at sf0.01 all three families do — both regimes non-vacuous),
      // per-doc top-3 via the bounded aggregator. First 10 docs' ranked
      // neighbors + the global row count as a constant column.
      val d = s.read.parquet(pq(dir, "documents"))
      val tagged = d.select($"doc_id", concat(
        lit("tag"), ($"doc_id" % 50).cast("string"),
        lit(" grp"), ($"doc_id" % 20).cast("string"),
        lit(" cat"), ($"doc_id" % 7).cast("string")).as("text"))
      val rel = graft.operators.InvertedIndex
        .relatedDocs(tagged, "doc_id", "text", maxDf = 120, topK = 3).cache()
      rel.filter($"doc" < 10)
        .crossJoin(broadcast(rel.agg(count(lit(1)).as("n_rows_total"))))
        .select($"doc", $"rank", $"other", $"score", $"n_rows_total")
        .orderBy($"doc", $"rank")
    },
      // related-docs replay: synthesized tag postings, df gate, integer
      // tf-idf weights, shared-term pair join, per-doc row_number top-3
      """WITH rdd AS (SELECT doc_id AS doc FROM documents),
        |rdp AS (
        |  SELECT 'tag' || CAST(doc % 50 AS VARCHAR) AS term, doc FROM rdd
        |  UNION ALL SELECT 'grp' || CAST(doc % 20 AS VARCHAR), doc FROM rdd
        |  UNION ALL SELECT 'cat' || CAST(doc % 7 AS VARCHAR), doc FROM rdd),
        |rdf AS (SELECT term, count(DISTINCT doc) AS df FROM rdp GROUP BY 1
        |  HAVING count(DISTINCT doc) BETWEEN 2 AND 120),
        |rdn AS (SELECT count(*) AS n FROM rdd),
        |rdw AS (SELECT p.term, p.doc,
        |    p.tf * (((SELECT n FROM rdn) * 1000) // f.df) AS w
        |  FROM (SELECT term, doc, count(*) AS tf FROM rdp GROUP BY 1, 2) p
        |  JOIN rdf f USING (term)),
        |rdpair AS (SELECT x.doc AS a, y.doc AS b, sum(x.w * y.w) AS dot
        |  FROM rdw x JOIN rdw y ON x.term = y.term AND x.doc < y.doc
        |  GROUP BY 1, 2),
        |rsym AS (SELECT a AS doc, b AS other, dot FROM rdpair
        |  UNION ALL SELECT b, a, dot FROM rdpair),
        |rrk AS (SELECT doc, other, dot,
        |    row_number() OVER (PARTITION BY doc ORDER BY dot DESC, other) AS rank
        |  FROM rsym),
        |rtot AS (SELECT count(*) AS n FROM rrk WHERE rank <= 3)
        |SELECT CAST(doc AS BIGINT) AS doc, CAST(rank AS BIGINT) AS rank,
        |  CAST(other AS BIGINT) AS other, CAST(dot AS BIGINT) AS score,
        |  (SELECT CAST(n AS BIGINT) FROM rtot) AS n_rows_total
        |FROM rrk WHERE rank <= 3 AND doc < 10
        |ORDER BY doc, rank""".stripMargin),
    Query("s_index_merge", (s, dir) => {
      import s.implicits._
      // LSM segment merge: base = postings of the full corpus, delta =
      // re-crawled docs (doc_id % 7 == 0, text updated), tombstones =
      // doc_id % 13 == 0. The merged index must equal a full rebuild
      // from the merged corpus state — stale base postings for updated
      // docs are the failure mode this pins (base rows for %7 docs
      // carry the OLD text). Output: top-20 terms by (df DESC, term)
      // with corpus-wide postings totals as constant columns.
      val d = s.read.parquet(pq(dir, "documents"))
      val base = graft.operators.InvertedIndex.postings(d, "doc_id", "text")
      val recrawled = d.filter($"doc_id" % 7 === 0)
      val delta = graft.operators.InvertedIndex.postings(
        recrawled.withColumn("text", concat($"text", lit(" updated"))),
        "doc_id", "text")
      val tombs = d.filter($"doc_id" % 13 === 0).select($"doc_id".as("doc"))
      val merged = graft.operators.InvertedIndex
        .mergeSegments(base, delta, recrawled.select($"doc_id".as("doc")), tombs).cache()
      val totals = merged.agg(
        count(lit(1)).as("n_postings_total"),
        countDistinct($"doc").as("n_docs_total"),
        sum($"tf").as("sum_tf_total"))
      merged.groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").as("tf_total"))
        .orderBy($"df".desc, $"term").limit(20)
        .crossJoin(broadcast(totals))
        .orderBy($"df".desc, $"term")
    },
      // segment-merge replay: the oracle REBUILDS postings from the merged
      // corpus state (base survivors + updated delta survivors, tombstones
      // gone) — equivalence-to-rebuild IS the merge contract
      s"""WITH mdocs AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || ' updated' FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0),
        |${tokCtesOver("mdocs", "mg")},
        |mpost AS (SELECT w AS term, doc_id AS doc, count(*) AS tf
        |  FROM mgtok GROUP BY 1, 2),
        |mtot AS (SELECT count(*) AS n_postings_total,
        |  count(DISTINCT doc) AS n_docs_total, sum(tf) AS sum_tf_total FROM mpost),
        |mterms AS (SELECT term, count(*) AS df, sum(tf) AS tf_total
        |  FROM mpost GROUP BY 1 ORDER BY df DESC, term LIMIT 20)
        |SELECT t.term, CAST(t.df AS BIGINT) AS df, CAST(t.tf_total AS BIGINT) AS tf_total,
        |  CAST(m.n_postings_total AS BIGINT) AS n_postings_total,
        |  CAST(m.n_docs_total AS BIGINT) AS n_docs_total,
        |  CAST(m.sum_tf_total AS BIGINT) AS sum_tf_total
        |FROM mterms t CROSS JOIN mtot m
        |ORDER BY df DESC, term""".stripMargin),
    Query("s_knn_brute", (s, dir) => {
      import s.implicits._
      val embs = s.read.parquet(pq(dir, "embeddings"))
        .select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])]
      val queries = embs.filter($"vec_id" < 10).collect()
      // ranks (not raw cosine) are oracle-checked: DuckDB's
      // list_cosine_similarity accumulates in float32, so the 6th decimal
      // can differ while the ordering agrees
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id")
        .orderBy($"cosine".desc, $"neighbor_id")
      Similarity
        .knnBrute(embs, queries, k = 5)
        .toDF("query_id", "neighbor_id", "cosine")
        .withColumn("rank", row_number().over(w))
        .select($"query_id", $"rank", $"neighbor_id")
        .orderBy($"query_id", $"rank")
    }, knnRankSql),
    Query("s_kmeans", (s, dir) => {
      import s.implicits._
      // embedding clustering: two integer-grid Lloyd rounds (quantize to
      // the floor(100x) grid, exact integer argmin assignment, floorDiv
      // recentering) from the k=8 smallest-id init. Bit-for-bit
      // deterministic, so the DuckDB mirror replays every round exactly —
      // per-cluster size, id-sum, and exact integer inertia pin both the
      // final assignment and the distances.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      graft.operators.KMeans
        .lloydIntGrid(embs, "vec_id", "embedding", k = 8, iters = 2)
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_points"), sum($"vec_id").as("id_sum"),
          sum($"sq_dist").as("inertia"))
        .orderBy($"cluster")
    },
      // integer-grid Lloyd replay: every step is exact integer arithmetic
      // (floor(100x) quantization, integer argmin with ties to the lowest
      // label, floorDiv recentering via the pmod identity), so the mirror
      // reproduces assignments, centroids, and inertia bit-for-bit.
      // MATERIALIZED is load-bearing: each CTE is referenced repeatedly and
      // inlining would re-expand the round chain exponentially.
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cl, r.i AS i, q[r.i] AS v
        |  FROM q, range(1, 65) r(i) WHERE vec_id < 8),
        |d1 AS MATERIALIZED (
        |  SELECT p.vec_id, c.cl,
        |    sum((p.q[c.i] - c.v) * (p.q[c.i] - c.v)) AS d
        |  FROM q p, c0 c GROUP BY 1, 2),
        |a1 AS MATERIALIZED (
        |  SELECT vec_id, cl FROM (
        |    SELECT vec_id, cl,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
        |    FROM d1) WHERE rn = 1),
        |n1 AS MATERIALIZED (SELECT cl, count(*) AS n FROM a1 GROUP BY 1),
        |s1 AS MATERIALIZED (
        |  SELECT a.cl, r.i AS i, sum(p.q[r.i]) AS s
        |  FROM q p JOIN a1 a ON p.vec_id = a.vec_id
        |  CROSS JOIN range(1, 65) r(i)
        |  GROUP BY 1, 2),
        |c1 AS MATERIALIZED (
        |  SELECT s.cl, s.i,
        |    (s.s - (((s.s % n.n) + n.n) % n.n)) // n.n AS v
        |  FROM s1 s JOIN n1 n USING (cl)),
        |d2 AS MATERIALIZED (
        |  SELECT p.vec_id, c.cl,
        |    sum((p.q[c.i] - c.v) * (p.q[c.i] - c.v)) AS d
        |  FROM q p, c1 c GROUP BY 1, 2),
        |a2 AS MATERIALIZED (
        |  SELECT vec_id, cl, d FROM (
        |    SELECT vec_id, cl, d,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
        |    FROM d2) WHERE rn = 1)
        |SELECT cl AS cluster, CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |  CAST(sum(d) AS BIGINT) AS inertia
        |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("s_hybrid_rrf", (s, dir) => {
      import s.implicits._
      // Hybrid retrieval: a BM25 lexical leg and a dense cosine leg over
      // the aligned documents/embeddings id space, fused by Reciprocal
      // Rank Fusion (Cormack 2009). The fused score is pure arithmetic
      // on RANK integers (1/(60+rank), sparse added before dense), so it
      // is bit-deterministic across engines even though the legs' raw
      // scores live on different scales — the oracle recomputes both
      // legs (the bm25 CTE authority shared with s_bm25; knn rank CTEs
      // in s_knn_brute's shape) and the same fixed-order sum. Fusion
      // inputs are already-reduced top-10 lists, so the fuse joins are
      // broadcast-tiny; the heavy lifting stays inside the legs.
      val docs = s.read.parquet(pq(dir, "documents"))
      val embs = s.read.parquet(pq(dir, "embeddings"))
        .select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])]
      val termSets = Seq(
        0L -> Seq("data", "query"),
        1L -> Seq("spark", "fast"),
        2L -> Seq("data", "fast"))
      // ONE postings/doc-length build serves all three legs: the frames
      // are the SAME subtree across legs (postings filtered to the UNION
      // of the query sets), so the engine's exchange reuse materializes
      // each shuffle once; each leg re-filters to its own terms and
      // computes its own df inside bm25TopKOver — bit-identical to three
      // independent bm25TopK calls, minus the repeated corpus passes
      val unionTerms = termSets.flatMap(_._2).distinct
      val post = graft.operators.InvertedIndex.postings(docs, "doc_id", "text")
        .filter($"term".isin(unionTerms: _*))
      val dls = graft.operators.InvertedIndex.docLens(docs, "doc_id", "text")
      val corpus = dls.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
      val sparse = termSets.map { case (qid, ts) =>
        graft.operators.InvertedIndex
          .bm25TopKOver(post, dls, corpus, ts, topK = 10)
          .select(lit(qid).as("qid"), $"doc", $"rank")
      }.reduce(_ unionByName _)
      val qs = embs.filter($"vec_id" < 3).collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id")
        .orderBy($"cosine".desc, $"neighbor_id")
      val dense = Similarity
        .knnBrute(embs, qs, k = 10)
        .toDF("query_id", "neighbor_id", "cosine")
        .withColumn("rank", row_number().over(w).cast("long"))
        .select($"query_id".as("qid"), $"neighbor_id".as("doc"), $"rank")
      graft.operators.Fusion
        .rrfFuse(Seq(sparse, dense), kk = 60, topK = 10)
        .select($"qid".as("query_id"), $"rank", $"doc".as("doc_id"),
          $"rrf".as("rrf_score"))
        .orderBy($"query_id", $"rank")
    }, {
      // hybrid RRF replay: the SAME bm25 leg authority per term set + the
      // knn rank CTEs, fused by the identical fixed-order 1/(60+rank) sum
      // (sparse contribution added before dense — float order is part of
      // the contract); (rrf desc, doc asc) final ranks
      val legs = Seq(
        0 -> Seq("data", "query"),
        1 -> Seq("spark", "fast"),
        2 -> Seq("data", "fast"))
      val legCtes = legs
        .map { case (q, ts) => bm25LegCtesSql(s"h$q", "hb", ts, 10) }
        .mkString(",\n")
      val sparseUnion = legs
        .map { case (q, _) => s"SELECT $q AS qid, doc, rank FROM h${q}rank" }
        .mkString("\n  UNION ALL ")
      s"""WITH ${bm25CorpusCtesSql("hb")},
        |$legCtes,
        |hq AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 3),
        |hc AS (SELECT vec_id nid, embedding nv FROM embeddings),
        |hs AS (SELECT qid, nid, list_cosine_similarity(qv, nv) cos FROM hq, hc WHERE qid <> nid),
        |hr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM hs),
        |hsparse AS (
        |  $sparseUnion),
        |hdense AS (SELECT qid, nid AS doc, rn AS rank FROM hr WHERE rn <= 10),
        |hall AS (
        |  SELECT qid, doc, CAST(1.0 AS DOUBLE) / (60 + rank) AS c, 0 AS leg FROM hsparse
        |  UNION ALL
        |  SELECT qid, doc, CAST(1.0 AS DOUBLE) / (60 + rank) AS c, 1 AS leg FROM hdense),
        |hf AS (SELECT qid, doc,
        |    coalesce(max(CASE WHEN leg = 0 THEN c END), 0.0)
        |    + coalesce(max(CASE WHEN leg = 1 THEN c END), 0.0) AS rrf
        |  FROM hall GROUP BY 1, 2),
        |hrank AS (SELECT qid, doc, rrf,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc) AS rank
        |  FROM hf)
        |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank, doc AS doc_id,
        |  rrf AS rrf_score
        |FROM hrank WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    }),
    Query("s_wand", (s, dir) => {
      import s.implicits._
      // WAND/MaxScore-style EXACT top-k: per-term upper bound
      // idf*(k1+1) prunes the scoring join to provably-competitive
      // candidates (threshold = k-th exact score of the top-k docs by
      // upper-bound sum, broadcast as one row — never a driver collect).
      // The oracle is the PLAIN exact BM25 top-k SQL: pruning must be
      // invisible in the result, bit-identical scores included. Terms
      // span common and rarer vocabulary so the upper bounds differ.
      graft.operators.InvertedIndex.wandTopK(
        s.read.parquet(pq(dir, "documents")), "doc_id", "text",
        terms = Seq("merge", "vector", "slow", "window"), k1 = 1.2, b = 0.75, topK = 15)
        .select($"doc".as("doc_id"), $"score", $"rank")
        .orderBy($"rank")
    },
      // WAND replay: the oracle is the PLAIN exact BM25 top-k — the
      // operator's upper-bound pruning must be invisible in the result
      s"""WITH ${bm25CorpusCtesSql("wd")},
        |${bm25LegCtesSql("wd", "wd", Seq("merge", "vector", "slow", "window"), 15)}
        |SELECT doc AS doc_id, score, CAST(rank AS BIGINT) AS rank
        |FROM wdrank ORDER BY rank""".stripMargin),
    Query("s_fuzzy", (s, dir) => {
      import s.implicits._
      // Fuzzy (edit-distance <= 1) term search: each query term expands
      // against the VOCABULARY (distinct-term set — bounded by token
      // types, not corpus size) via codegen'd levenshtein, and the tiny
      // match set broadcast-joins back to the postings. Query corners:
      // a single-expansion misspelling ('dada' -> data), a MULTI-
      // expansion one ('sart' -> part AND sort), a transposed one
      // ('spak' -> spark), and a never-matching term whose (0,0,0,0)
      // row survives via the literal left join — mirrored by a VALUES
      // left join in the oracle. sum(DISTINCT doc) pins the matched
      // doc SET per query term.
      val d = s.read.parquet(pq(dir, "documents"))
      val qterms = Seq("dada", "sart", "spak", "zzzzz")
      val post = graft.operators.InvertedIndex.postings(d, "doc_id", "text")
      val agg = graft.operators.InvertedIndex
        .fuzzySearch(post, qterms, maxDist = 1)
        .groupBy($"qterm")
        .agg(
          countDistinct($"term").as("m_terms"),
          countDistinct($"doc").as("m_docs"),
          sum($"tf").as("m_occ"),
          sum_distinct($"doc").as("m_ids"))
      qterms.toDF("qterm")
        .join(agg, Seq("qterm"), "left")
        .select($"qterm",
          coalesce($"m_terms", lit(0L)).as("n_terms"),
          coalesce($"m_docs", lit(0L)).as("n_docs"),
          coalesce($"m_occ", lit(0L)).as("n_occurrences"),
          coalesce($"m_ids", lit(0L)).as("sum_doc_ids"))
        .orderBy($"qterm")
    },
      // fuzzy replay: the same vocabulary expansion via DuckDB's built-in
      // levenshtein (identical unit-cost edit semantics), VALUES left join
      // for the zero-match leg
      raw"""WITH fztok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |fztok AS (SELECT doc_id, w FROM fztok0 WHERE w <> ''),
        |fzpost AS (SELECT w AS term, doc_id AS doc, count(*) AS tf FROM fztok GROUP BY 1, 2),
        |fzq(qterm) AS (VALUES ('dada'), ('sart'), ('spak'), ('zzzzz')),
        |fzm AS (SELECT q.qterm, v.term FROM fzq q, (SELECT DISTINCT term FROM fzpost) v
        |        WHERE levenshtein(q.qterm, v.term) <= 1),
        |fzj AS (SELECT m.qterm, m.term, p.doc, p.tf FROM fzm m JOIN fzpost p USING (term)),
        |fza AS (SELECT qterm, count(DISTINCT term) AS n_terms, count(DISTINCT doc) AS n_docs,
        |        sum(tf) AS n_occurrences, sum(DISTINCT doc) AS sum_doc_ids FROM fzj GROUP BY 1)
        |SELECT q.qterm, CAST(coalesce(a.n_terms, 0) AS BIGINT) AS n_terms,
        |  CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(a.n_occurrences, 0) AS BIGINT) AS n_occurrences,
        |  CAST(coalesce(a.sum_doc_ids, 0) AS BIGINT) AS sum_doc_ids
        |FROM fzq q LEFT JOIN fza a USING (qterm) ORDER BY qterm""".stripMargin),
    Query("s_mmr", (s, dir) => {
      import s.implicits._
      // MMR diversified retrieval over the same fixture: the embeddings
      // table plants near-duplicate families (d_embed_neardup_prod), so
      // a pure top-k hands back family members back-to-back; the
      // redundancy term forces one representative per family. Rank-level
      // oracle like the knn trio (DuckDB accumulates cosine in float32);
      // the spec asserts the MMR sequence actually diverges from pure
      // relevance order on this fixture (de-vacuity).
      val embs = s.read.parquet(pq(dir, "embeddings"))
        .select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])]
      val queries = embs.filter($"vec_id" < 5).collect()
      Similarity.mmrSelect(embs, queries, poolK = 20, selectK = 5)
    }, mmrOracleSql(nQueries = 5, poolK = 20, selectK = 5)),
    Query("s_knn_lsh", (s, dir) => {
      import s.implicits._
      // multi-probe + 64 OR-tables: measured 100% top-5 recall vs knnBrute
      // for these 10 queries at BOTH sf0.001 and sf0.01 (32 tables missed 1
      // neighbor at sf0.001), so the brute-force rank oracle applies to the
      // LSH path too. Ranks, not raw cosines, are compared (float32 vs
      // float64 accumulation).
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.filter($"vec_id" < 10)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      Similarity
        .knnLsh(embs, "vec_id", "embedding", queries, k = 5, nBits = 8, tables = 64)
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    },
      // knnLsh at nBits=8 x 64 tables has measured 100% recall for these 10
      // queries at BOTH verify scales (32 tables missed one neighbor at
      // sf0.001), so the brute-force rank oracle applies verbatim
      knnRankSql),
    Query("s_knn_ivf", (s, dir) => {
      import s.implicits._
      // IVF scale path. Oracle config probes ALL cells (nProbe = nCells), so
      // the brute-force rank oracle checks the full machinery — k-means
      // assignment loses no vector, the probe join and top-k are exact.
      // Production pruning (nProbe << nCells) is quantified in OperatorSpecs
      // instead (recall >= 0.8 at 16/4 on these embeddings): this corpus has
      // no close neighbors (max cosine ~0.5), so NO sublinear ANN can reach
      // 100% recall here, and pretending otherwise would be a fake oracle.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.filter($"vec_id" < 10)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      // countHint: the testdata embeddings table is <= 5000 rows at every
      // sf, and any hint <= maxSample/2 keeps the sample modulus at 1
      // (sample = full table) — skips the sizing count() pass; a real
      // deployment passes the manifest row count the same way
      Similarity
        .knnIvf(embs, "vec_id", "embedding", queries, k = 5, nCells = 16, nProbe = 16,
          countHint = Some(5000L))
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    },
      // knnIvf probes all cells in the oracle config (see the query comment)
      knnRankSql),
    Query("s_knn_sq8", (s, dir) => {
      import s.implicits._
      // int8 scalar-quantized ANN (4x index memory reduction) with exact
      // float rerank of the overfetched candidates. Measured 100% top-5
      // parity with knnBrute at sf0.001/0.01/0.1 (overfetch 4), so the
      // shared brute-force rank oracle applies; ranks, not raw cosines,
      // are compared (float32 vs float64 accumulation).
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])].filter(_._1 < 10).collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      Similarity
        .knnSq8(embs, "vec_id", "embedding", queries, k = 5, overfetch = 4)
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    },
      // quantized scan + exact rerank reaches full top-5 parity with the
      // brute path on these embeddings (see the query comment), so the
      // shared brute-force rank oracle applies verbatim
      knnRankSql),
    Query("s_knn_pq", (s, dir) => {
      import s.implicits._
      // product-quantization ANN (16x index shrink at dim=64, m=16) with
      // exact float rerank of the ADC-overfetched candidates. Measured
      // 100% top-5 parity with knnBrute at sf0.001/0.01/0.1 at
      // m=16/overfetch=16 — m=8 and overfetch=8 each lost tail neighbors
      // at sf0.1 (the planted near-dup families crowd the ADC margin), so
      // the finer codebooks carry the verified config. Shared brute-force
      // rank oracle; ranks, not raw cosines, compared (ADC is table
      // arithmetic, not cosine).
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])].filter(_._1 < 10).collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      Similarity
        .knnPq(embs, "vec_id", "embedding", queries, k = 5, m = 16, overfetch = 16,
          countHint = Some(5000L))
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    },
      // knnPq at m=8/overfetch=8 has measured 100% top-5 parity with brute
      // at all three verify scales — the shared rank oracle applies
      knnRankSql),
    Query("s_knn_bq", (s, dir) => {
      import s.implicits._
      // binary-sketch ANN — the bit-index tier: 512 hyperplane sign bits
      // per vector (64 B vs 256 B float here; the sketch width is a knob
      // INDEPENDENT of dim, so at production dim=768 the same 64 B is
      // 48x below float32), scanned with asymmetric projection scoring
      // (index stores bits, the query keeps float projections), exact
      // float rerank of the overfetched candidates. nBits=512/of=16
      // carries the verified config — measured 100% top-5 parity with
      // knnBrute at sf0.001/0.01/0.1 (raw dim-bit signs and symmetric
      // hamming both measured unable to reach parity; see scaladoc).
      // Shared brute-force rank oracle; ranks, not raw cosines, compared.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])].filter(_._1 < 10).collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      Similarity
        .knnBq(embs, "vec_id", "embedding", queries, k = 5, overfetch = 16)
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    }, knnRankSql),
  )
}
