package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.functions.TextStats

/** Inverted-index construction and BM25-style ranked retrieval — the
  * search tier of a web corpus pipeline (quality-term lookups, corpus
  * slicing by keyword, eval-query retrieval). The reference greps single
  * extracted files; this is the distributed design.
  *
  * Scale shape:
  *   - `postings` is one tokenize pass (map-only UDF) + one shuffle on
  *     (term, doc) — the standard index build. Document lengths are a
  *     map-only projection, never a shuffle.
  *   - `bm25TopK` filters the postings to the QUERY terms before any
  *     stat is computed — df/idf are exact because document frequency is
  *     per-term and filtering by term drops no occurrences of the terms
  *     that survive. The candidate set (docs containing ≥1 query term)
  *     is the only thing scored; corpus size and total length travel as
  *     a 1-row broadcast. Top-k goes through orderBy+limit, which Spark
  *     plans as TakeOrderedAndProject (per-partition heaps, no global
  *     sort).
  *
  * Engine-exact scoring: the classic BM25 idf is ln((N-df+0.5)/(df+0.5));
  * `ln` is not guaranteed bit-identical across math libraries, so the
  * oracle-checked score uses the RATIO itself as the term weight
  * (log-free BM25 — a strictly monotone transform of the classic idf,
  * identical ranking for single-term queries; for multi-term queries it
  * weighs rare terms more aggressively, documented deviation). Every
  * remaining operation is IEEE +,-,*,/ evaluated in a fixed
  * left-to-right tree that the DuckDB mirror replays, so scores are
  * bit-identical doubles, not approximately-equal floats. Per-doc term
  * contributions are combined via a FIXED-ORDER pivot (one column per
  * query term, added left to right), never a float sum() whose reduce
  * order could vary.
  */
object InvertedIndex {

  private def tokUdf = TextStats.lowerTokensUdf

  /** (term, doc, tf) postings from a document table. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(F.col(idCol).as("doc"), F.explode(tokUdf(F.col(textCol))).as("term"))
      .groupBy("term", "doc").agg(F.count(F.lit(1)).as("tf"))

  /** (doc, dl) document lengths in tokens; zero-token docs keep a row. */
  def docLens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(F.col(idCol).as("doc"), F.size(tokUdf(F.col(textCol))).cast("long").as("dl"))

  /** (doc, term, pos) positional postings — the index layout phrase and
    * proximity queries need. `pos` is the 0-based token index. Map-only
    * (tokenize + posexplode); the build's only shuffle is whatever the
    * consumer groups by.
    */
  def positionalPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(F.col(idCol).as("doc"), F.posexplode(tokUdf(F.col(textCol))))
      .select(F.col("doc"), F.col("col").as("term"), F.col("pos").cast("long").as("pos"))

  /** Exact phrase-occurrence counts: (doc, n_occurrences) for every
    * document containing the consecutive token sequence `phrase` at least
    * once. Overlapping occurrences count separately ("data data data"
    * holds TWO occurrences of "data data"), and repeated phrase terms are
    * supported — each phrase slot collects its own position array, so
    * "data data" checks the same array against itself shifted by one.
    *
    * Terms are lowercased and must each be a single token of the index
    * tokenizer — a multi-word or non-token "term" can never match any
    * posting, so it is rejected loudly instead of returning a silent
    * empty result.
    *
    * Scale shape: postings are filtered to the phrase's terms BEFORE the
    * shuffle (a k-term phrase moves only k terms' occurrence rows, not
    * the corpus), then ONE groupBy(doc) builds every slot's position
    * array via per-slot conditional collect_list (arrays bounded by
    * document length, never by corpus size; order irrelevant — only
    * membership and size are consumed). The occurrence test is a per-row
    * codegen'd higher-order function — anchor positions of the first
    * term filtered by array_contains on each following slot at the right
    * offset. No join explosion, no window over the corpus.
    */
  def phraseCount(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String]): DataFrame =
    phraseCountOver(positionalPostings(docs, idCol, textCol), phrase)

  /** `phraseCount` over prebuilt positional postings — lets several
    * phrase queries share (and cache) one tokenize pass.
    */
  def phraseCountOver(post: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2 && phrase.size <= 8, s"2..8 phrase terms, got ${phrase.size}")
    val norm = phrase.map(_.toLowerCase)
    norm.foreach { t =>
      require(TextStats.tokens(t).sameElements(Array(t)),
        s"phrase term must be a single token of the index tokenizer: '$t'")
    }
    val filtered = post.filter(F.col("term").isin(norm.distinct: _*))
    val slotAggs = norm.zipWithIndex.map { case (t, i) =>
      F.collect_list(F.when(F.col("term") === t, F.col("pos"))).as(s"ps_$i")
    }
    val slots = filtered.groupBy("doc").agg(slotAggs.head, slotAggs.tail: _*)
      // a doc missing ANY phrase term cannot match
      .filter(norm.indices.map(i => F.size(F.col(s"ps_$i")) > 0).reduce(_ && _))
    val checks = (1 until norm.size)
      .map(i => s"array_contains(ps_$i, a + ${i}L)").mkString(" AND ")
    slots
      .select(F.col("doc"),
        F.expr(s"size(filter(ps_0, a -> $checks))").cast("long").as("n_occurrences"))
      .filter(F.col("n_occurrences") > 0)
  }

  /** NEAR-operator proximity counts: (doc, n_pairs) for every document
    * where `t1` and `t2` co-occur within `window` tokens — n_pairs is
    * the exact number of ORDERED position pairs (a from t1, b from t2,
    * a ≠ b, |a - b| ≤ window). With t1 == t2 the slots share one
    * position list and each unordered pair counts twice, a documented
    * consequence of the ordered-pair definition (a ≠ b keeps a position
    * from pairing with itself). Terms normalize exactly like
    * `phraseCountOver`.
    *
    * Scale shape: identical to `phraseCountOver` — postings filtered to
    * the two terms before the single groupBy(doc) shuffle, per-slot
    * conditional collect_list bounded by document length, and the pair
    * count is a per-row higher-order aggregate over the two arrays
    * (O(|ps_0|·|ps_1|) per doc, both ≤ term frequency, never corpus-
    * sized). No join explosion.
    */
  def nearCount(post: DataFrame, t1: String, t2: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val norm = Seq(t1, t2).map(_.toLowerCase)
    norm.foreach { t =>
      require(TextStats.tokens(t).sameElements(Array(t)),
        s"near term must be a single token of the index tokenizer: '$t'")
    }
    val filtered = post.filter(F.col("term").isin(norm.distinct: _*))
    val slots = filtered.groupBy("doc").agg(
        F.collect_list(F.when(F.col("term") === norm(0), F.col("pos"))).as("ps_0"),
        F.collect_list(F.when(F.col("term") === norm(1), F.col("pos"))).as("ps_1"))
      .filter(F.size(F.col("ps_0")) > 0 && F.size(F.col("ps_1")) > 0)
    slots.select(F.col("doc"),
        F.expr(s"aggregate(ps_0, CAST(0 AS BIGINT), (acc, a) -> acc + " +
          s"size(filter(ps_1, b -> b != a AND abs(b - a) <= ${window}L)))")
          .as("n_pairs"))
      .filter(F.col("n_pairs") > 0)
  }

  /** Incremental index maintenance — the LSM-style segment merge a
    * continuously-crawled corpus needs: `base` is the last full postings
    * segment, `delta` the postings of the re-crawl, `recrawledDocs` the
    * ids the re-crawl COVERED (an explicit set, not derived from delta
    * rows: a document re-crawled to an empty page has zero delta
    * postings but its stale base rows must still be dropped), and
    * `tombstones` the deleted document ids. The merged view is defined
    * document-wise:
    *
    *   - a doc in `recrawledDocs` is represented ONLY by its delta
    *     postings (update = whole-document replace; an empty re-crawl
    *     deletes its terms)
    *   - a doc in `tombstones` is absent entirely (delete wins over
    *     update — a doc both re-crawled and then deleted stays gone)
    *   - every other base doc passes through unchanged
    *
    * Scale shape: two anti-joins on doc id (re-crawl and tombstone sets
    * are both small next to the base segment — broadcast; route through
    * the bucketed layout via [[graft.sources.Bucketing]] when they are
    * not) plus a union — no postings-wide shuffle at all, so a merge
    * touches the base segment once, map-side. Equivalence contract
    * (oracle-checked): the merge equals rebuilding the index from the
    * merged corpus state.
    */
  def mergeSegments(base: DataFrame, delta: DataFrame, recrawledDocs: DataFrame,
                    tombstones: DataFrame): DataFrame = {
    val covered = recrawledDocs.select("doc").distinct()
    val tombs = tombstones.select("doc").distinct()
    val deadForBase = covered.union(tombs).distinct()
    base.join(deadForBase, Seq("doc"), "left_anti")
      .unionByName(delta.join(tombs, Seq("doc"), "left_anti"))
  }

  /** KWIC (keyword-in-context) snippets — the search-result-highlighting
    * op: one row per occurrence of `term`, carrying the 0-based token
    * position and the ±`ctx`-token window re-joined by single spaces
    * (clamped at document edges). Term normalization and the
    * single-token requirement match `phraseCountOver`.
    *
    * Scale shape: map-only — tokenize once, positions and window slices
    * are per-row array ops (codegen'd higher-order functions, no UDF
    * beyond the shared tokenizer), no shuffle at all; output volume is
    * bounded by term frequency, not corpus size. The term is compared as
    * a Column literal, never interpolated into SQL text.
    */
  def kwicSnippets(docs: DataFrame, idCol: String, textCol: String, term: String, ctx: Int): DataFrame = {
    require(ctx >= 0, s"ctx must be >= 0, got $ctx")
    val t = term.toLowerCase
    require(TextStats.tokens(t).sameElements(Array(t)),
      s"kwic term must be a single token of the index tokenizer: '$t'")
    val start0 = F.greatest(F.col("pos") - ctx, F.lit(0))
    docs.select(F.col(idCol).as("doc"), tokUdf(F.col(textCol)).as("l"))
      .select(F.col("doc"), F.col("l"),
        F.explode(F.filter(
          F.transform(F.col("l"), (w, i) => F.when(w === F.lit(t), i).otherwise(F.lit(-1))),
          x => x >= 0)).as("pos"))
      .select(F.col("doc"), F.col("pos").cast("long").as("pos"),
        F.array_join(
          F.slice(F.col("l"), start0 + 1, F.col("pos") + ctx + 1 - start0), " ").as("snippet"))
  }

  /** Content-based related documents — the doc-to-doc counterpart of
    * ranked retrieval: each document's top-k neighbors under an
    * INTEGER tf-idf inner product over the shared-term sparse vectors.
    * Term weight = tf · ((N · scale) div df) — all integer, so scores
    * are deterministic BIGINTs (the float cosine's partition-order sum
    * problem never arises) and the SQL mirror is bit-exact. Documented
    * deviation from cosine: scores are unnormalized inner products
    * (length normalization needs square roots); ranking favors longer
    * documents accordingly, ties broken by neighbor id.
    *
    * Scale shape: the pair join runs over postings filtered to terms
    * with 2 <= df <= maxDf — the stopword appearing in every document
    * would pair everything with everything (quadratic, no signal), the
    * same hot-key guard as n-gram maxDf and the co-citation cap, and
    * part of the operator's defined semantics. Pair volume is bounded
    * by maxDf · Σdf; per-doc top-k goes through the bounded mergeable
    * aggregator, never a window over a hot document.
    *
    * Overflow bound (the HllSketch-style documented limit): the largest
    * weight is tf_max · (N · scale) div 2, and a pair score sums
    * products of two weights over the shared terms, so callers keep
    * nShared · (tf_max · N · scale / 2)² under 2^63 — with the default
    * scale=1000 that means corpora to ~10^6 docs; larger corpora lower
    * `scale` (1 is fine beyond 10^9 docs: idf resolution degrades only
    * for df within scale× of N, which maxDf already excludes). ANSI
    * mode makes a violation loud rather than a silent wraparound.
    */
  def relatedDocs(docs: DataFrame, idCol: String, textCol: String,
                  maxDf: Long, topK: Int, scale: Long = 1000L): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val post = postings(docs, idCol, textCol)
    val df = post.groupBy("term").agg(F.count(F.lit(1)).as("df"))
      .filter(F.col("df") >= 2 && F.col("df") <= maxDf)
    val n = docs.select(F.col(idCol)).agg(F.count(F.lit(1)).as("n_docs"))
    val w = post.join(df, "term").crossJoin(F.broadcast(n))
      .select(F.col("term"), F.col("doc"),
        (F.col("tf") * F.expr(s"(n_docs * ${scale}L) div df")).as("w"))
    val pairs = w.select(F.col("term"), F.col("doc").as("a"), F.col("w").as("wa"))
      .join(w.select(F.col("term"), F.col("doc").as("b"), F.col("w").as("wb")), "term")
      .filter(F.col("a") < F.col("b"))
      .groupBy("a", "b").agg(F.sum(F.col("wa") * F.col("wb")).as("dot"))
    val sym = pairs.select(F.col("a").as("doc"), F.col("b").as("other"), F.col("dot"))
      .unionByName(pairs.select(F.col("b").as("doc"), F.col("a").as("other"), F.col("dot")))
    val topk = F.udaf(CrawlBudget.TopKUrls(topK),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]())
    sym.groupBy(F.col("doc"))
      .agg(topk(F.col("dot"), F.col("other")).as("sel"))
      .select(F.col("doc"), F.posexplode(F.col("sel")))
      .select(F.col("doc"), (F.col("pos") + 1).cast("long").as("rank"),
        F.col("col._2").as("other"), F.col("col._1").as("score"))
  }

  /** Fuzzy term search: expand each query term to every vocabulary term
    * within `maxDist` Levenshtein edits, returning the matched postings
    * (qterm, term, doc, tf) for the caller to aggregate. Scale shape:
    * the vocabulary is the distinct-term set — bounded by token-TYPE
    * count (millions even for a 10^12-token corpus), not corpus size —
    * and the query list is a literal explode over it, so the expansion
    * is one map-only pass over vocab; the tiny match set then
    * broadcast-joins back to the postings. `levenshtein` is codegen'd
    * in Spark and built in to DuckDB with the same unit-cost edit
    * semantics, so fuzzy expansion is oracle-exact, not approximate.
    */
  def fuzzySearch(post: DataFrame, terms: Seq[String], maxDist: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, s"1..16 query terms, got ${terms.size}")
    require(maxDist >= 0 && maxDist <= 3, s"maxDist 0..3, got $maxDist")
    val matches = post.select(F.col("term")).distinct()
      .select(F.col("term"), F.explode(F.array(terms.map(F.lit): _*)).as("qterm"))
      .filter(F.levenshtein(F.col("qterm"), F.col("term")) <= maxDist)
    post.join(F.broadcast(matches), "term")
      .select(F.col("qterm"), F.col("term"), F.col("doc"), F.col("tf"))
  }

  /** Top-k docs for a bag-of-terms query under log-free BM25.
    * Returns (doc, score, rank), rank 1-based by (score desc, doc asc).
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, s"1..8 query terms, got ${terms.size}")
    val dls = docLens(docs, idCol, textCol)
    val corpus = dls.agg(F.count(F.lit(1)).as("n"), F.sum(F.col("dl")).as("sumdl"))
    bm25TopKOver(postings(docs, idCol, textCol), dls, corpus, terms, k1, b, topK)
  }

  /** `bm25TopK` over prebuilt frames — lets several queries (hybrid
    * fusion legs, hard-negative probes) share ONE tokenize pass:
    * `post` must be (term, doc, tf) postings covering at least `terms`
    * (extra terms are filtered out here, so a union-of-querysets
    * postings table serves every leg), `dls` the full (doc, dl) table,
    * `corpus` its 1-row (n, sumdl) aggregate. Bit-identical to
    * `bm25TopK`: per-leg df is computed AFTER the term filter (document
    * frequency is per-term, so filtering drops no occurrences of the
    * surviving terms) and the fixed-order scorer is unchanged.
    */
  def bm25TopKOver(
      post: DataFrame,
      dls: DataFrame,
      corpus: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, s"1..8 query terms, got ${terms.size}")
    val p = post.filter(F.col("term").isin(terms: _*))
    val dfs = p.groupBy("term").agg(F.count(F.lit(1)).as("df"))
    val top = scoreExact(p, dfs, dls, corpus, terms, k1, b)
      .orderBy(F.col("score").desc, F.col("doc").asc)
      .limit(topK)
    top.withColumn("rank",
      F.row_number().over(Window.orderBy(F.col("score").desc, F.col("doc").asc)).cast("long"))
  }

  /** Per-posting BM25 term weight (log-free idf — object scaladoc). */
  private def bm25Weight(k1: Double, b: Double): Column = {
    val tfd = F.col("tf").cast("double")
    val dld = F.col("dl").cast("double")
    val dfd = F.col("df").cast("double")
    val nd = F.col("n").cast("double")
    val avgdl = F.col("sumdl").cast("double") / nd
    val idf = (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    (idf * (tfd * F.lit(k1 + 1.0))) /
      (tfd + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * (dld / avgdl)))
  }

  /** Exact per-doc BM25 scores for every doc present in `post` — the ONE
    * scoring authority `bm25TopK` and `wandTopK` share: per-posting weight,
    * then the fixed-order combine (one pivot column per query term, added
    * left to right — float addition order is part of the contract).
    */
  private def scoreExact(
      post: DataFrame, dfs: DataFrame, dls: DataFrame, corpus: DataFrame,
      terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val scored = post.join(dfs, "term").join(dls, "doc")
      .crossJoin(F.broadcast(corpus))
      .select(F.col("doc"), F.col("term"), bm25Weight(k1, b).as("w"))
    val pivots = terms.map(t => F.max(F.when(F.col("term") === t, F.col("w"))).as(s"w_$t"))
    val score = terms.map(t => F.coalesce(F.col(s"w_$t"), F.lit(0.0)))
      .reduceLeft[Column](_ + _)
    scored.groupBy("doc").agg(pivots.head, pivots.tail: _*)
      .select(F.col("doc"), score.as("score"))
  }

  /** WAND/MaxScore-style EXACT top-k: upper-bound pruning cuts the scoring
    * join down to provably-competitive candidates, and the result is
    * bit-identical to `bm25TopK` (same scorer, same order).
    *
    * Per-term upper bound: w = idf·tf·(k1+1)/(tf+K) with K > 0, so
    * w < UB(t) = idf(t)·(k1+1) — a pure term statistic, no posting scan.
    * Phases (the distributed shape of document-at-a-time WAND's moving
    * threshold):
    *   1. ub_sum per doc = Σ UB(t) over query terms the doc contains —
    *      needs only posting MEMBERSHIP joined to the tiny broadcast UB
    *      table; the per-posting float math and the doc-length join are
    *      NOT paid here.
    *   2. θ = k-th exact score of the top-k docs by ub_sum (a TakeOrdered
    *      seed, scored exactly; θ = -∞ when fewer than k docs match).
    *   3. survivors = docs with ub_sum ≥ θ, exact-scored; global top-k.
    * Exactness: score(d) ≤ ub_sum(d) for every doc, so a pruned doc
    * (ub_sum < θ) cannot beat the k seed docs whose exact scores are ≥ θ;
    * the seed docs themselves always survive (ub_sum ≥ score ≥ θ).
    * At 100 TB the win is phase 3's scoring join running over the
    * competitive slice instead of every doc matching ANY query term —
    * common low-idf terms (stopword-like, df ≈ N) contribute tiny UBs, so
    * their long postings lists are pruned unless a doc also matches rare
    * terms. θ travels as a 1-row broadcast, never a driver collect.
    */
  def wandTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    val (_, survivors, post, dfs, dls, corpus) =
      wandPhases(docs, idCol, textCol, terms, k1, b, topK)
    // phase 3: exact-score only the survivors
    val top = scoreExact(
      post.join(survivors, "doc"), dfs, dls, corpus, terms, k1, b)
      .orderBy(F.col("score").desc, F.col("doc").asc)
      .limit(topK)
    top.withColumn("rank",
      F.row_number().over(Window.orderBy(F.col("score").desc, F.col("doc").asc)).cast("long"))
  }

  /** Phases 1-2 of `wandTopK`, exposed so the spec can measure the pruning
    * ratio (candidates vs survivors) from the SAME plan the operator runs.
    */
  private[graft] def wandPhases(
      docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k1: Double, b: Double, topK: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(terms.nonEmpty && terms.size <= 8, s"1..8 query terms, got ${terms.size}")
    val post = postings(docs, idCol, textCol).filter(F.col("term").isin(terms: _*))
    val dfs = post.groupBy("term").agg(F.count(F.lit(1)).as("df"))
    val dls = docLens(docs, idCol, textCol)
    val corpus = dls.agg(F.count(F.lit(1)).as("n"), F.sum(F.col("dl")).as("sumdl"))

    val dfd = F.col("df").cast("double")
    val nd = F.col("n").cast("double")
    val ub = dfs.crossJoin(F.broadcast(corpus))
      .select(F.col("term"),
        ((nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)) * F.lit(k1 + 1.0)).as("ub"))

    // phase 1: membership-only upper-bound sums (no dl join, no tf math)
    val cand = post.join(F.broadcast(ub), "term")
      .groupBy("doc").agg(F.sum(F.col("ub")).as("ub_sum"))

    // phase 2: seed threshold from the top-k docs by ub_sum
    val seedDocs = cand.orderBy(F.col("ub_sum").desc, F.col("doc").asc)
      .limit(topK).select("doc")
    val seedScores = scoreExact(
      post.join(F.broadcast(seedDocs), "doc"), dfs, dls, corpus, terms, k1, b)
    val theta = seedScores.agg(
      F.min(F.col("score")).as("mn"), F.count(F.lit(1)).as("c"))
      .select(F.when(F.col("c") >= topK, F.col("mn"))
        .otherwise(F.lit(Double.NegativeInfinity)).as("theta"))
    val survivors = cand.crossJoin(F.broadcast(theta))
      .filter(F.col("ub_sum") >= F.col("theta")).select("doc")
    (cand, survivors, post, dfs, dls, corpus)
  }
}
