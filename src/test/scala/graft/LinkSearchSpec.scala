package graft

import graft.operators.{InvertedIndex, LinkGraph}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Link-graph (degrees, integer-exact PageRank) and inverted-index / BM25
  * retrieval, validated against sequential reference implementations.
  */
class LinkSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-linksearch")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // --- link graph ----------------------------------------------------------

  /** Sequential replay of LinkGraph.pagerankInt's integer recurrence. */
  private def refPagerank(edges: Seq[(Long, Long)], iters: Int, scale: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val odeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = nodes.size.toLong
    var pr = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s, d) <- edges) inc(d) += pr(s) / odeg(s)
      val dang = nodes.filter(v => !odeg.contains(v)).map(pr).sum
      pr = nodes.map(v => v -> (15L * scale / 100L + 85L * (inc(v) + dang / n) / 100L)).toMap
    }
    pr
  }

  test("pagerankInt matches the sequential integer recurrence, incl. dangling mass") {
    import spark.implicits._
    // 1..4 cycle-ish core plus dangling node 5 (in-links only)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 5L), (4L, 1L), (4L, 5L))
    val e = edges.toDF("src", "dst")
    val got = LinkGraph.pagerankInt(e, iters = 7, scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    val want = refPagerank(edges, 7, 1000000L)
    assert(got == want)
    // partitioning must not change a single rank (integer sums commute)
    val got2 = LinkGraph.pagerankInt(e.repartition(7), iters = 7, scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got2 == want)
    // mass conservation up to deterministic truncation: total stays within
    // N units-in-the-last-division of N*scale, and never above it
    val total = got.values.sum
    assert(total <= 5L * 1000000L && total > 5L * 1000000L - 5L * 200L)
  }

  /** Sequential replay of LinkGraph.trustrankInt's integer recurrence. */
  private def refTrustrank(edges: Seq[(Long, Long)], seeds: Set[Long],
                           iters: Int, scale: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val odeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = nodes.size.toLong
    val sl = seeds.filter(nodes.contains)
    val ns = sl.size.toLong
    def isS(v: Long): Long = if (sl(v)) 1L else 0L
    var tr = nodes.map(v => v -> isS(v) * (n * scale / ns)).toMap
    for (_ <- 1 to iters) {
      val inc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s, d) <- edges) inc(d) += tr(s) / odeg(s)
      val dang = nodes.filter(v => !odeg.contains(v)).map(tr).sum
      tr = nodes.map(v => v ->
        (isS(v) * (15L * scale / 100L * n / ns) +
          85L * (inc(v) + isS(v) * (dang / ns)) / 100L)).toMap
    }
    tr
  }

  test("trustrankInt: trust reaches only seed-connected nodes; matches sequential replay") {
    import spark.implicits._
    // seed chain 1→2→3 (3 dangling) plus a link farm {10,11} with heavy
    // internal linkage and NO inbound path from the seed
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 10L), (10L, 1L))
    val e = edges.toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = LinkGraph.trustrankInt(e, seeds, iters = 6, scale = 1000000L)
      .select(col("node"), col("tr")).as[(Long, Long)].collect().toMap
    val want = refTrustrank(edges, Set(1L), 6, 1000000L)
    assert(got == want)
    // the farm holds zero trust despite its internal link mass; the chain holds trust
    assert(got(10L) == 0L && got(11L) == 0L)
    assert(got(1L) > 0L && got(2L) > 0L && got(3L) > 0L)
    // seed dominates (it receives ALL teleport + the dangling return)
    assert(got(1L) > got(2L) && got(2L) > got(3L))
    // partitioning must not change a single rank
    val got2 = LinkGraph.trustrankInt(e.repartition(5), seeds, iters = 6, scale = 1000000L)
      .select(col("node"), col("tr")).as[(Long, Long)].collect().toMap
    assert(got2 == want)
  }

  test("trustrankInt with seeds = all nodes degenerates bit-for-bit to pagerankInt") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 5L), (4L, 1L), (4L, 5L))
    val e = edges.toDF("src", "dst")
    val all = (1L to 5L).toDF("node")
    val tr = LinkGraph.trustrankInt(e, all, iters = 7, scale = 1000000L)
      .select(col("node"), col("tr")).as[(Long, Long)].collect().toMap
    val pr = LinkGraph.pagerankInt(e, iters = 7, scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(tr == pr) // personalization is the ONLY delta from pagerankInt
  }

  test("trustrankInt rejects a seed set disjoint from the graph") {
    import spark.implicits._
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(99L).toDF("node")
    assertThrows[IllegalArgumentException] {
      LinkGraph.trustrankInt(e, seeds, iters = 2)
    }
  }

  test("degrees: full-outer semantics, zero-filled") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = LinkGraph.degrees(e).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 0L), (2L, 1L, 1L), (3L, 0L, 2L)))
  }

  // --- inverted index / BM25 ----------------------------------------------

  test("postings and docLens: exact tf/dl, zero-token docs keep a dl row") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b"), (3L, "   ")).toDF("doc_id", "text")
    val post = InvertedIndex.postings(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect().toSet
    assert(post == Set(("a", 1L, 2L), ("b", 1L, 1L), ("b", 2L, 1L)))
    val dls = InvertedIndex.docLens(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(dls == Set((1L, 3L), (2L, 1L), (3L, 0L)))
  }

  test("bm25TopK matches a sequential scorer; deterministic tie-break; absent term is a no-op") {
    import spark.implicits._
    val docs = Seq(
      (1L, "data spark data fast table"),
      (2L, "data data data"),
      (3L, "spark fast"),
      (4L, "row scan filter"),
      (5L, "fast fast fast fast data")).toDF("doc_id", "text")
    val terms = Seq("data", "fast", "zzz_absent")
    val k1 = 1.2; val b = 0.75
    // sequential replay of the documented log-free formula, same op order
    val toks = Map(1L -> 5, 2L -> 3, 3L -> 2, 4L -> 3, 5L -> 5)
    val n = 5.0; val avgdl = 18.0 / 5.0
    def tf(t: String, d: Long): Int = Map(
      ("data", 1L) -> 2, ("data", 2L) -> 3, ("data", 5L) -> 1,
      ("fast", 1L) -> 1, ("fast", 3L) -> 1, ("fast", 5L) -> 4
    ).getOrElse((t, d), 0)
    val dfm = Map("data" -> 3.0, "fast" -> 3.0)
    def w(t: String, d: Long): Double = {
      val f = tf(t, d); if (f == 0) return 0.0
      val idf = (n - dfm(t) + 0.5) / (dfm(t) + 0.5)
      (idf * (f * (k1 + 1.0))) / (f + k1 * (1.0 - b + b * (toks(d) / avgdl)))
    }
    val want = Seq(1L, 2L, 3L, 5L).map(d => d -> (w("data", d) + w("fast", d) + 0.0))
      .sortBy { case (d, s) => (-s, d) }
    val got = InvertedIndex.bm25TopK(docs, "doc_id", "text", terms, k1, b, topK = 20)
      .select($"doc", $"score", $"rank").as[(Long, Double, Long)].collect()
    assert(got.map(_._1).toSeq == want.map(_._1))
    got.zip(want).foreach { case ((_, s, _), (_, ws)) => assert(s == ws, s"score $s != $ws") }
    assert(got.map(_._3).toSeq == (1L to got.length.toLong))
    // top-k truncation
    val top2 = InvertedIndex.bm25TopK(docs, "doc_id", "text", terms, k1, b, topK = 2)
    assert(top2.count() == 2)
  }

  test("bm25TopK plans as TakeOrdered (per-partition heaps), no global sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = InvertedIndex.bm25TopK(docs, "doc_id", "text", Seq("data", "fast"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), s"expected TakeOrderedAndProject:\n$plan")
  }

  test("phraseCount: exact consecutive matches, overlap, repeated terms, missing-term docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the data query runs the data query twice"), // 2 occurrences
      (2L, "data data data"), // overlapping repeated-term occurrences
      (3L, "data of query"), // both terms present, never adjacent
      (4L, "query data"), // reversed order is not the phrase
      (5L, "data"), // missing the second term entirely
      (6L, "x data query y")) // 1 occurrence mid-document
      .toDF("doc_id", "text")
    def got(ph: String*): Map[Long, Long] =
      InvertedIndex.phraseCount(docs, "doc_id", "text", ph)
        .as[(Long, Long)].collect().toMap
    assert(got("data", "query") === Map(1L -> 2L, 6L -> 1L))
    assert(got("data", "data") === Map(2L -> 2L)) // overlap counts both
    assert(got("the", "data", "query") === Map(1L -> 2L))
    assert(got("data", "query", "twice") === Map(1L -> 1L))
    assert(got("query", "twice") === Map(1L -> 1L)) // phrase at end of doc
    assert(got("absent", "data").isEmpty)
    // terms normalize through the index tokenizer (lowercase) ...
    assert(got("DATA", "Query") === got("data", "query"))
    // ... and non-single-token "terms" fail loudly, not silently-empty
    intercept[IllegalArgumentException] { got("data query", "runs") }
    intercept[IllegalArgumentException] { got("", "data") }
    // brute-force cross-check on real corpus text: sliding-window count
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val want = real.select($"doc_id", $"text").as[(Long, String)].collect().flatMap {
      case (id, t) =>
        val toks = graft.functions.TextStats.tokens(t.toLowerCase).toSeq
        val n = toks.sliding(2).count(_ == Seq("data", "query"))
        if (n > 0) Some(id -> n.toLong) else None
    }.toMap
    assert(InvertedIndex.phraseCount(real, "doc_id", "text", Seq("data", "query"))
      .as[(Long, Long)].collect().toMap === want)
  }

  test("triangleCounts: K4 by hand, direction/duplicate-invariant, brute-force parity") {
    import spark.implicits._
    // K4 on {0,1,2,3} (4 triangles, each node in 3) + dangling edge 4-5,
    // with reversed duplicates and a self-loop thrown in
    val edges = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (1L, 0L), (3L, 2L), // reversed duplicates must not double-count
      (4L, 5L), (4L, 4L)).toDF("src", "dst")
    val got = LinkGraph.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // brute-force parity on a pseudo-random graph
    val es = (0L until 200L).map(i => ((i * 17) % 30, (i * 29 + 7) % 30))
      .filter { case (a, b) => a != b }
    val want = {
      val und = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val counts = scala.collection.mutable.Map.empty[Long, Long]
      for {
        a <- nodes; b <- nodes if a < b && und((a, b))
        c <- nodes if b < c && und((b, c)) && und((a, c))
      } Seq(a, b, c).foreach(n => counts(n) = counts.getOrElse(n, 0L) + 1)
      counts.toMap
    }
    val got2 = LinkGraph.triangleCounts(es.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got2 === want)
  }

  test("relatedDocs: df gate, integer weights, top-k order; brute-force parity") {
    import spark.implicits._
    // 6 docs over a tiny vocabulary; "every" appears in all docs and the
    // df gate (maxDf=4) must exclude it from every score
    val docs = Seq(
      (0L, "every apple banana"),
      (1L, "every apple banana"),
      (2L, "every apple cherry"),
      (3L, "every cherry cherry"),
      (4L, "every date"),
      (5L, "every date")).toDF("doc_id", "text")
    val got = InvertedIndex.relatedDocs(docs, "doc_id", "text", maxDf = 4, topK = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // brute-force: n=6, weights w(term)=tf*(6000 div df)
    val toks = Map(0L -> Seq("apple", "banana"), 1L -> Seq("apple", "banana"),
      2L -> Seq("apple", "cherry"), 3L -> Seq("cherry", "cherry"),
      4L -> Seq("date"), 5L -> Seq("date"))
    val dfm = toks.values.flatten.toSeq.groupBy(identity).map { case (t, xs) =>
      t -> toks.count(_._2.contains(t)).toLong
    }
    def wvec(d: Long): Map[String, Long] =
      toks(d).groupBy(identity).collect {
        case (t, xs) if dfm(t) >= 2 && dfm(t) <= 4 =>
          t -> xs.length * (6000L / dfm(t))
      }.toMap
    val want = (for {
      a <- toks.keys; b <- toks.keys if a != b
      dot = wvec(a).keySet.intersect(wvec(b).keySet).toSeq
        .map(t => wvec(a)(t) * wvec(b)(t)).sum if dot > 0
    } yield (a, b, dot)).toSeq
      .groupBy(_._1).toSeq.flatMap { case (d, ns) =>
        ns.sortBy(r => (-r._3, r._2)).take(2).zipWithIndex
          .map { case ((_, o, s), i) => (d, i + 1L, o, s) }
      }.sortBy(r => (r._1, r._2))
    assert(got === want.toArray)
    // the universal term contributed nothing: doc 4/5 (only "date"
    // shared) must never list apple/banana/cherry docs
    assert(got.filter(_._1 == 4L).map(_._3).toSet === Set(5L))
  }

  test("coCitationPairs: hand case, hub-source guard drops the directory page") {
    import spark.implicits._
    // sources 0,1 each link {10,11}; source 2 links {10,12}; source 99 is
    // a directory page linking to everything — maxOutDeg=3 must drop it
    val edges = (Seq((0L, 10L), (0L, 11L), (1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L)) ++
      Seq(10L, 11L, 12L, 13L).map(t => (99L, t))).toDF("src", "dst")
    val got = LinkGraph.coCitationPairs(edges, maxOutDeg = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((10L, 11L, 2L), (10L, 12L, 1L)))
    // raising the cap admits the directory page's C(4,2) pairs
    val looseMap = LinkGraph.coCitationPairs(edges, maxOutDeg = 10)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(looseMap((10L, 11L)) === 3L) // 0, 1, and 99
    assert(looseMap((12L, 13L)) === 1L) // only 99
  }

  test("pmiPairs matches a sequential replay on the real corpus") {
    import spark.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docsToks = real.select($"text").as[String].collect()
      .map(t => graft.functions.TextStats.tokens(t.toLowerCase))
    val uni = docsToks.flatten.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val n = uni.values.sum
    val pairCounts = docsToks.flatMap(_.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
      .filter(_._2 >= 3)
    val want = pairCounts.toSeq.map { case ((w1, w2), cab) =>
      (w1, w2, cab, uni(w1), uni(w2), cab * n * 1000000L / (uni(w1) * uni(w2)))
    }.sortBy { case (w1, w2, _, _, _, s) => (-s, w1, w2) }.take(10)
    val got = graft.operators.Collocations.pmiPairs(real, "text", minCount = 3, topK = 10)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got === want)
    // degenerate docs (null / empty / one-token text) must not crash the
    // slice arithmetic and contribute no pairs
    val degenerate = Seq((1L, "a b a b"), (2L, null), (3L, ""), (4L, "solo"), (5L, "   "))
      .toDF("doc_id", "text")
    val dg = graft.operators.Collocations.pmiPairs(degenerate, "text", 1, 10)
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(dg.map(r => (r._1, r._2, r._3)).toSet === Set(("a", "b", 2L), ("b", "a", 1L)))
  }

  test("mergeSegments equals a rebuild: update replaces, delete wins, empty re-crawl deletes") {
    import spark.implicits._
    val baseDocs = Seq(
      (1L, "a b a"), (2L, "b c"), (3L, "c c d"), (4L, "d e"), (5L, "e f")).toDF("doc_id", "text")
    // doc 2 updated, doc 3 deleted, doc 4 updated AND deleted,
    // doc 5 re-crawled to an EMPTY page (covered but zero delta postings)
    val deltaDocs = Seq((2L, "x y"), (4L, "z"), (5L, "   ")).toDF("doc_id", "text")
    val recrawled = Seq(2L, 4L, 5L).toDF("doc")
    val tombs = Seq(3L, 4L).toDF("doc")
    val merged = InvertedIndex.mergeSegments(
      InvertedIndex.postings(baseDocs, "doc_id", "text"),
      InvertedIndex.postings(deltaDocs, "doc_id", "text"),
      recrawled, tombs)
    val rebuilt = InvertedIndex.postings(
      Seq((1L, "a b a"), (2L, "x y")).toDF("doc_id", "text"), "doc_id", "text")
    assert(merged.select($"term", $"doc", $"tf")
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2))
      === rebuilt.select($"term", $"doc", $"tf")
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)))
    // stale base postings for updated doc 2 must be gone
    assert(merged.filter($"doc" === 2L && $"term" === "b").count() === 0L)
    // the empty re-crawl removed doc 5's old terms entirely
    assert(merged.filter($"doc" === 5L).count() === 0L)
  }

  test("kwicSnippets: edge clamping, adjacent occurrences, brute-force parity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "data a b c"), // occurrence at pos 0: left edge clamps
      (2L, "a b c data"), // occurrence at end: right edge clamps
      (3L, "x data data y"), // adjacent occurrences: overlapping windows
      (4L, "nothing here")).toDF("doc_id", "text")
    val got = InvertedIndex.kwicSnippets(docs, "doc_id", "text", "data", ctx = 2)
      .as[(Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(got === Array(
      (1L, 0L, "data a b"),
      (2L, 3L, "b c data"),
      (3L, 1L, "x data data y"),
      (3L, 2L, "x data data y")))
    intercept[IllegalArgumentException] {
      InvertedIndex.kwicSnippets(docs, "doc_id", "text", "two words", 2)
    }
    // brute-force parity on the real corpus
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val want = real.select($"doc_id", $"text").as[(Long, String)].collect().flatMap {
      case (id, t) =>
        val toks = graft.functions.TextStats.tokens(t.toLowerCase)
        toks.zipWithIndex.collect { case ("data", i) =>
          (id, i.toLong, toks.slice(math.max(0, i - 2), i + 3).mkString(" "))
        }
    }.sortBy(r => (r._1, r._2))
    val realGot = InvertedIndex.kwicSnippets(real, "doc_id", "text", "data", 2)
      .as[(Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(realGot === want)
  }

  test("hitsInt rejects scale < 1 instead of returning all-zero scores") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    Seq(0L, -3L).foreach { scale =>
      val err = intercept[IllegalArgumentException](LinkGraph.hitsInt(edges, iters = 1, scale = scale))
      assert(err.getMessage.contains("scale must be >= 1"))
    }
    // scale 1 is the floor: the largest entry of each vector is still >= 1
    val got = LinkGraph.hitsInt(edges, iters = 2, scale = 1L).as[(Long, Long, Long)].collect()
    assert(got.map(_._2).max >= 1L && got.map(_._3).max >= 1L)
  }

  test("hitsInt matches a sequential integer replay; pure authority gets hub 0") {
    import spark.implicits._
    // star + chain: 1,2,3 -> 4 (4 is a pure authority), 4 -> nothing,
    // 0 -> 1 -> 2 so hubs differentiate
    val edges = Seq((0L, 1L), (1L, 2L), (1L, 4L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val scale = 10000000L
    val got = LinkGraph.hitsInt(edges, iters = 3, scale = scale)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // sequential replay of the documented recurrence
    val es = Seq((0L, 1L), (1L, 2L), (1L, 4L), (2L, 4L), (3L, 4L))
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val rawA = nodes.map(v => v -> es.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
      val ta = rawA.values.sum
      auth = rawA.map { case (v, r) => v -> r * (n * scale) / ta }
      val rawH = nodes.map(u => u -> es.filter(_._1 == u).map(e => auth(e._2)).sum).toMap
      val th = rawH.values.sum
      hub = rawH.map { case (u, r) => u -> r * (n * scale) / th }
    }
    assert(got === nodes.map(v => (v, auth(v), hub(v))).toArray)
    // node 4 never links out: hub mass exactly zero after round 1
    assert(got.find(_._1 == 4L).get._3 === 0L)
    // L1 rescale: total mass stays within n units of N*scale (div truncation)
    assert(math.abs(got.map(_._2).sum - n * scale) <= n)
  }

  test("nearCount: window boundary, ordered pairs, repeated term, zero-match") {
    import spark.implicits._
    val docs = Seq(
      (1L, "data x x query"), // distance exactly 3
      (2L, "data x x x query"), // distance 4: outside window 3
      (3L, "query data"), // order-free: |a-b| = 1
      (4L, "data x query x data"), // two data positions near one query
      (5L, "data data x data")) // repeated term
      .toDF("doc_id", "text")
    val post = InvertedIndex.positionalPostings(docs, "doc_id", "text")
    def got(t1: String, t2: String, w: Int): Map[Long, Long] =
      InvertedIndex.nearCount(post, t1, t2, w)
        .as[(Long, Long)].collect().toMap
    assert(got("data", "query", 3) === Map(1L -> 1L, 3L -> 1L, 4L -> 2L))
    assert(got("data", "query", 4) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // repeated term: ordered pairs — (0,1),(1,0),(1,3),(3,1) within 2
    assert(got("data", "data", 2) === Map(5L -> 4L))
    assert(got("data", "zzznever", 5).isEmpty)
    intercept[IllegalArgumentException] { got("two words", "data", 3) }
    // brute-force cross-check on the real corpus: all position pairs
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val want = real.select($"doc_id", $"text").as[(Long, String)].collect().flatMap {
      case (id, t) =>
        val toks = graft.functions.TextStats.tokens(t.toLowerCase)
        val da = toks.zipWithIndex.collect { case ("data", i) => i }
        val qu = toks.zipWithIndex.collect { case ("query", i) => i }
        val n = da.iterator.map(a => qu.count(b => b != a && math.abs(b - a) <= 3)).sum
        if (n > 0) Some(id -> n.toLong) else None
    }.toMap
    val realPost = InvertedIndex.positionalPostings(real, "doc_id", "text")
    assert(InvertedIndex.nearCount(realPost, "data", "query", 3)
      .as[(Long, Long)].collect().toMap === want)
  }

  test("bfsDistances: chain, cycle, unreachable node, depth cap, seed not in graph") {
    import spark.implicits._
    // 1 -> 2 -> 3 -> 4 -> 1 (cycle), 5 isolated, 10 -> 11 beyond nothing
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (10L, 11L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node") // 99 has no edges: dist 0 only
    val got = LinkGraph.bfsDistances(e, seeds, maxDepth = 10)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 99L -> 0L))
    // depth cap truncates the frontier: only 2 hops from node 1
    val capped = LinkGraph.bfsDistances(e, Seq(1L).toDF("node"), maxDepth = 2)
      .as[(Long, Long)].collect().toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // maxDepth 0: seeds only
    assert(LinkGraph.bfsDistances(e, Seq(1L).toDF("node"), maxDepth = 0)
      .as[(Long, Long)].collect().toMap === Map(1L -> 0L))
  }

  test("bfsDistances: diamond takes the min distance; parallel edges collapse") {
    import spark.implicits._
    // 0 -> 1 -> 3 and 0 -> 3 directly: dist(3) must be 1, not 2
    val e = Seq((0L, 1L), (1L, 3L), (0L, 3L), (0L, 3L)).toDF("src", "dst")
    val got = LinkGraph.bfsDistances(e, Seq(0L).toDF("node"), maxDepth = 5)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 3L -> 1L))
  }

  test("seedDistances labels per seed; harmonicFromSeeds sums exact 60/d terms") {
    import spark.implicits._
    // 0 -> 3 -> 4 and 1 -> 3; 2 is an isolated seed; 0 -> 1 makes seed 1
    // reachable FROM seed 0 (its own row has dist 0, excluded from h)
    val e = Seq((0L, 3L), (3L, 4L), (1L, 3L), (0L, 1L)).toDF("src", "dst")
    val seeds = Seq(0L, 1L, 2L).toDF("node")
    val dists = LinkGraph.seedDistances(e, seeds, maxDepth = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(dists === Set(
      (0L, 0L, 0L), (1L, 1L, 0L), (2L, 2L, 0L),
      (0L, 3L, 1L), (0L, 1L, 1L), (0L, 4L, 2L),
      (1L, 3L, 1L), (1L, 4L, 2L)))
    val h = LinkGraph.harmonicFromSeeds(e, seeds, maxDepth = 3, scale = 60L)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // node 3: 60/1 (from 0) + 60/1 (from 1) = 120; node 4: 30 + 30 = 60;
    // node 1: 60 from seed 0 only (its own seed row is dist 0, excluded)
    assert(h === Map(3L -> ((120L, 2L)), 4L -> ((60L, 2L)), 1L -> ((60L, 1L))))
    // scale not divisible by a reachable depth must throw, not truncate
    val ex = intercept[IllegalArgumentException] {
      LinkGraph.harmonicFromSeeds(e, seeds, maxDepth = 3, scale = 10L)
    }
    assert(ex.getMessage.contains("not divisible"))
  }

  /** Sequential textbook coreness: repeatedly remove a minimum-degree
    * node; its coreness is the running maximum of the degrees at removal.
    */
  private def refCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    for ((a, b) <- edges if a != b) {
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var kMax = 0L
    while (adj.nonEmpty) {
      // min-degree node (empty adjacency = degree 0 naturally goes first)
      val (v, nbrs) = adj.minBy { case (n, s) => (s.size, n) }
      kMax = math.max(kMax, nbrs.size.toLong)
      core(v) = kMax
      adj.remove(v)
      for (u <- nbrs) adj.get(u).foreach(_ -= v)
    }
    core.toMap
  }

  test("coreNumbers: triangle+pendant chain, clique, and duplicate/direction invariance") {
    import spark.implicits._
    // triangle {1,2,3} (coreness 2), pendant 4-1 plus chain 5-4 (coreness 1
    // via a 2-round peel at k=2), and a separate 4-clique {10..13}
    // (coreness 3). Duplicates and reversed directions must collapse.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L),
      (2L, 1L), (1L, 2L), // dup + reverse
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L))
    val got = LinkGraph.coreNumbers(edges.toDF("src", "dst"), maxK = 5)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L)
    assert(got === want)
    assert(got === refCoreness(edges))
  }

  test("coreNumbers matches sequential peeling on a pseudo-random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(160)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val got = LinkGraph.coreNumbers(edges.toDF("src", "dst"), maxK = 12)
      .as[(Long, Long)].collect().toMap
    assert(got === refCoreness(edges))
  }

  test("coreNumbers: maxPeelRounds throws on a long peel chain instead of spinning") {
    import spark.implicits._
    // a 12-node path peels two endpoints per round at k=2 -> needs ~6 rounds
    val e = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      LinkGraph.coreNumbers(e, maxK = 2, maxPeelRounds = 3).collect()
    }
    assert(ex.getMessage.contains("did not stabilize"))
    // with room it converges: every path node has coreness 1
    val ok = LinkGraph.coreNumbers(e, maxK = 2, maxPeelRounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(ok === (0L to 11L).map(_ -> 1L).toMap)
  }
}
