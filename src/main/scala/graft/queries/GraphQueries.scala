package graft
package queries

import graft.operators.Dedup
import graft.queries.Shared.pq
import org.apache.spark.sql.functions._

/** `w_*`: link-graph analytics over a graph synthesized from the
  * documents table, with exact DuckDB oracles. */
object GraphQueries {

  /** Shared PageRank-mirror CTE block: the 41-host graph synthesis
    * (pgsrc/pnodes/podeg/pn) plus `iters` unrolled integer-PageRank
    * rounds ending at `ppr$iters`, trailing comma included so callers
    * append their own CTEs. ONE definition serves the w_pagerank and
    * w_trustrank oracles — the edge synthesis and the uniform-teleport
    * rank arithmetic cannot silently diverge between them.
    */
  private def pagerankCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val p = s"ppr${i - 1}"
      s"""pinc$i AS (SELECT e.dst AS node, sum(p.pr // o.od) AS inc
         |  FROM pgsrc e JOIN podeg o ON e.src = o.src JOIN $p p ON p.node = e.src
         |  GROUP BY 1),
         |pdg$i AS (SELECT coalesce(sum(p.pr), 0) AS d
         |  FROM $p p LEFT JOIN podeg o ON p.node = o.src WHERE o.src IS NULL),
         |ppr$i AS (SELECT n.node,
         |  CAST((15 * 1000000000000) // 100
         |    + (85 * (coalesce(i.inc, 0) + (SELECT d FROM pdg$i) // (SELECT nn FROM pn))) // 100 AS BIGINT) AS pr
         |  FROM pnodes n LEFT JOIN pinc$i i ON n.node = i.node),""".stripMargin
    }.mkString("\n")
    s"""pgsrc AS (
       |  SELECT DISTINCT doc_id % 40 AS src, dst FROM (
       |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 41, (doc_id*11+3) % 41, (doc_id*13+5) % 41)) AS dst
       |    FROM documents)
       |  WHERE (doc_id % 40) <> dst),
       |pnodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM pgsrc UNION ALL SELECT dst FROM pgsrc)),
       |podeg AS (SELECT src, count(*) AS od FROM pgsrc GROUP BY 1),
       |pn AS (SELECT count(*) AS nn FROM pnodes),
       |ppr0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS pr FROM pnodes),
       |$iterCtes""".stripMargin
  }

  /** k-core peeling unrolled to a fixed depth: `rounds` CTE rounds per
    * level k (each round = degree-over-alive-restricted-edges with both
    * endpoints alive, keep deg >= k). Exact because coreNumbers THROWS if
    * any level needs more than `rounds` peel rounds — a converged run
    * makes the extra unrolled rounds no-ops, so both engines compute the
    * identical fixpoint.
    */
  private def kcoreOracleSql(maxK: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH d AS (SELECT doc_id FROM documents),
        |raw AS (
        |  SELECT doc_id % 60 AS a, (doc_id + 1) % 60 AS b FROM d
        |  UNION ALL
        |  SELECT doc_id % 60, (doc_id * 13 + 7) % 60 FROM d WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id % 97 + 100, doc_id % 60 FROM d WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id % 10 + 200, (doc_id * 3 + 1) % 10 + 200 FROM d
        |  WHERE doc_id % 4 = 0),
        |e AS MATERIALIZED (SELECT DISTINCT a, b FROM (
        |  SELECT a, b FROM raw WHERE a <> b
        |  UNION ALL SELECT b, a FROM raw WHERE a <> b)),
        |s0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM e)""".stripMargin)
    var prev = "s0"
    val levelFinals = Vector.newBuilder[(Int, String)]
    for (k <- 1 to maxK; r <- 1 to rounds) {
      val name = s"s${k}_$r"
      // MATERIALIZED is load-bearing: each round references the previous
      // one twice, so an inlining planner would expand the chain 2^96-fold
      sb.append(s",\n$name AS MATERIALIZED (SELECT e.a AS node FROM e" +
        s" JOIN $prev pa ON e.a = pa.node JOIN $prev pb ON e.b = pb.node" +
        s" GROUP BY e.a HAVING count(*) >= $k)")
      prev = name
      if (r == rounds) levelFinals += ((k, name))
    }
    val cases = levelFinals.result().reverse
      .map { case (k, n) => s"WHEN n.node IN (SELECT node FROM $n) THEN $k" }
      .mkString("\n    ", "\n    ", "")
    sb.append(
      s"""
         |SELECT coreness, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(node) AS BIGINT) AS sum_nodes
         |FROM (SELECT n.node, CAST(CASE$cases
         |    END AS BIGINT) AS coreness
         |  FROM s0 n)
         |GROUP BY 1 ORDER BY 1""".stripMargin)
    sb.toString
  }

  val all: Seq[Query] = Seq(
    Query("w_pagerank", (s, dir) => {
      import s.implicits._
      // Host link graph synthesized by doc_id arithmetic (the oracle
      // rebuilds the identical edge set in SQL — no HTML parse needed to
      // pin graph semantics): 41 hosts, host 40 is never a source, so the
      // dangling-mass path is exercised. Integer-exact PageRank
      // (LinkGraph scaladoc) at 5 iterations joined with in/out degrees;
      // every rank is a deterministic BIGINT, so the oracle matches
      // bit-for-bit, not within-epsilon.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.select(($"doc_id" % 40).as("src"),
          explode(array(($"doc_id" * 7 + 1) % 41, ($"doc_id" * 11 + 3) % 41,
            ($"doc_id" * 13 + 5) % 41)).as("dst"))
        .filter($"src" =!= $"dst").distinct().cache()
      val pr = graft.operators.LinkGraph.pagerankInt(e, iters = 5)
      val deg = graft.operators.LinkGraph.degrees(e)
      deg.join(pr, Seq("node"))
        .select($"node", $"out_deg", $"in_deg", $"pr")
        .orderBy($"node")
    },
      // identical edge synthesis; 5 unrolled integer-PageRank iterations —
      // integer div/sum arithmetic is reduce-order-independent, so every
      // rank matches bit-for-bit (see LinkGraph scaladoc)
      s"""WITH ${pagerankCtes(5)}
         |pind AS (SELECT dst, count(*) AS ind FROM pgsrc GROUP BY 1)
         |SELECT CAST(n.node AS BIGINT) AS node,
         |  CAST(coalesce(o.od, 0) AS BIGINT) AS out_deg,
         |  CAST(coalesce(i.ind, 0) AS BIGINT) AS in_deg,
         |  p.pr
         |FROM pnodes n
         |LEFT JOIN podeg o ON n.node = o.src
         |LEFT JOIN pind i ON n.node = i.dst
         |JOIN ppr5 p ON n.node = p.node
         |ORDER BY node""".stripMargin),
    Query("w_trustrank", (s, dir) => {
      import s.implicits._
      // TrustRank (seed-personalized PageRank, Gyöngyi et al. 2004) over
      // the SAME synthesized 41-host graph as w_pagerank, trusted seeds =
      // hosts ≡ 3 (mod 10). pr and tr side by side on identical edges is
      // the spam-demotion readout: a host keeps its uniform-teleport pr
      // but holds trust only through paths from seeds. Integer-exact
      // (LinkGraph.trustrankInt scaladoc: teleport AND dangling mass go
      // to seeds only), so the oracle replays every round bit-for-bit —
      // including the personalization delta, since the mirror reuses the
      // one shared pagerank CTE block for the pr column.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.select(($"doc_id" % 40).as("src"),
          explode(array(($"doc_id" * 7 + 1) % 41, ($"doc_id" * 11 + 3) % 41,
            ($"doc_id" * 13 + 5) % 41)).as("dst"))
        .filter($"src" =!= $"dst").distinct().cache()
      val seeds = s.range(0, 41).filter($"id" % 10 === 3).select($"id".as("node"))
      val tr = graft.operators.LinkGraph.trustrankInt(e, seeds, iters = 5)
      val pr = graft.operators.LinkGraph.pagerankInt(e, iters = 5)
      tr.join(pr, Seq("node"))
        .select($"node", $"is_seed", $"pr", $"tr")
        .orderBy($"node")
    }, {
      // TrustRank replay: the shared pagerank CTE block supplies the graph
      // + the pr column; 5 unrolled personalized rounds (teleport and
      // dangling mass to seeds only, integer div — LinkGraph.trustrankInt)
      val titers = (1 to 5).map { i =>
        val p = s"tpr${i - 1}"
        s"""tinc$i AS (SELECT e.dst AS node, sum(p.tr // o.od) AS inc
           |  FROM pgsrc e JOIN podeg o ON e.src = o.src JOIN $p p ON p.node = e.src
           |  GROUP BY 1),
           |tdg$i AS (SELECT coalesce(sum(p.tr), 0) AS d
           |  FROM $p p LEFT JOIN podeg o ON p.node = o.src WHERE o.src IS NULL),
           |tpr$i AS (SELECT n.node, n.is_seed,
           |  CAST(n.is_seed * (((15 * 1000000000000) // 100 * (SELECT nn FROM pn)) // (SELECT ns FROM pns))
           |    + (85 * (coalesce(i.inc, 0) + n.is_seed * ((SELECT d FROM tdg$i) // (SELECT ns FROM pns)))) // 100 AS BIGINT) AS tr
           |  FROM tnodes n LEFT JOIN tinc$i i ON n.node = i.node),""".stripMargin
      }.mkString("\n")
      s"""WITH ${pagerankCtes(5)}
         |tnodes AS (SELECT node, CASE WHEN node % 10 = 3 THEN 1 ELSE 0 END AS is_seed FROM pnodes),
         |pns AS (SELECT sum(is_seed) AS ns FROM tnodes),
         |tpr0 AS (SELECT node, is_seed,
         |  CAST(is_seed * (((SELECT nn FROM pn) * 1000000000000) // (SELECT ns FROM pns)) AS BIGINT) AS tr
         |  FROM tnodes),
         |$titers
         |tfin AS (SELECT node, tr FROM tpr5)
         |SELECT CAST(n.node AS BIGINT) AS node,
         |  CAST(n.is_seed AS BIGINT) AS is_seed,
         |  p.pr, t.tr
         |FROM tnodes n
         |JOIN ppr5 p ON n.node = p.node
         |JOIN tfin t ON n.node = t.node
         |ORDER BY node""".stripMargin
    }),
    Query("w_hits", (s, dir) => {
      import s.implicits._
      // Integer-exact HITS over the same synthesized 41-host graph as
      // w_pagerank (host 40 never a source → a pure authority; its hub
      // mass must go to zero). 4 rounds of the L1-rescaled recurrence
      // (LinkGraph.hitsInt scaladoc); every auth/hub value is a
      // deterministic BIGINT the oracle replays bit-for-bit.
      val d = s.read.parquet(pq(dir, "documents"))
      // no entry-level cache: hitsInt caches its own projection of the
      // edges and nothing else here consumes them
      val e = d.select(($"doc_id" % 40).as("src"),
          explode(array(($"doc_id" * 7 + 1) % 41, ($"doc_id" * 11 + 3) % 41,
            ($"doc_id" * 13 + 5) % 41)).as("dst"))
        .filter($"src" =!= $"dst").distinct()
      graft.operators.LinkGraph.hitsInt(e, iters = 4)
        .orderBy($"node")
    }, {
      // HITS replay: same synthesized edge set as w_pagerank; 4 rounds of
      // gather + L1 rescale in integer arithmetic. MATERIALIZED per-round
      // CTEs — each raw vector is referenced twice, so non-materialized
      // inlining would grow the expansion exponentially (BPE/PageRank
      // lesson); // on non-negative HUGEINT == Spark's div on longs
      val iterCtes = (1 to 4).map { i =>
        s"""hra$i AS MATERIALIZED (SELECT n.node, coalesce(s.raw, 0) AS raw
           |  FROM hnodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(h.hub) AS raw
           |    FROM hedges e JOIN hhub${i - 1} h ON h.node = e.src GROUP BY 1) s USING (node)),
           |hauth$i AS MATERIALIZED (SELECT r.node,
           |  CAST((r.raw * (SELECT nn * 10000000 FROM hn)) // (SELECT sum(raw) FROM hra$i) AS BIGINT) AS auth
           |  FROM hra$i r),
           |hrh$i AS MATERIALIZED (SELECT n.node, coalesce(s.raw, 0) AS raw
           |  FROM hnodes n LEFT JOIN (
           |    SELECT e.src AS node, sum(a.auth) AS raw
           |    FROM hedges e JOIN hauth$i a ON a.node = e.dst GROUP BY 1) s USING (node)),
           |hhub$i AS MATERIALIZED (SELECT r.node,
           |  CAST((r.raw * (SELECT nn * 10000000 FROM hn)) // (SELECT sum(raw) FROM hrh$i) AS BIGINT) AS hub
           |  FROM hrh$i r)""".stripMargin
      }.mkString(",\n")
      s"""WITH hedges AS MATERIALIZED (
         |  SELECT DISTINCT doc_id % 40 AS src, dst FROM (
         |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 41, (doc_id*11+3) % 41, (doc_id*13+5) % 41)) AS dst
         |    FROM documents)
         |  WHERE (doc_id % 40) <> dst),
         |hnodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM hedges UNION ALL SELECT dst FROM hedges)),
         |hn AS (SELECT count(*) AS nn FROM hnodes),
         |hhub0 AS (SELECT node, CAST(10000000 AS BIGINT) AS hub FROM hnodes),
         |$iterCtes
         |SELECT CAST(n.node AS BIGINT) AS node, a.auth, h.hub
         |FROM hnodes n JOIN hauth4 a ON n.node = a.node JOIN hhub4 h ON n.node = h.node
         |ORDER BY node""".stripMargin
    }),
    Query("w_components", (s, dir) => {
      import s.implicits._
      // Weakly-connected components over a host graph synthesized with
      // BLOCK structure (edges stay inside groups of 10 hosts → several
      // true components, not one giant blob): the distributed min-label
      // propagation (Dedup.connectedComponents) vs a recursive-CTE
      // transitive closure. Per-component (n_nodes, sum, max) pins the
      // exact membership.
      val d = s.read.parquet(pq(dir, "documents"))
      val pairs = d
        .select($"doc_id",
          explode(array(($"doc_id" * 7 + 1) % 10, ($"doc_id" * 13 + 3) % 10)).as("dp"))
        .select(($"doc_id" % 60).as("a"),
          (expr("((doc_id % 60) div 10) * 10") + $"dp").as("b"))
        .filter($"a" =!= $"b").distinct()
      val labels = graft.operators.Dedup.connectedComponents(pairs)
      val out = labels.groupBy($"comp".as("component"))
        .agg(count(lit(1)).as("n_nodes"), sum($"id").as("sum_nodes"),
          max($"id").as("max_node"))
        .orderBy($"component")
      val collected = out.cache()
      collected.count() // materialize before the iteration chain unpersists
      labels.unpersist()
      collected
    },
      // component replay: recursive-CTE transitive closure over the same
      // block-structured synthesized edge set; min-reachable-node labeling
      """WITH RECURSIVE wce AS (
        |  SELECT DISTINCT doc_id % 60 AS src,
        |    ((doc_id % 60) // 10) * 10 + dp AS dst FROM (
        |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 10, (doc_id*13+3) % 10)) AS dp
        |    FROM documents)
        |  WHERE (doc_id % 60) <> ((doc_id % 60) // 10) * 10 + dp),
        |wcedges AS (SELECT src, dst FROM wce UNION ALL SELECT dst, src FROM wce),
        |wcc(id, r) AS (
        |  SELECT DISTINCT src, src FROM wcedges
        |  UNION
        |  SELECT e.dst, wcc.r FROM wcc JOIN wcedges e ON e.src = wcc.id),
        |wcomp AS (SELECT id, min(r) AS component FROM wcc GROUP BY id)
        |SELECT CAST(component AS BIGINT) AS component,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(id) AS BIGINT) AS sum_nodes,
        |  CAST(max(id) AS BIGINT) AS max_node
        |FROM wcomp GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("w_communities", (s, dir) => {
      import s.implicits._
      // Label-propagation communities (Raghavan 2007, made deterministic
      // — LinkGraph.labelPropagation scaladoc) over the block graph of
      // w_components PLUS a sparse ring of bridge edges between blocks:
      // the graph is ONE weakly-connected component (what
      // connectedComponents would report), but 4 synchronous LPA rounds
      // split it along its dense 10-host cores — communities !=
      // components is the point of the operator. The oracle replays all
      // 4 rounds CTE by CTE (fixed round count, (count desc, label asc)
      // vote order, self-vote included).
      val d = s.read.parquet(pq(dir, "documents"))
      val block = d
        .select($"doc_id",
          explode(array(($"doc_id" * 7 + 1) % 10, ($"doc_id" * 13 + 3) % 10)).as("dp"))
        .select(($"doc_id" % 60).as("src"),
          (expr("((doc_id % 60) div 10) * 10") + $"dp").as("dst"))
      val bridges = d.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" % 60).as("src"), (($"doc_id" % 60 + 10) % 60).as("dst"))
      val e = block.unionByName(bridges).filter($"src" =!= $"dst").distinct()
      graft.operators.LinkGraph.labelPropagation(e, iters = 4)
        .groupBy($"lab".as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_nodes"),
          max($"node").as("max_node"))
        .orderBy($"community")
    }, {
      // LPA replay: the same undirected edge build, then each round is a
      // (gather neighbor labels + self-vote) -> (count per label) ->
      // (argmax by count desc, label asc) CTE triple — the synchronous
      // deterministic recurrence the operator defines
      val rounds = (1 to 4).map { r =>
        val q = r - 1
        s"""lpv$r AS (SELECT u.a AS node, l.lab FROM lpund u JOIN lpl$q l ON u.b = l.node
          |  UNION ALL SELECT node, lab FROM lpl$q),
          |lpc$r AS (SELECT node, lab, count(*) AS c FROM lpv$r GROUP BY 1, 2),
          |lpl$r AS (SELECT node, lab FROM (
          |  SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
          |  FROM lpc$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH lpe AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id % 60 AS src, ((doc_id % 60) // 10) * 10 + dp AS dst FROM (
        |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 10, (doc_id*13+3) % 10)) AS dp
        |    FROM documents)
        |  UNION ALL
        |  SELECT doc_id % 60, (doc_id % 60 + 10) % 60 FROM documents WHERE doc_id % 10 = 0)
        | WHERE src <> dst),
        |lpund AS (SELECT src AS a, dst AS b FROM lpe UNION SELECT dst, src FROM lpe),
        |lpl0 AS (SELECT DISTINCT a AS node, a AS lab FROM lpund),
        |$rounds
        |SELECT CAST(lab AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(node) AS BIGINT) AS sum_nodes, CAST(max(node) AS BIGINT) AS max_node
        |FROM lpl4 GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    Query("w_triangles", (s, dir) => {
      import s.implicits._
      // Exact triangle counting over DENSE 10-host blocks: the dst
      // arithmetic mixes doc_id div 60 so a source's neighbors vary
      // across the docs sharing its residue (a formula in doc_id % 60
      // alone is CONSTANT per source — each source then holds <= 2
      // edges and the graph is triangle-free, a vacuous query; hit
      // once, now pinned by the oracle's nonzero totals). Ordered-edge
      // two-path-plus-closure join, each triangle once as a < b < c.
      val d = s.read.parquet(pq(dir, "documents"))
      val edges = d
        .select($"doc_id",
          explode(array(
            expr("((doc_id div 60) * 7 + doc_id) % 10"),
            expr("((doc_id div 60) * 3 + doc_id + 5) % 10"))).as("dp"))
        .select(($"doc_id" % 60).as("src"),
          (expr("((doc_id % 60) div 10) * 10") + $"dp").as("dst"))
        .filter($"src" =!= $"dst")
      val tri = graft.operators.LinkGraph.triangleCounts(edges).cache()
      tri.crossJoin(broadcast(tri.agg(
          (sum($"n_triangles") / 3).cast("long").as("total_triangles"))))
        .orderBy($"node")
    },
      // triangle replay: canonical a<b edges, two-path + closure join,
      // unnest corners, per-node counts, total = sum // 3
      """WITH tre AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM (
        |    SELECT doc_id % 60 AS src,
        |      ((doc_id % 60) // 10) * 10 + dp AS dst FROM (
        |      SELECT doc_id, unnest(list_value(
        |        ((doc_id // 60) * 7 + doc_id) % 10,
        |        ((doc_id // 60) * 3 + doc_id + 5) % 10)) AS dp
        |      FROM documents))
        |  WHERE src <> dst),
        |trt AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM tre e1 JOIN tre e2 ON e2.a = e1.b
        |    JOIN tre e3 ON e3.a = e1.a AND e3.b = e2.b),
        |trn AS (SELECT unnest(list_value(x, y, z)) AS node FROM trt),
        |trc AS (SELECT node, count(*) AS n_triangles FROM trn GROUP BY 1),
        |trtot AS (SELECT sum(n_triangles) // 3 AS total FROM trc)
        |SELECT CAST(c.node AS BIGINT) AS node,
        |  CAST(c.n_triangles AS BIGINT) AS n_triangles,
        |  CAST(t.total AS BIGINT) AS total_triangles
        |FROM trc c CROSS JOIN trtot t ORDER BY node""".stripMargin),
    Query("w_cocitation", (s, dir) => {
      import s.implicits._
      // "Related pages" by co-citation over the standard 41-host graph:
      // top-20 target pairs by common-in-neighbor count. The 40 sources
      // accumulate out-degrees of ~36-39 here (each source aggregates
      // many docs' links), so the hot-source guard is set ABOVE that
      // (50): every source is kept and the pair mining is exercised on
      // real data — a cap at typical per-page degree would classify all
      // of these aggregate sources as directory pages and return an
      // always-empty (vacuous) result. The guard's binding behavior is
      // covered by the spec's directory-page case; the oracle applies
      // the identical cap.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.select(($"doc_id" % 40).as("src"),
          explode(array(($"doc_id" * 7 + 1) % 41, ($"doc_id" * 11 + 3) % 41,
            ($"doc_id" * 13 + 5) % 41)).as("dst"))
        .filter($"src" =!= $"dst")
      graft.operators.LinkGraph.coCitationPairs(e, maxOutDeg = 50)
        .orderBy($"n_common".desc, $"a", $"b").limit(20)
        .orderBy($"n_common".desc, $"a", $"b")
    },
      // co-citation replay: same synthesized edges, same maxOutDeg guard,
      // source self-join on a<b target pairs
      """WITH cce AS (
        |  SELECT DISTINCT doc_id % 40 AS src, dst FROM (
        |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 41, (doc_id*11+3) % 41, (doc_id*13+5) % 41)) AS dst
        |    FROM documents)
        |  WHERE (doc_id % 40) <> dst),
        |cck AS (SELECT src FROM (SELECT src, count(*) AS od FROM cce GROUP BY 1)
        |  WHERE od <= 50),
        |ccf AS (SELECT e.src, e.dst FROM cce e JOIN cck USING (src)),
        |ccp AS (SELECT x.dst AS a, y.dst AS b, count(*) AS n_common
        |  FROM ccf x JOIN ccf y ON x.src = y.src AND x.dst < y.dst
        |  GROUP BY 1, 2)
        |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(n_common AS BIGINT) AS n_common
        |FROM ccp ORDER BY n_common DESC, a, b LIMIT 20""".stripMargin),
    Query("w_scc", (s, dir) => {
      import s.implicits._
      // spider-trap detection: strongly connected components of a directed
      // host graph synthesized as ten 6-node rings (true multi-node SCCs)
      // plus sparse one-way cross edges from every 17th doc (these must NOT merge
      // components unless they happen to close a mutual path — the oracle's
      // transitive-closure mutual-reachability decides). FW-BW coloring vs
      // recursive-CTE exact SCC; per-component aggregates pin membership.
      val d = s.read.parquet(pq(dir, "documents"))
      val a = $"doc_id" % 60
      val ring = d.select(a.as("src"),
        ((a - a % 6) + ($"doc_id" + 1) % 6).as("dst"))
      val cross = d.filter($"doc_id" % 17 === 0)
        .select(a.as("src"), (($"doc_id" * 7 + 3) % 60).as("dst"))
      val labels = graft.operators.LinkGraph.stronglyConnectedComponents(
        ring.unionByName(cross))
      labels.groupBy($"scc")
        .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_nodes"))
        .orderBy($"scc")
    },
      // Exact SCC by definition: transitive closure (recursive CTE, UNION
      // dedup) -> mutual-reachability pairs -> least mutual partner (or self)
      // labels each node; aggregates mirror the Spark output.
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id % 60 AS src,
        |           ((doc_id % 60) // 6) * 6 + (doc_id + 1) % 6 AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id % 60, (doc_id * 7 + 3) % 60 FROM documents
        |    WHERE doc_id % 17 = 0)
        |  WHERE src <> dst),
        |nodes AS (SELECT DISTINCT src AS v FROM e
        |          UNION SELECT DISTINCT dst FROM e),
        |reach(a, b) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
        |mutual AS (
        |  SELECT r1.a AS v, r1.b AS w
        |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
        |lab AS (
        |  SELECT n.v AS node, least(n.v, coalesce(min(m.w), n.v)) AS scc
        |  FROM nodes n LEFT JOIN mutual m ON m.v = n.v GROUP BY n.v)
        |SELECT scc, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(node) AS BIGINT) AS sum_nodes
        |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("w_kcore", (s, dir) => {
      import s.implicits._
      // link-density tiers: k-core decomposition of a host graph with a
      // deliberate core spread — a 60-node ring (coreness 2), chord edges
      // from every 3rd doc densifying the ring (coreness ~10 once the
      // residues saturate), pendant nodes 100.. hanging off the ring
      // (coreness 1), and a dense 10-node cluster at 200.. . Oracle: the
      // peeling recurrence unrolled to a FIXED depth in plain SQL —
      // coreNumbers throws past the same bound, so a converged Spark run
      // and the unrolled mirror compute the identical fixpoint.
      // Per-tier aggregates pin membership (count + id-sum).
      val d = s.read.parquet(pq(dir, "documents"))
      val ring = d.select(($"doc_id" % 60).as("src"),
        (($"doc_id" + 1) % 60).as("dst"))
      val chords = d.filter($"doc_id" % 3 === 0)
        .select(($"doc_id" % 60).as("src"), (($"doc_id" * 13 + 7) % 60).as("dst"))
      val pendants = d.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" % 97 + 100).as("src"), ($"doc_id" % 60).as("dst"))
      val cluster = d.filter($"doc_id" % 4 === 0)
        .select(($"doc_id" % 10 + 200).as("src"),
          (($"doc_id" * 3 + 1) % 10 + 200).as("dst"))
      val core = graft.operators.LinkGraph.coreNumbers(
        ring.unionByName(chords).unionByName(pendants).unionByName(cluster),
        maxK = 12, maxPeelRounds = 8)
      core.groupBy($"coreness")
        .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_nodes"))
        .orderBy($"coreness")
    }, kcoreOracleSql(maxK = 12, rounds = 8)),
    Query("w_harmonic", (s, dir) => {
      import s.implicits._
      // bounded harmonic centrality from trusted seeds {0,1,2} over a
      // sparse synthesized host graph (every 11th doc contributes an
      // edge): one seed-LABELED multi-source BFS, then h(v) =
      // sum(60 div d) — 60 = lcm(1..5), so every term is an exact
      // integer and the score is engine-portable. Oracle: recursive-CTE
      // per-seed shortest paths capped at 5 hops, same integer division.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" % 89).as("src"), (($"doc_id" * 23 + 11) % 89).as("dst"))
        .filter($"src" =!= $"dst")
      val seeds = s.range(0, 3).select($"id".as("node"))
      graft.operators.LinkGraph
        .harmonicFromSeeds(e, seeds, maxDepth = 5)
        .orderBy($"node")
    },
      // Recursive-CTE shortest path over the identical synthesized edge set:
      // every <=6-step walk from the seeds, min path length per node == the
      // BFS distance the frontier iteration settles.
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT doc_id % 89 AS a, (doc_id * 23 + 11) % 89 AS b
        |  FROM documents
        |  WHERE doc_id % 11 = 0 AND doc_id % 89 <> (doc_id * 23 + 11) % 89),
        |walk(seed, node, dist) AS (
        |  SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (VALUES (0), (1), (2)) v(s)
        |  UNION ALL
        |  SELECT w.seed, e.b, w.dist + 1 FROM walk w JOIN e ON e.a = w.node
        |  WHERE w.dist < 5),
        |d AS (SELECT seed, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
        |SELECT node, CAST(sum(60 // dist) AS BIGINT) AS harmonic,
        |  CAST(count(*) AS BIGINT) AS n_seeds
        |FROM d WHERE dist >= 1 GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("w_seed_distance", (s, dir) => {
      import s.implicits._
      // crawl depth: directed BFS distance from trusted seeds {0, 1} over a
      // SPARSE synthesized host graph (only doc_id%7==0 docs contribute an
      // edge → a chain-like 97-node graph whose radius exceeds the cap, so
      // both the frontier iteration and the maxDepth bound are exercised).
      // Oracle: recursive-CTE shortest path, min over all <=6-step walks.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" % 97).as("src"), (($"doc_id" * 17 + 29) % 97).as("dst"))
        .filter($"src" =!= $"dst")
      val seeds = s.range(0, 2).select($"id".as("node"))
      graft.operators.LinkGraph.bfsDistances(e, seeds, maxDepth = 6)
        .orderBy($"node")
    },
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT doc_id % 97 AS a, (doc_id * 17 + 29) % 97 AS b
        |  FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id % 97 <> (doc_id * 17 + 29) % 97),
        |walk(node, dist) AS (
        |  SELECT CAST(node AS BIGINT), CAST(dist AS BIGINT)
        |  FROM (VALUES (0, 0), (1, 0)) v(node, dist)
        |  UNION ALL
        |  SELECT e.b, w.dist + 1 FROM walk w JOIN e ON e.a = w.node
        |  WHERE w.dist < 6)
        |SELECT node, min(dist) AS dist FROM walk GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("w_reciprocal", (s, dir) => {
      import s.implicits._
      // reciprocal-link rate — the link-exchange signal (mutual links at
      // abnormal rates mark reciprocal farms; organic webs are strongly
      // asymmetric). Functional synthetic graph src -> (src*3+1)%50 plus
      // a planted mutual pair; an edge is reciprocal iff its reverse
      // exists — ONE self-join on the reversed key, dedup'd edges, loops
      // excluded. The oracle replays both hops of the functional map.
      val docs = s.read.parquet(pq(dir, "documents"))
      val edges = docs
        .select(($"doc_id" % 50).as("src"), (($"doc_id" % 50) * 3 + 1) % 50 as "dst")
        .union(Seq((7L, 22L), (22L, 7L)).toDF("src", "dst")) // planted mutual pair
        .filter($"src" =!= $"dst")
        .distinct()
        .cache()
      val rev = edges.select($"dst".as("src"), $"src".as("dst"))
      val recip = edges.join(rev, Seq("src", "dst"), "left_semi")
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal"),
          sum($"src" + $"dst").as("recip_key_sum")))
    },
      """WITH e0 AS (
        |  SELECT doc_id % 50 AS src, ((doc_id % 50) * 3 + 1) % 50 AS dst FROM documents
        |  UNION ALL SELECT 7, 22 UNION ALL SELECT 22, 7),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |r AS (SELECT e.src, e.dst FROM e
        |      WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  CAST(count(*) AS BIGINT) AS n_reciprocal,
        |  CAST(sum(src + dst) AS BIGINT) AS recip_key_sum
        |FROM r""".stripMargin),
  )
}
