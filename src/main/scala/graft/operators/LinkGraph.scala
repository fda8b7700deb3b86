package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Host-level link-graph analytics — the web-pipeline tier that ranks
  * crawl hosts by link structure (crawl prioritization, spam demotion,
  * quality priors for corpus weighting). The reference's world is 16
  * local files (no links at all); this is the from-scratch Spark-first
  * design for a graph extracted from 10^12 crawled pages.
  *
  * Scale shape:
  *   - `degrees` is two shuffles on the edge set (groupBy src, groupBy
  *     dst) merged with a full-outer join on the much smaller node set.
  *   - `pagerankInt` materializes the out-degree-annotated edge list
  *     ONCE (one shuffle, then cached); each iteration shuffles only the
  *     rank vector (one row per node, tiny next to the edges) to the
  *     edge partitions and the per-edge contributions back by dst.
  *     Dangling mass and the node count travel as a 1-row broadcast
  *     cross-join — no driver-side collect inside the loop.
  *
  * Determinism: ranks are computed in SCALED INTEGER arithmetic
  * (`scale` = rank mass per node, default 10^12). Integer sums are
  * exact and commutative, so the result is independent of partitioning,
  * reduce order, and engine — a DuckDB mirror replaying the same
  * `div`/`%` arithmetic reproduces every rank bit-for-bit, which no
  * floating-point PageRank can promise. Each node starts at `scale`
  * (mean-1 convention: values are stationary probabilities × N × scale);
  * one iteration is
  *
  *   pr'(v) = (15·scale) div 100
  *          + (85 · (Σ_{u→v} pr(u) div outdeg(u) + D div N)) div 100
  *
  * with D = Σ pr(u) over dangling nodes (outdeg 0) and N = |nodes| —
  * the classic d=0.85 damping with dangling-mass redistribution, in
  * integer division (truncation loses < 1 unit of mass per node per
  * term, deterministically).
  */
object LinkGraph {

  /** In/out degree per node over a (src, dst) edge list. Nodes that only
    * ever appear on one side get 0 for the other degree.
    */
  def degrees(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val out = edges.groupBy(F.col(srcCol).as("node")).agg(F.count(F.lit(1)).as("out_deg"))
    val in = edges.groupBy(F.col(dstCol).as("node")).agg(F.count(F.lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(F.col("node"),
        F.coalesce(F.col("out_deg"), F.lit(0L)).as("out_deg"),
        F.coalesce(F.col("in_deg"), F.lit(0L)).as("in_deg"))
  }

  /** Exact triangle counting over the undirected view of the edge list —
    * the local-clustering signal (link-farm and mirror-cluster detection:
    * spam constellations are triangle-dense). Returns
    * (node, n_triangles) for every node in at least one triangle.
    *
    * Algorithm: canonicalize each edge to (a < b), then one two-path
    * join closed by a third edge join, each triangle materialized once
    * as a < b < c (the ordered-edge form of the node-iterator
    * algorithm). Scale shape: two shuffles on node keys; the classic
    * refinement for skewed graphs — orient wedges at the LOWER-degree
    * endpoint so hub wedges collapse (Suri & Vassilvitskii 2011) — keeps
    * these exact semantics and changes only the orientation rule,
    * documented rather than built until a hub-heavy corpus needs it.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(F.least(F.col(srcCol), F.col(dstCol)).cast("long").as("a"),
        F.greatest(F.col(srcCol), F.col(dstCol)).cast("long").as("b"))
      .filter(F.col("a") =!= F.col("b")).distinct()
    val e1 = und.select(F.col("a").as("x"), F.col("b").as("y"))
    val e2 = und.select(F.col("a").as("y"), F.col("b").as("z"))
    val e3 = und.select(F.col("a").as("x"), F.col("b").as("z"))
    val tris = e1.join(e2, "y").join(e3, Seq("x", "z")) // x < y < z
    tris.select(F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).as("node"))
      .groupBy("node").agg(F.count(F.lit(1)).as("n_triangles"))
  }

  /** Co-citation similarity (Dean & Henzinger 1999, "related pages"):
    * two targets are related when many sources link to BOTH —
    * (a, b, n_common) for unordered target pairs a < b with their
    * common-in-neighbor count.
    *
    * Scale shape: the self-join on source explodes quadratically at a
    * hub SOURCE (a directory page linking to 10^5 targets contributes
    * C(10^5, 2) pairs), so sources above `maxOutDeg` are EXCLUDED
    * before the join — the same hot-key guard as the minhash bucket cap
    * and the n-gram maxDf: a page linking to everything carries no
    * similarity signal, and the cap makes the worst case
    * |sources|·maxOutDeg² instead of unbounded. The cap is part of the
    * operator's defined semantics (the oracle applies it identically).
    */
  def coCitationPairs(edges: DataFrame, maxOutDeg: Long,
                      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(maxOutDeg >= 2, s"maxOutDeg must be >= 2, got $maxOutDeg")
    val e = edges.select(F.col(srcCol).cast("long").as("src"), F.col(dstCol).cast("long").as("dst"))
      .distinct()
    val keptSrc = e.groupBy("src").agg(F.count(F.lit(1)).as("od"))
      .filter(F.col("od") <= maxOutDeg).select("src")
    val kept = e.join(keptSrc, "src")
    kept.select(F.col("src"), F.col("dst").as("a"))
      .join(kept.select(F.col("src"), F.col("dst").as("b")), "src")
      .filter(F.col("a") < F.col("b"))
      .groupBy("a", "b").agg(F.count(F.lit(1)).as("n_common"))
  }

  /** Integer-exact HITS (Kleinberg 1999, "Authoritative Sources in a
    * Hyperlinked Environment"): hubs point at good authorities,
    * authorities are pointed at by good hubs. Returns
    * (node, auth: long, hub: long) after exactly `iters` rounds.
    *
    * The float algorithm L2-normalizes each round; the integer-exact
    * variant rescales each vector to total mass N·scale instead
    * (L1 normalization — same fixpoint direction, deterministic):
    *
    *   rawa(v) = Σ_{u→v} hub(u);  auth(v) = (rawa(v) · N·scale) div Σ rawa
    *   rawh(u) = Σ_{u→v} auth(v); hub(u)  = (rawh(u) · N·scale) div Σ rawh
    *
    * All sums are exact integer arithmetic → partition- and
    * engine-independent, bit-for-bit mirrorable in SQL. Overflow bound:
    * rawa ≤ Σ hub = N·scale, so the rescale multiply needs
    * (N·scale)² < 2^63 — callers keep N·scale under ~3·10^9 (the
    * default 10^7 scale covers graphs to ~300 nodes at full precision;
    * larger graphs lower `scale`). ANSI mode makes a violation loud.
    *
    * Scale shape: the edge list is cached once; each round shuffles only
    * the SPARSE auth/hub vectors (one row per node with mass — zero-mass
    * nodes carry no row until the final projection), and the normalizers
    * travel as 1-row broadcast cross-joins (no driver collect in the
    * loop). Each rescaled vector is localCheckpoint'ed — raw vectors are
    * referenced twice (mass sum + rescale projection), which without
    * truncation grows the logical plan exponentially in `iters` (the
    * measured PageRank-loop failure mode).
    *
    * Requires at least one edge (the mass sums are then always positive,
    * so the integer divisions are well-defined every round).
    */
  def hitsInt(
      edges: DataFrame,
      iters: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      scale: Long = 10000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // the largest rescaled entry is >= scale (max raw >= tot / nNodes), so
    // only scale < 1 floors every entry to 0: reject it instead
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val e = edges.select(F.col(srcCol).cast("long").as("src"), F.col(dstCol).cast("long").as("dst"))
      .cache()
    require(!e.isEmpty, "hitsInt needs at least one edge (mass sums must stay positive)")
    val nodes = e.select(F.col("src").as("node"))
      .union(e.select(F.col("dst").as("node"))).distinct().localCheckpoint(true)
    // node count to the driver once, outside the loop — the old 1-row
    // frame was re-aggregated and re-broadcast every half-iteration
    val nNodes = nodes.count()
    // multiplyExact: the old in-plan `nn * scale` failed loudly under
    // ANSI on overflow; the hoisted Scala product must too
    val massScale = Math.multiplyExact(nNodes, scale)
    def rescale(raw: DataFrame, outCol: String): DataFrame = {
      val stats = raw.agg(F.sum(F.col("raw")).as("tot"))
      raw.crossJoin(F.broadcast(stats))
        .select(F.col("node"),
          F.expr(s"(raw * ${massScale}L) div tot").as(outCol))
        .localCheckpoint(true)
    }
    // EAGER checkpoint, not cache: a cache() here saves one scheduled
    // job per half-iteration on paper, but the cached gather plan
    // misses the adaptive join/partition optimizations the checkpoint
    // path gets (measured: +25% per-iteration wall time and ~2x the
    // task count) — the checkpointed flat frame is both the lineage
    // truncation and the fast path.
    // SPARSE vectors in the loop: a node with no in-edges (no out-edges
    // for the hub pass) simply has NO row, which contributes to the mass
    // sum, the rescale division and the next gather's edge join exactly
    // like the explicit 0 row used to — so the per-half-iteration left
    // join against the full node set is gone (one join + exchange fewer
    // per half-iteration, and the shuffled vector is bounded by nodes
    // WITH mass, not the node set). Zero rows are reconstituted once in
    // the final projection below.
    def gather(vec: DataFrame, vecCol: String, fromCol: String, toCol: String): DataFrame =
      e.join(vec.withColumnRenamed("node", fromCol), fromCol)
        .groupBy(F.col(toCol).as("node")).agg(F.sum(F.col(vecCol)).as("raw"))
        .localCheckpoint(true)
    var hub = nodes.select(F.col("node"), F.lit(scale).as("hub")).localCheckpoint(true)
    var auth: DataFrame = null // always assigned in round 1 (iters >= 1 enforced)
    for (_ <- 1 to iters) {
      auth = rescale(gather(hub, "hub", "src", "dst"), "auth")
      hub = rescale(gather(auth, "auth", "dst", "src"), "hub")
    }
    nodes.join(auth, Seq("node"), "left").join(hub, Seq("node"), "left")
      .select(F.col("node"),
        F.coalesce(F.col("auth"), F.lit(0L)).as("auth"),
        F.coalesce(F.col("hub"), F.lit(0L)).as("hub"))
  }

  /** Integer-exact PageRank; returns (node, pr: long). `edges` must be a
    * distinct directed edge list (callers dedup; self-loops are legal and
    * count like any other edge). Runs exactly `iters` iterations — rank
    * queries want a fixed, reproducible depth, not a convergence race.
    */
  def pagerankInt(
      edges: DataFrame,
      iters: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(F.col(srcCol).cast("long").as("src"), F.col(dstCol).cast("long").as("dst"))
    val nodes = e.select(F.col("src").as("node"))
      .union(e.select(F.col("dst").as("node"))).distinct().cache()
    val odeg = e.groupBy(F.col("src")).agg(F.count(F.lit(1)).as("od"))
    // out-degree-annotated edges: the loop's big side, shuffled once here
    // and reused (cached) by every iteration's src-join
    val eo = e.join(odeg, "src").cache()
    // dangling MEMBERSHIP precomputed once as a 0/1 column carried in
    // the node frame (and so in every round's rank vector): the
    // per-iteration dangling-mass term is then a filter+agg over the
    // checkpointed vector — no membership join, no per-round broadcast
    // build (the same carry-the-flag shape trustrankInt uses for seed
    // membership)
    val nd = nodes.join(odeg, nodes("node") === odeg("src"), "left")
      .select(F.col("node"),
        F.when(F.col("od").isNull, F.lit(1L)).otherwise(F.lit(0L)).as("is_dang"))
      .localCheckpoint(true)
    // node count to the driver ONCE, outside the loop (model-sized scalar,
    // same shape as the convergence sums) — the old per-iteration
    // broadcast cross-join re-aggregated the node set every round
    val nNodes = nodes.count()
    val teleport = 15L * scale / 100L // exact integer constant, both engines

    // Each iteration references the previous rank vector TWICE (the
    // contribution join and the dangling-mass sum), so a cache-only loop
    // leaves a logical plan with 2^iters copies of the recursion for the
    // analyzer to walk — measured DOUBLING of per-iteration wall time
    // (22 s by iteration 5 on a 41-node graph; all driver analysis, no
    // data). The eager localCheckpoint both materializes the vector (one
    // node-sized frame on executor-local storage — the standard iterative
    // trade: a lost executor fails the job instead of recomputing, rerun
    // from the last reliable snapshot at cluster scale) and truncates the
    // plan to a flat scan, so planning cost is constant per iteration.
    var pr = nd.select(F.col("node"), F.col("is_dang"), F.lit(scale).as("pr"))
    for (_ <- 1 to iters) {
      val inc = eo.join(pr, eo("src") === pr("node"))
        .select(F.col("dst").as("node"), F.expr("pr div od").as("c"))
        .groupBy("node").agg(F.sum(F.col("c")).as("inc"))
      val dang = pr.filter(F.col("is_dang") === 1L)
        .agg(F.coalesce(F.sum(F.col("pr")), F.lit(0L)).as("d"))
      pr = nd.join(inc, Seq("node"), "left")
        .crossJoin(F.broadcast(dang))
        .select(F.col("node"), F.col("is_dang"),
          (F.lit(teleport) +
            F.expr(s"(85 * (coalesce(inc, CAST(0 AS BIGINT)) + (d div ${nNodes}L))) div 100"))
            .as("pr"))
        .localCheckpoint(true)
    }
    pr.select(F.col("node"), F.col("pr"))
  }

  /** Integer-exact personalized PageRank / TrustRank (Gyöngyi, Garcia-
    * Molina & Pedersen 2004, "Combating Web Spam with TrustRank"): the
    * random surfer teleports only to a hand-picked trusted SEED set, so
    * trust flows outward from seeds along links and link farms with no
    * inbound path from a seed score ~0 regardless of their internal link
    * mass — the classic spam-demotion complement to [[pagerankInt]]
    * (whose uniform teleport a spam constellation can farm). Dangling
    * mass also returns to the seeds (the TrustRank convention).
    *
    * Same determinism contract as [[pagerankInt]]: all arithmetic is
    * scaled-integer, total mass N·scale, so every rank is a
    * deterministic BIGINT reproducible bit-for-bit by a SQL mirror.
    * With one mass unit m = N·scale, s = |seeds| and tdiv = truncating
    * integer division (Spark `div` == DuckDB `//`, both toward zero):
    *
    *   pr0(v)  = [v∈S] · tdiv(m, s)
    *   pr'(v)  = [v∈S] · tdiv(tdiv(15·scale, 100) · N, s)
    *           + tdiv(85 · (Σ_{u→v} tdiv(pr(u), od(u)) + [v∈S]·tdiv(D, s)), 100)
    *
    * Degenerate-consistency property (unit-tested): with seeds = ALL
    * nodes this reduces algebraically to [[pagerankInt]]'s update
    * (teleport tdiv(15·scale·N,N)=15·scale div 100, dangling D div N),
    * so the two agree bit-for-bit — personalization is the ONLY delta.
    *
    * Overflow bound: tdiv(15·scale,100)·N must fit a long — callers keep
    * scale·N below ~6·10^17 (at the default scale, graphs to ~600k
    * nodes; billion-host graphs lower `scale`, same as pagerankInt).
    *
    * Scale shape: identical to [[pagerankInt]] — the out-degree-annotated
    * edge list is the loop's big side (shuffled once, reused); each
    * round moves only the node-sized rank vector plus a 1-row broadcast
    * (dangling mass, N, s); seed membership is a node-sized left join
    * computed once and carried in the vector. Eager localCheckpoint per
    * round for the measured plan-growth reason documented above.
    *
    * `seeds` is a 1-column (`node`) frame; seeds not present in the edge
    * set are ignored (they can neither receive nor emit link mass).
    * Requires at least one surviving seed. Returns (node, is_seed, tr).
    */
  def trustrankInt(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(F.col(srcCol).cast("long").as("src"), F.col(dstCol).cast("long").as("dst"))
    val nodes = e.select(F.col("src").as("node"))
      .union(e.select(F.col("dst").as("node"))).distinct()
    val sd = seeds.select(F.col("node").cast("long").as("node")).distinct()
    val odeg = e.groupBy(F.col("src")).agg(F.count(F.lit(1)).as("od"))
    val eo = e.join(odeg, "src").cache()
    // node vector annotated ONCE with seed AND dangling membership
    // (0/1 each); the loop reuses this frame so neither lookup ever
    // re-joins inside iterations — the dangling-mass term is a
    // filter+agg over the checkpointed rank vector (see pagerankInt)
    val nodeSeed = nodes.join(sd.withColumn("is_seed", F.lit(1L)), Seq("node"), "left")
      .join(odeg, F.col("node") === F.col("src"), "left")
      .select(F.col("node"), F.coalesce(F.col("is_seed"), F.lit(0L)).as("is_seed"),
        F.when(F.col("od").isNull, F.lit(1L)).otherwise(F.lit(0L)).as("is_dang"))
      .localCheckpoint(true)
    // node/seed counts to the driver ONCE, outside the loop (the seed
    // presence check needed an action here anyway)
    val cRow = nodeSeed.agg(
      F.count(F.lit(1)).as("n_nodes"),
      F.sum(F.col("is_seed")).as("n_seeds")).head
    val nNodes = cRow.getLong(0)
    val nSeeds = if (cRow.isNullAt(1)) 0L else cRow.getLong(1)
    require(nSeeds > 0L,
      "trustrankInt needs at least one seed present in the edge set")
    val perNodeTeleport = 15L * scale / 100L // exact: scale is a multiple of 100

    var pr = nodeSeed
      .select(F.col("node"), F.col("is_seed"), F.col("is_dang"),
        F.expr(s"is_seed * ((${nNodes}L * ${scale}L) div ${nSeeds}L)").as("tr"))
    for (_ <- 1 to iters) {
      val inc = eo.join(pr, eo("src") === pr("node"))
        .select(F.col("dst").as("node"), F.expr("tr div od").as("c"))
        .groupBy("node").agg(F.sum(F.col("c")).as("inc"))
      val dang = pr.filter(F.col("is_dang") === 1L)
        .agg(F.coalesce(F.sum(F.col("tr")), F.lit(0L)).as("d"))
      pr = nodeSeed.join(inc, Seq("node"), "left")
        .crossJoin(F.broadcast(dang))
        .select(F.col("node"), F.col("is_seed"), F.col("is_dang"),
          F.expr(
            s"""is_seed * ((${perNodeTeleport}L * ${nNodes}L) div ${nSeeds}L)
               | + (85 * (coalesce(inc, CAST(0 AS BIGINT))
               |          + is_seed * (d div ${nSeeds}L))) div 100""".stripMargin.replace("\n", ""))
            .as("tr"))
        .localCheckpoint(true)
    }
    pr.select(F.col("node"), F.col("is_seed"), F.col("tr"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007) made DETERMINISTIC: every node starts labeled with itself;
    * each round it adopts the most frequent label among its undirected
    * neighbors plus one self-vote, ties broken to the SMALLEST label.
    * Classic async LPA is run-order-dependent; the synchronous variant
    * with a fixed round count and a total tie order is a pure function
    * of the edge set, so an oracle can replay it round by round.
    * Communities are the natural host-clustering primitive on a web
    * graph (mirror farms, shared-template site families) and complement
    * [[graft.operators.Dedup.connectedComponents]], which merges on ANY
    * path — LPA splits a weakly-connected blob along its dense cores.
    *
    * Scale shape: per round ONE edge-sized join (neighbor label gather)
    * + one (node, label)-keyed aggregate — the same per-iteration
    * shuffle budget as [[pagerankInt]]. The label vector is eagerly
    * localCheckpoint'ed each round for the same plan-growth reason
    * documented there. Returns (node, lab).
    */
  def labelPropagation(
      edges: DataFrame,
      iters: Int,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(F.col(srcCol).cast("long").as("a"), F.col(dstCol).cast("long").as("b"))
    // undirected deduped adjacency, shuffled once and reused every round
    val und = e.union(e.select(F.col("b"), F.col("a")))
      .filter(F.col("a") =!= F.col("b")).distinct().cache()
    val nodes = und.select(F.col("a").as("node")).distinct()
    var labels = nodes.select(F.col("node"), F.col("node").as("lab")).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val votes = und.join(labels, und("b") === labels("node"))
        .select(und("a").as("node"), F.col("lab"))
        .unionByName(labels.select(F.col("node"), F.col("lab")))
      // argmax by (count desc, lab asc) as max(struct(c, -lab)) — a
      // partial-aggregable hash aggregate instead of a per-node
      // row_number window: same total tie order (labels are
      // non-negative longs, so -lab inverts their order exactly), one
      // sort fewer per round, and at scale no per-key sort at all
      labels = votes.groupBy(F.col("node"), F.col("lab"))
        .agg(F.count(F.lit(1)).as("c"))
        .groupBy(F.col("node"))
        .agg(F.max(F.struct(F.col("c"), (-F.col("lab")).as("nl"))).as("w"))
        .select(F.col("node"), (-F.col("w.nl")).as("lab"))
        .localCheckpoint(true)
    }
    und.unpersist()
    labels
  }

  /** Strongly connected components of the directed host graph — the
    * spider-trap / crawl-loop signal: a multi-node SCC is a set of pages
    * that link back into each other forever (calendar traps, session-id
    * loops), and crawl schedulers cap budget per SCC rather than per
    * page. Returns (node, scc) with the component labeled by its SMALLEST
    * member id (a canonical representative, same convention as
    * [[graft.operators.Dedup.connectedComponents]]).
    *
    * Algorithm: iterative forward-coloring + backward-reach (Orzan 2004 /
    * the FW-BW-Trim family — the published distributed SCC recipe, NOT a
    * quadratic transitive closure):
    *   1. propagate min node id FORWARD along edges to fixpoint: color(v)
    *      = the least id that reaches v in the remaining subgraph;
    *   2. the backward reach is the SAME fixpoint on the REVERSED graph
    *      restricted to same-color edges: backColor(v) = the least id v
    *      can reach inside its color class, which equals color(v)
    *      exactly when v and its root reach each other — i.e. v is in
    *      SCC(root) (any v->root or root->v path stays inside the color
    *      class: an intermediate node with a smaller color would force a
    *      smaller color onto v or the root);
    *   3. peel the settled SCCs from the graph and repeat.
    * Each round settles at least the SCC of the smallest remaining node,
    * so rounds <= #SCCs (in practice a handful: every color-class root
    * settles per round). Both fixpoints run [[minColorFixpoint]] with
    * pointer doubling (~log(diameter) rounds, not diameter). All steps
    * are key-partitioned joins; frames are lineage-truncated like the
    * other iterative graph operators. Throws (not spins) past
    * `maxRounds`.
    */
  def stronglyConnectedComponents(edges: DataFrame, maxRounds: Int = 25,
                                  srcCol: String = "src",
                                  dstCol: String = "dst"): DataFrame = {
    // Lazy checkpoints throughout the peel loop: every frame is marked for
    // truncation but materialized by the FIRST action that needs it (the
    // init sum, the emptiness probe), so each peel round pays one
    // scheduling round-trip per result it actually consumes instead of one
    // eager job per checkpoint.
    var e = edges.select(F.col(srcCol).cast("long").as("a"),
      F.col(dstCol).cast("long").as("b"))
      .filter(F.col("a") =!= F.col("b")).distinct().localCheckpoint(false)
    var nodes = e.select(F.col("a").as("node"))
      .union(e.select(F.col("b").as("node"))).distinct().localCheckpoint(false)
    var result = nodes.sparkSession.range(0)
      .select(F.col("id").as("node"), F.col("id").as("scc"))
    var round = 0
    while (!nodes.isEmpty) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"stronglyConnectedComponents did not settle in $maxRounds rounds")
      // both fixpoints start from self-colors over the same node set —
      // build (and sum) that init once per peel round; the sum action
      // materializes the lazy checkpoint in the same job
      val init = nodes.select(F.col("node"), F.col("node").as("color"))
        .localCheckpoint(false)
      val initSum = init.agg(F.sum(F.col("color").cast("decimal(38,0)")))
        .head.getDecimal(0)
      // 1. forward min-color fixpoint: color(v) = least id that reaches v
      val colors = minColorFixpoint(e, init, initSum)
      // 2. the backward reach is the SAME primitive on the reversed graph
      // restricted to same-color edges: within a color class every id is
      // >= the root r (r reaches each member, and color = min reaching
      // id <= own id), so backColor(v) — the least id v can reach inside
      // its class — equals r exactly when v reaches its root, i.e. when
      // v is in SCC(r). One doubled fixpoint replaces the old
      // frontier-BFS whose round count was the SCC diameter.
      val er = e.join(colors.withColumnRenamed("node", "a")
          .withColumnRenamed("color", "ca"), "a")
        .join(colors.withColumnRenamed("node", "b")
          .withColumnRenamed("color", "cb"), "b")
        .filter(F.col("ca") === F.col("cb"))
        .select(F.col("b").as("a"), F.col("a").as("b"))
        .cache()
      val back = minColorFixpoint(er, init, initSum)
      val settled = colors.join(
          back.withColumnRenamed("color", "backColor"), "node")
        .filter(F.col("color") === F.col("backColor"))
        .select(F.col("node"), F.col("color").as("scc"))
        .localCheckpoint(false)
      er.unpersist()
      // 3. peel: settled nodes leave the graph. `result` needs no
      // checkpoint of its own — it is a flat union of checkpointed
      // settled frames, one branch per peel round. The loop-top isEmpty
      // probe materializes `nodes` (and `settled` under it); `e` is
      // materialized by the next round's first fixpoint job.
      result = result.unionByName(settled)
      nodes = nodes.join(settled.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(false)
      e = e.join(settled.select(F.col("node").as("a")), Seq("a"), "left_anti")
        .join(settled.select(F.col("node").as("b")), Seq("b"), "left_anti")
        .select("a", "b").localCheckpoint(false)
    }
    result
  }

  /** Min-label reachability fixpoint with pointer doubling: returns
    * (node, color) where color(v) = the least node id with a directed
    * path to v over `e` (columns a -> b), v included. Each round takes
    * the min over (i) the node's own color, (ii) every in-neighbor's
    * color (edge relaxation — the fixpoint-defining step), and (iii)
    * color(color(v)) (pointer jump — sound because reachability is
    * transitive: color(v) reaches v and color(color(v)) reaches
    * color(v)). The jump composes witness paths, so chains collapse in
    * ~log(diameter) rounds instead of diameter (Shiloach-Vishkin style
    * shortcutting); a stalled round means edge relaxation itself had no
    * effect, so the stall point IS the relax-only fixpoint and the jump
    * only accelerates.
    *
    * Convergence is detected WITHOUT a join: colors only decrease, so
    * the color sum is monotone non-increasing and stalls exactly at the
    * fixpoint — the one agg job per round also materializes the round's
    * cache. decimal(38,0) keeps the sum exact past long range at
    * web-graph node counts.
    *
    * `init` must be an already-materialized localCheckpoint of
    * (node, color=node) self-colors with `initSum` its color sum — SCC
    * peel rounds run TWO fixpoints from the same init, so the caller
    * builds it once.
    */
  private def minColorFixpoint(
      e: DataFrame,
      init: DataFrame,
      initSum: java.math.BigDecimal): DataFrame = {
    var colors = init
    var colorsCkpt = true // init must be a materialized localCheckpoint
    var prevSum = initSum
    var converged = prevSum == null
    var inner = 0
    while (!converged) {
      inner += 1
      if (inner > 1000) throw new IllegalStateException(
        "min-color fixpoint did not converge (graph mutated concurrently?)")
      // ONE edge-relax join per round over the edge set extended with the
      // current colors viewed as edges (color -> node): relaxing a color
      // edge IS the pointer jump (color(color(v)) reaches v by
      // transitivity), so the former separate jump join — and its
      // per-round broadcast build — folds into the single relax join.
      val relaxEdges = e
        .union(colors.select(F.col("color").as("a"), F.col("node").as("b")))
      var viaAll = relaxEdges.join(colors, relaxEdges("a") === colors("node"))
        .select(F.col("b").as("node"), F.col("color"))
      // round 1 additionally unions the partition-LOCAL min-reach
      // fixpoint (one map-side pass, zero shuffles): local paths are a
      // subset of all paths, so the seed sits between the self-color
      // init and the global fixpoint — monotonicity and the sum-stall
      // test are untouched, but the loop skips every round it would
      // have spent rediscovering intra-partition reachability
      if (inner == 1) viaAll = viaAll.union(localMinReach(e))
      // ONE job per round: the sum agg materializes the round's cache.
      // The union references `colors` three times, so the logical
      // plan would triple per round — truncate every 3rd round (27x base
      // plan worst case, flat again after). The checkpoint job then runs
      // over already-cached blocks; unpersisting superseded CACHED rounds
      // is safe because recompute walks back at most 3 rounds to the last
      // checkpoint (checkpoints are never unpersisted mid-iteration).
      var next = colors.union(viaAll)
        .groupBy("node").agg(F.min("color").as("color"))
      val doCkpt = inner % 3 == 0
      next = if (doCkpt) next.localCheckpoint(true) else next.cache()
      val sumNow = next.agg(F.sum(F.col("color").cast("decimal(38,0)")))
        .head.getDecimal(0)
      if (!colorsCkpt) colors.unpersist()
      colorsCkpt = doCkpt
      colors = next
      converged = sumNow == null || prevSum.compareTo(sumNow) == 0
      prevSum = sumNow
    }
    // callers embed the result into downstream iterated plans (the
    // reversed-restricted edge set, the settle join) — hand back a flat
    // self-contained frame
    if (!colorsCkpt) {
      val flat = colors.localCheckpoint(true)
      colors.unpersist()
      colors = flat
    }
    colors
  }

  /** Partition-local directed min-reach relaxation (zero shuffles): per
    * partition, iterate label(b) = min(label(b), label(a)) over the
    * local edge slice to ITS fixpoint (edge-list passes, bounded by the
    * slice's local diameter) and emit (node, color) for every endpoint
    * seen. Memory per task is bounded by the partition's distinct-node
    * count — the same bound the loop's per-round hash aggregation
    * already needs. Companion of [[graft.operators.Dedup]]'s union-find
    * contraction, for DIRECTED reachability where union-find does not
    * apply.
    */
  private def localMinReach(e: DataFrame): DataFrame = {
    val ss = e.sparkSession
    import ss.implicits._
    e.select(F.col("a").cast("long"), F.col("b").cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        val edges = it.toArray
        val color = new scala.collection.mutable.LongMap[Long]()
        edges.foreach { case (a, b) =>
          if (!color.contains(a)) color(a) = a
          if (!color.contains(b)) color(b) = b
        }
        var changed = edges.nonEmpty
        while (changed) {
          changed = false
          var i = 0
          while (i < edges.length) {
            val ed = edges(i)
            val ca = color(ed._1)
            if (ca < color(ed._2)) { color(ed._2) = ca; changed = true }
            i += 1
          }
        }
        color.iterator
      }
      .toDF("node", "color")
  }

  /** k-core decomposition (coreness per node) over the undirected view
    * of the edge list — the density-tier signal link-spam and crawl-seed
    * selection lean on: a node's coreness is the largest k such that it
    * survives inside a subgraph where EVERY node keeps degree >= k
    * (Seidman 1983). Link farms and tightly-woven mirror constellations
    * sit in high cores; pendant/orphan pages sit at coreness <= 1, and
    * "core retention" is a standard crawl-frontier quality prior.
    * Returns (node, coreness: long) for every node with at least one
    * edge (coreness >= 1 by construction; isolated self-loop-only nodes
    * are dropped with the self loops).
    *
    * Algorithm: bucket peeling over the EDGE set — for k = 1..maxK
    * repeatedly drop every edge touching a node of remaining degree < k
    * until the edge count stalls; the alive set is implicit as the edge
    * endpoints, and survivors of level k have coreness >= k. Each peel
    * round is one degree aggregation plus two anti-joins — all
    * key-partitioned shuffles on the node id, no driver-side graph.
    * The edge set shrinks monotonically (peeled endpoints leave), so
    * late levels run over a fraction of the input; this is the standard
    * distributed coreness recipe when the full degeneracy ordering is
    * not needed (the O(diameter)-round locality algorithm of Montresor
    * et al. 2013 is the alternative when peel chains are long).
    *
    * Round bound: a peel CHAIN (path graph at k = 2) can take O(n)
    * rounds; `maxPeelRounds` throws rather than spins, which also makes
    * a fixed-depth SQL-mirror of the peeling exact: convergence within
    * R rounds means rounds R+1.. are no-ops, so a mirror that unrolls
    * exactly R rounds per level computes the identical fixpoint.
    * Per-round convergence is the alive-count stalling (one count job on
    * the round's checkpoint — the count is needed to decide emptiness
    * anyway).
    */
  def coreNumbers(
      edges: DataFrame,
      maxK: Int,
      maxPeelRounds: Int = 25,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1, got $maxK")
    val spark = edges.sparkSession
    // undirected both-direction view: degree(v) = rows with a = v
    val e0 = edges.select(F.col(srcCol).cast("long").as("a"),
        F.col(dstCol).cast("long").as("b"))
      .filter(F.col("a") =!= F.col("b"))
    // lazy checkpoint + count: ONE job materializes the truncated frame
    // and returns the row count (the eager-checkpoint-then-count shape
    // paid two scheduling round-trips for the same work)
    var und = e0.union(e0.select(F.col("b").as("a"), F.col("a").as("b")))
      .distinct().localCheckpoint(false)
    var undRows = und.count()
    // survivors of level k, tagged k; coreness = max surviving level
    var tagged = spark.range(0)
      .select(F.col("id").as("node"), F.col("id").as("coreness"))
    var k = 1
    while (k <= maxK && undRows > 0) {
      var round = 0
      var stable = false
      while (!stable && undRows > 0) {
        round += 1
        if (round > maxPeelRounds) throw new IllegalStateException(
          s"k-core peel at k=$k did not stabilize in $maxPeelRounds rounds " +
            "(long peel chain — raise maxPeelRounds)")
        // peel EDGES, not a separate alive set: drop every edge touching a
        // node of degree < k; the alive set is implicit as the edge
        // endpoints. Anti-joins are load-bearing here — Catalyst's
        // size-only stats estimator multiplies the children's sizeInBytes
        // through INNER joins and localCheckpoint copies the origin
        // plan's estimate, so a per-level chain of checkpointed inner
        // joins compounds sizeInBytes multiplicatively until the
        // optimizer spends minutes multiplying million-digit BigIntegers
        // (measured: 50 s/level by k=8 on a 2,000-edge graph). LeftAnti
        // estimates as the LEFT side alone, keeping stats linear across
        // arbitrarily many levels.
        val bad = und.groupBy(F.col("a").as("node"))
          .agg(F.count(F.lit(1)).as("deg"))
          .filter(F.col("deg") < k)
          .select("node")
        // lazy checkpoint: the stall-test count is the materializing job,
        // so each peel round costs ONE scheduling round-trip, not two
        val next = und
          .join(bad.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
          .join(bad.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
          .select("a", "b").localCheckpoint(false)
        val m = next.count()
        // edge-count stall <=> no node was below k <=> node-set fixpoint
        stable = m == undRows
        und = next
        undRows = m
      }
      if (undRows > 0) {
        // LEVEL JUMP: the stabilized graph's minimum degree m bounds the
        // next peel that can remove anything — every current node has
        // degree >= m, so levels k..m stabilize instantly on the same
        // graph and the per-level tags they would emit are this same
        // node set at increasing k. One tag at min(m, maxK) preserves
        // the per-node max exactly, and the loop resumes at m+1,
        // skipping the provable no-op levels (each of which cost a full
        // degree-aggregate + anti-join round).
        val minDeg = und.groupBy(F.col("a")).agg(F.count(F.lit(1)).as("deg"))
          .agg(F.min(F.col("deg"))).head().getLong(0)
        val tagLevel = math.min(maxK.toLong, minDeg)
        // plain union — every branch reads an already-checkpointed und
        // snapshot, so the accumulated lineage stays a flat union;
        // the former per-level eager checkpoint was a job per level for
        // nothing
        tagged = tagged.unionByName(
          und.select(F.col("a").as("node")).distinct()
            .select(F.col("node"), F.lit(tagLevel).as("coreness")))
        k = tagLevel.toInt + 1
      } else {
        k += 1
      }
    }
    tagged.groupBy("node").agg(F.max("coreness").as("coreness"))
  }

  /** Directed BFS distance (link depth) from a seed set — how crawl
    * frontiers rank discovery and how quality propagates from trusted
    * seeds outward (the OPIC/seed-distance signal; Cho & Garcia-Molina
    * 1998 crawl ordering). Returns (node, dist) for every node reachable
    * within `maxDepth` hops, dist 0 for the seeds themselves.
    *
    * Scale shape: synchronous frontier expansion — each round is ONE
    * equi-join of the current frontier against the edge list plus one
    * anti-join against the settled set, both on the node key; the edge
    * list is shuffled once and reused cached every round. Work per round
    * is proportional to the frontier's out-edges (semi-naive: settled
    * nodes never re-expand), and the round count is the graph's radius
    * from the seeds, bounded by `maxDepth`. The settled set is
    * lineage-truncated every round (it is the union root of the whole
    * iteration), so planning cost stays flat in depth.
    */
  def bfsDistances(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "node"): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val e = edges.select(F.col(srcCol).cast("long").as("a"),
      F.col(dstCol).cast("long").as("b")).distinct().cache()
    var settled = seeds.select(F.col(seedCol).cast("long").as("node")).distinct()
      .select(F.col("node"), F.lit(0L).as("dist"))
      .localCheckpoint(true)
    var frontier = settled
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val next = e.join(frontier, e("a") === frontier("node"))
        .select(F.col("b").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .select(F.col("node"), F.lit(depth.toLong).as("dist"))
      // LAZY checkpoints on both (frontier feeds next round's join,
      // settled is the growing union root — truncation still keeps
      // per-round plans constant-size): the loop-top isEmpty probe is
      // the one job that materializes the round, instead of two eager
      // checkpoint jobs plus the probe
      frontier = next.localCheckpoint(false)
      settled = settled.unionByName(frontier).localCheckpoint(false)
    }
    e.unpersist()
    settled
  }

  /** Seed-LABELED multi-source BFS: one [[bfsDistances]] pass whose state
    * is keyed on (seed, node) instead of node — every seed's distance to
    * every node it reaches within `maxDepth`, in ONE frontier iteration
    * (round count = the max radius, not radius x |seeds|). This is the
    * input to bounded harmonic centrality (Boldi & Vigna 2014,
    * "Axioms for centrality": harmonic = Σ 1/d handles disconnected
    * graphs where closeness breaks), computed exactly in scaled integers
    * by the caller: Σ (L / d) with L a multiple of lcm(1..maxDepth), so
    * every division is exact and the score is engine-portable.
    *
    * Scale shape: identical to bfsDistances — the edge list shuffles
    * once and is reused cached; per round one equi-join on the node key
    * and one two-column anti-join against the settled set; frontier rows
    * are (seed, node) pairs, bounded by |seeds| x nodes but in practice
    * by the seeds' reach. Both frames are eagerly lineage-truncated per
    * round.
    */
  def seedDistances(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "node"): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val e = edges.select(F.col(srcCol).cast("long").as("a"),
      F.col(dstCol).cast("long").as("b")).distinct().cache()
    var settled = seeds.select(F.col(seedCol).cast("long").as("seed")).distinct()
      .select(F.col("seed"), F.col("seed").as("node"), F.lit(0L).as("dist"))
      .localCheckpoint(true)
    var frontier = settled
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val next = e.join(frontier, e("a") === frontier("node"))
        .select(F.col("seed"), F.col("b").as("node")).distinct()
        .join(settled, Seq("seed", "node"), "left_anti")
        .select(F.col("seed"), F.col("node"), F.lit(depth.toLong).as("dist"))
      // lazy checkpoints, materialized by the loop-top probe — see
      // bfsDistances
      frontier = next.localCheckpoint(false)
      settled = settled.unionByName(frontier).localCheckpoint(false)
    }
    e.unpersist()
    settled
  }

  /** Bounded harmonic centrality from a seed set, exact in scaled
    * integers: h(v) = Σ over seeds s ≠ v reaching v within maxDepth of
    * scale/d(s,v), with `scale` divisible by lcm(1..maxDepth) so every
    * term is an exact integer (maxDepth <= 6 with the default 60).
    * Returns (node, harmonic: long, n_seeds: long) for every node some
    * seed reaches (seeds score their OWN row only via other seeds).
    */
  def harmonicFromSeeds(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int,
      scale: Long = 60L,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "node"): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    (1L to maxDepth).foreach(d => require(scale % d == 0,
      s"scale $scale not divisible by $d — harmonic terms would truncate"))
    seedDistances(edges, seeds, maxDepth, srcCol, dstCol, seedCol)
      .filter(F.col("dist") >= 1)
      .groupBy("node")
      .agg(F.sum(F.expr(s"$scale div dist")).as("harmonic"),
        F.count(F.lit(1)).as("n_seeds"))
  }
}
