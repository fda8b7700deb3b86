package graft
package queries

import graft.queries.Shared.pq
import org.apache.spark.sql.functions._

/** `q_*`: relational coverage (SURVEY §2.2-2.6 analogs) over the
  * TPC-H-style tables and events, with exact DuckDB oracles. */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    Query("q_keywords", (s, dir) => {
      import s.implicits._
      // F12/A6: corpus-wide keyword frequency ranking, top 20
      s.read.parquet(pq(dir, "documents"))
        .select(explode(split(lower($"text"), "\\s+")).as("w"))
        .select(regexp_replace($"w", "[^a-z]", "").as("kw"))
        .filter(length($"kw") >= 4 && !$"kw".isin("that", "with", "this"))
        .groupBy($"kw")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"kw")
        .limit(20)
    },
      """SELECT kw, count(*) AS n FROM (
        |  SELECT regexp_replace(unnest(string_split_regex(lower(text),'\s+')), '[^a-z]', '', 'g') AS kw
        |  FROM documents)
        |WHERE length(kw) >= 4 AND kw NOT IN ('that','with','this')
        |GROUP BY kw ORDER BY n DESC, kw LIMIT 20""".stripMargin),
    Query("q_agg_pricing", (s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "lineitem"))
        .filter($"l_shipdate" <= lit("1998-09-01"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(($"l_extendedprice" * (lit(1) - $"l_discount")).cast("decimal(18,4)")).cast("double").as("revenue")
        )
        .orderBy($"l_returnflag", $"l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem WHERE l_shipdate <= '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q_join_revenue", (s, dir) => {
      import s.implicits._
      val cust = s.read.parquet(pq(dir, "customer"))
      val nat = s.read.parquet(pq(dir, "nation"))
      val ord = s.read.parquet(pq(dir, "orders"))
      ord
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .groupBy($"n_name")
        .agg(
          count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue")
        )
        .orderBy($"revenue".desc, $"n_name")
        .limit(10)
    },
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 10""".stripMargin),
    Query("q_funnel", (s, dir) => {
      import s.implicits._
      // ordered-funnel conversion view -> click -> purchase within 24 h of
      // each user's FIRST view (greedy-earliest per step, exact epoch-micro
      // comparisons). conv_micros = total anchor-to-deepest-step time,
      // pinning every matched timestamp, not just the reach counts.
      val ev = s.read.parquet(pq(dir, "events"))
      graft.operators.Funnel
        .conversion(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), windowMicros = 86400000000L)
        .groupBy($"reached")
        .agg(count(lit(1)).as("n_users"), sum($"user").as("id_sum"),
          sum($"t_last" - $"t1").as("conv_micros"))
        .orderBy($"reached")
    },
      // mirror of Sessionize(gap = 30 min): integer-microsecond lag gaps,
      // cumulative-sum session ids over the same (ts, event_id) total order
      """WITH ev AS (
        |  SELECT user_id AS u, epoch_us(ts) AS m, event_type AS et
        |  FROM events),
        |s1 AS (SELECT u, min(m) AS t1 FROM ev WHERE et = 'view' GROUP BY u),
        |s2 AS (
        |  SELECT e.u, s1.t1, min(e.m) AS t2
        |  FROM ev e JOIN s1 ON e.u = s1.u
        |  WHERE e.et = 'click' AND e.m > s1.t1
        |    AND e.m - s1.t1 <= 86400000000
        |  GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.u, s2.t1, min(e.m) AS t3
        |  FROM ev e JOIN s2 ON e.u = s2.u
        |  WHERE e.et = 'purchase' AND e.m > s2.t2
        |    AND e.m - s2.t1 <= 86400000000
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT s1.u, s1.t1,
        |    CASE WHEN s3.t3 IS NOT NULL THEN 3
        |         WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS reached,
        |    coalesce(s3.t3, s2.t2, s1.t1) AS t_last
        |  FROM s1
        |  LEFT JOIN s2 ON s1.u = s2.u
        |  LEFT JOIN s3 ON s1.u = s3.u)
        |SELECT CAST(reached AS BIGINT) AS reached,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(u) AS BIGINT) AS id_sum,
        |  CAST(sum(t_last - t1) AS BIGINT) AS conv_micros
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_sessionize", (s, dir) => {
      import s.implicits._
      // 30-minute-gap sessionization of the event stream, cohorted by
      // user_id % 10: session counts, event mass, total session duration
      // (integer micros), and the longest session. The oracle replays
      // lag/cumsum session assignment with the identical (ts, event_id)
      // total order.
      val ev = s.read.parquet(pq(dir, "events"))
      graft.operators.Sessionize
        .sessionStats(ev, "user_id", "ts", "event_id", gapMicros = 30L * 60 * 1000000)
        .groupBy(($"user_id" % 10).as("cohort"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum($"n_events").as("n_events"),
          sum($"duration_us").as("sum_dur_us"),
          max($"n_events").as("max_sess_events")
        )
        .orderBy($"cohort")
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |m AS (
        |  SELECT user_id, event_id, tus,
        |    CASE WHEN lag(tus) OVER ew IS NULL
        |           OR tus - lag(tus) OVER ew > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW ew AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (
        |  SELECT user_id, tus,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                     ROWS UNBOUNDED PRECEDING) - 1 AS sid
        |  FROM m),
        |per AS (
        |  SELECT user_id, sid, count(*) AS n, max(tus) - min(tus) AS dur
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id % 10 AS cohort,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(dur) AS BIGINT) AS sum_dur_us,
        |  CAST(max(n) AS BIGINT) AS max_sess_events
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_asof_join", (s, dir) => {
      import s.implicits._
      // Backward as-of join: each click event picks up the user's most
      // recent purchase value at-or-before it (the snapshot-alignment
      // primitive; union+window plan — one Exchange, no range explosion).
      // Build side is pre-aggregated per (user, ts) so the as-of winner is
      // unique; oracle is DuckDB's native ASOF LEFT JOIN on the same micros.
      val ev = s.read.parquet(pq(dir, "events"))
      val builds = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id", $"ts").agg(max($"value").as("bval"))
        .select($"user_id", unix_micros($"ts".cast("timestamp")).as("tus"), $"bval")
      val probes = ev.filter($"event_type" === "click")
        .select($"user_id", unix_micros($"ts".cast("timestamp")).as("tus"), $"event_id")
      graft.operators.AsofJoin
        .asofBackward(probes, builds, Seq("user_id"), "tus")
        .groupBy(($"user_id" % 10).as("cohort"))
        .agg(
          count(lit(1)).as("n_probes"),
          count($"bval").as("n_matched"),
          sum($"bval".cast("decimal(18,6)")).cast("double").as("sum_bval")
        )
        .orderBy($"cohort")
    },
      """WITH builds AS (
        |  SELECT user_id, epoch_us(ts) AS tus, max(value) AS bval
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |probes AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id % 10 AS cohort,
        |  count(*) AS n_probes,
        |  count(b.bval) AS n_matched,
        |  CAST(sum(CAST(b.bval AS DECIMAL(18,6))) AS DOUBLE) AS sum_bval
        |FROM probes p ASOF LEFT JOIN builds b
        |  ON p.user_id = b.user_id AND p.tus >= b.tus
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_range_join", (s, dir) => {
      import s.implicits._
      // Point-in-interval band join with NO equi key: lineitem prices into
      // ±10 bands around order totals. Catalyst would plan the bare BETWEEN
      // as BroadcastNestedLoopJoin (O(P·I)); the bucket-expansion rewrite
      // makes it a shuffled equi-join on floor(x/32) buckets (plan-asserted
      // BNLJ-free in PlanQualitySpec). Oracle: DuckDB's native range join.
      val li = s.read.parquet(pq(dir, "lineitem"))
        .select($"l_orderkey", $"l_extendedprice", $"l_returnflag")
      val iv = s.read.parquet(pq(dir, "orders"))
        .select($"o_orderkey", ($"o_totalprice" - 10.0).as("lo"),
          ($"o_totalprice" + 10.0).as("hi"), $"o_orderpriority")
      graft.operators.RangeJoin
        .pointInInterval(li, iv, "l_extendedprice", "lo", "hi", bucketWidth = 32.0)
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_pairs"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price")
        )
        .orderBy($"o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n_pairs,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders
        |  ON l_extendedprice BETWEEN o_totalprice - 10.0 AND o_totalprice + 10.0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_skew_join", (s, dir) => {
      import s.implicits._
      // Salted skew join: events fact on event_type (a handful of hot keys,
      // each ~1/|types| of the corpus — the shape that pins a shuffle
      // partition to one straggler task at cluster scale). The fact side is
      // salted 8 ways from event_id (deterministic — retries re-derive it),
      // the dim replicated 8×; the oracle is the UNSALTED join in SQL, so
      // the hash check proves salting is result-invariant row for row.
      val ev = s.read.parquet(pq(dir, "events"))
      val dim = ev.select($"event_type").distinct()
        .withColumn("w", length($"event_type").cast("long"))
      graft.operators.SkewJoin
        .saltedJoin(ev, dim, "event_type", "event_id", nSalts = 8)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(($"value" * $"w").cast("decimal(18,6)")).cast("double").as("weighted")
        )
        .orderBy($"event_type")
    },
      // the UNSALTED join: salting must be result-invariant, so the mirror
      // simply omits it
      """WITH dim AS (
        |  SELECT DISTINCT event_type, CAST(length(event_type) AS BIGINT) AS w
        |  FROM events)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CAST(e.value * d.w AS DECIMAL(18,6))) AS DOUBLE) AS weighted
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_star_revenue", (s, dir) => {
      import s.implicits._
      // TPC-H Q5 shape exercising ALL seven relational tables in one
      // plan: revenue from small parts (p_size <= 25) sold by LOCAL
      // suppliers (s_nationkey == c_nationkey), one order year, rolled
      // up to region. supplier/part/nation/region are broadcast dims —
      // at 100 TB the only shuffling joins are fact><fact
      // (lineitem><orders><customer); the dims stay map-side however
      // large the facts grow. Plan-asserted in PlanQualitySpec.
      val li = s.read.parquet(pq(dir, "lineitem"))
      val ord = s.read.parquet(pq(dir, "orders"))
        .filter($"o_orderdate" >= lit("1996-01-01") && $"o_orderdate" < lit("1997-01-01"))
      val cust = s.read.parquet(pq(dir, "customer"))
      val sup = s.read.parquet(pq(dir, "supplier"))
      val nat = s.read.parquet(pq(dir, "nation"))
      val reg = s.read.parquet(pq(dir, "region"))
      val prt = s.read.parquet(pq(dir, "part")).filter($"p_size" <= 25)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey") &&
          cust("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(prt), li("l_partkey") === prt("p_partkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy($"r_name")
        .agg(
          count(lit(1)).as("n_items"),
          sum(($"l_extendedprice" * (lit(1) - $"l_discount")).cast("decimal(18,4)"))
            .cast("double").as("revenue")
        )
        .orderBy($"r_name")
    },
      """SELECT r_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |  AND p_size <= 25
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_antijoin_customers", (s, dir) => {
      import s.implicits._
      val cust = s.read.parquet(pq(dir, "customer"))
      val ord = s.read.parquet(pq(dir, "orders"))
        .filter($"o_totalprice" > 300000)
        .select($"o_custkey")
      cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_nationkey")
    },
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
    Query("q_window_running", (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      s.read.parquet(pq(dir, "events"))
        .withColumn("running_value", sum($"value".cast("decimal(18,6)")).over(w).cast("double"))
        .withColumn(
          "rn",
          row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          )
        )
        .filter($"rn" <= 3)
        .select($"user_id", $"rn", $"event_id", $"running_value")
        .orderBy($"user_id", $"rn")
    },
      """WITH r AS (
        |  SELECT user_id, event_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, rn, event_id, running_value FROM r WHERE rn <= 3
        |ORDER BY user_id, rn""".stripMargin),
    Query("q_median", (s, dir) => {
      import s.implicits._
      // SURVEY §2.5 W5 analog: exact percentiles (sort-based, linear
      // interpolation — bit-identical to DuckDB quantile_cont on this
      // integer-valued column). At 10^12 rows swap for approx_percentile
      // (t-digest, map-side mergeable); the exact form is the oracle.
      s.read.parquet(pq(dir, "lineitem"))
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.75)").as("q75")
        )
        .orderBy($"l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS n,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_rollup", (s, dir) => {
      import s.implicits._
      // hierarchical totals (nation -> year -> grand total) in ONE pass —
      // Spark plans rollup as a single Expand + hash aggregate, not three
      // jobs. Rollup nulls are coalesced to sentinels on both engines so
      // the oracle never compares engine-specific null ordering.
      val o = s.read.parquet(pq(dir, "orders"))
        .join(s.read.parquet(pq(dir, "customer")), $"o_custkey" === $"c_custkey")
        .join(broadcast(s.read.parquet(pq(dir, "nation"))), $"c_nationkey" === $"n_nationkey")
        .select($"n_name", year($"o_orderdate").cast("long").as("yr"), $"o_totalprice")
      o.rollup($"n_name", $"yr")
        .agg(
          count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue")
        )
        .select(
          coalesce($"n_name", lit("(all)")).as("n_name"),
          coalesce($"yr", lit(-1L)).as("yr"),
          $"n_orders", $"revenue"
        )
        .orderBy($"n_name", $"yr")
    },
      """SELECT coalesce(n_name, '(all)') AS n_name,
        |  coalesce(yr, -1) AS yr,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |GROUP BY ROLLUP (n_name, yr)
        |ORDER BY 1, 2""".stripMargin),
    Query("q_cube", (s, dir) => {
      import s.implicits._
      // the FULL grouping-set lattice ((source,lang), (source), (lang),
      // ()) in ONE pass — Spark plans cube as a single Expand + hash
      // aggregate, 4 grouping sets, not 4 jobs; cube nulls coalesced to
      // sentinels on both engines exactly like q_rollup.
      s.read.parquet(pq(dir, "documents"))
        .cube($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars".cast("long")).as("sum_chars"))
        .select(
          coalesce($"source", lit("(all)")).as("source"),
          coalesce($"lang", lit("(all)")).as("lang"),
          $"n_docs", $"sum_chars")
        .orderBy($"source", $"lang")
    },
      """SELECT coalesce(source, '(all)') AS source,
        |  coalesce(lang, '(all)') AS lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (source, lang) ORDER BY 1, 2""".stripMargin),
    Query("q_grouping_sets", (s, dir) => {
      import s.implicits._
      // ARBITRARY grouping lattice — the shape cube/rollup cannot spell:
      // exactly ((source,lang),(source),(lang)), no grand total. Spark 4
      // plans it as ONE Expand + hash aggregate with 3 projections
      // (a cube would expand 4, a union-of-groupbys would scan 3×);
      // sentinel coalescing identical to q_cube/q_rollup so the oracle
      // never compares engine null ordering.
      s.read.parquet(pq(dir, "documents"))
        .groupingSets(
          Seq(Seq($"source", $"lang"), Seq($"source"), Seq($"lang")),
          $"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars".cast("long")).as("sum_chars"))
        .select(
          coalesce($"source", lit("(all)")).as("source"),
          coalesce($"lang", lit("(all)")).as("lang"),
          $"n_docs", $"sum_chars")
        .orderBy($"source", $"lang")
    },
      """SELECT coalesce(source, '(all)') AS source,
        |  coalesce(lang, '(all)') AS lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((source, lang), (source), (lang))
        |ORDER BY 1, 2""".stripMargin),
    Query("q_pivot", (s, dir) => {
      import s.implicits._
      // relational pivot: per source, one char-mass column per language,
      // in ONE hash aggregate. The lang domain is passed EXPLICITLY —
      // a values-less pivot first runs a hidden collect-distinct job
      // over the fact table, a full extra corpus pass at 100 TB (and a
      // nondeterministic column set if the domain drifts between runs).
      s.read.parquet(pq(dir, "documents"))
        .groupBy($"source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum($"n_chars"))
        .orderBy($"source")
    },
      // pivot mirror: conditional aggregation over the same explicit lang
      // domain; sum over an empty/absent cell is NULL on both engines
      """SELECT source,
        |  CAST(sum(CASE WHEN lang = 'de' THEN n_chars END) AS BIGINT) AS de,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars END) AS BIGINT) AS en,
        |  CAST(sum(CASE WHEN lang = 'es' THEN n_chars END) AS BIGINT) AS es,
        |  CAST(sum(CASE WHEN lang = 'fr' THEN n_chars END) AS BIGINT) AS fr,
        |  CAST(sum(CASE WHEN lang = 'zh' THEN n_chars END) AS BIGINT) AS zh
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_topk_docs", (s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"n_chars", $"lang")
        .orderBy($"n_chars".desc, $"doc_id")
        .limit(20)
    },
      "SELECT doc_id, n_chars, lang FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20"),
    Query("q_set_ops", (s, dir) => {
      import s.implicits._
      val d = s.read.parquet(pq(dir, "documents"))
      val es = d.filter($"lang" === "es").select($"source").distinct()
      val zh = d.filter($"lang" === "zh").select($"source").distinct()
      es.except(zh).orderBy($"source")
    },
      """SELECT DISTINCT source FROM documents WHERE lang = 'es'
        |EXCEPT SELECT DISTINCT source FROM documents WHERE lang = 'zh'
        |ORDER BY source""".stripMargin),
    Query("q_json_extract", (s, dir) => {
      import s.implicits._
      // F16 analog: JSON parsing via built-ins (get_json_object)
      s.read.parquet(pq(dir, "events"))
        .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy($"event_type")
    },
      """SELECT event_type,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q_word_hist", (s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "documents"))
        .select(explode(split(lower($"text"), "\\s+")).as("word"))
        .filter(length($"word") > 3)
        .groupBy($"word")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"word")
        .limit(20)
    },
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(lower(text),'\s+')) AS word FROM documents)
        |WHERE length(word) > 3
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin),
  )
}
