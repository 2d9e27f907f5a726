package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators._
import graft.queries.QueryHelpers._

/** Relational and temporal SQL: TPC-H-shaped joins and aggregates,
  * grouping sets, windows, set operations, event-time windows and as-of
  * joins. */
object RelationalQueries {

  val all: Seq[Q] = Seq(

    // Relational core: TPC-H Q1-flavor pricing summary (decimal-exact).
    Q("q1_pricing", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1999-12-31 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Join pipeline: revenue per nation (broadcast dims, partial aggs).
    Q("q_join_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }, oracle =
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // Skew-salted join surface: salting is internal plumbing (salt the
    // big side, replicate the small side over the salt range), so the
    // result must equal — and is oracled against — a plain equi-join.
    Q("q_skew_join", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"), col("l_quantity"))
      val small = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      SkewJoin.saltedJoin(big, small, "suppkey", saltSource = "l_orderkey", buckets = 8)
        .groupBy(col("s_name"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("s_name")
    }, oracle =
      // The salted join must be invisible in the result: oracle is the
      // plain equi-join + aggregate.
      """SELECT s_name,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin),

    // O-18 per-group: top-3 orders per customer by totalprice (window).
    Q("q_window_topn", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("rank").cast("long").as("rank"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rank")
    }, oracle =
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders
        |)
        |SELECT o_custkey, CAST(rank AS BIGINT) AS rank, o_orderkey, o_totalprice
        |FROM r WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin),

    // O-13: auth-shaped existence semi-join.
    Q("q_semi_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // Anti-join: customers with no orders.
    Q("q_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // Grouping sets: rollup with NULLs coalesced for oracle stability.
    Q("q_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n_rows"))
        .orderBy("returnflag", "linestatus")
    }, oracle =
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),

    // Grouping sets: full CUBE over two dims (§2.J).
    Q("q_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")
    }, oracle =
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin),

    // Date arithmetic: monthly revenue (date_trunc-style bucketing).
    Q("q_month_revenue", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("month")
    }, oracle =
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin),

    // Pivot: returnflag quantities spread into columns.
    Q("q_pivot", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")))
        .select(col("l_linestatus"),
          coalesce(col("A").cast("double"), lit(0.0)).as("qty_a"),
          coalesce(col("N").cast("double"), lit(0.0)).as("qty_n"),
          coalesce(col("R").cast("double"), lit(0.0)).as("qty_r"))
        .orderBy("l_linestatus")
    }, oracle =
      """SELECT l_linestatus,
        |       coalesce(CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_a,
        |       coalesce(CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_n,
        |       coalesce(CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    // The SQL surface end-to-end: spark.sql over registered views.
    Q("q_sql_surface", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      t(s, dir, "part").createOrReplaceTempView("v_part")
      s.sql("""
        SELECT p.p_brand AS brand,
               count(*) AS n_items,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM v_lineitem l JOIN v_part p ON l.l_partkey = p.p_partkey
        WHERE p.p_size <= 25
        GROUP BY p.p_brand
        ORDER BY brand""")
    }, oracle =
      """SELECT p.p_brand AS brand,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size <= 25
        |GROUP BY p.p_brand
        |ORDER BY brand""".stripMargin),

    // S-3 batch shape: tumbling 10-minute event-time windows.
    Q("q_events_tumbling", (s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")
    }, oracle =
      """SELECT CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 AS window_start,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    // Statistical aggregates (engine completeness; §2.J).
    Q("q_stats", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          stableRound(stddev_samp(col("l_quantity"))).as("sd_qty"),
          stableRound(var_samp(col("l_quantity"))).as("var_qty"),
          stableRound(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
          stableRound(expr("percentile(l_quantity, 0.5D)")).as("median_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }, oracle =
      """SELECT l_returnflag,
        |       round(stddev_samp(l_quantity) + 1.2345e-9, 6) AS sd_qty,
        |       round(var_samp(l_quantity) + 1.2345e-9, 6) AS var_qty,
        |       round(corr(l_quantity, l_extendedprice) + 1.2345e-9, 6) AS corr_qty_price,
        |       round(quantile_cont(l_quantity, 0.5) + 1.2345e-9, 6) AS median_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Window frames: running decimal sum + lag over a total order (§2.J).
    Q("q_window_running", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"), col("prev_price"))
        .orderBy("o_custkey", "o_orderkey")
    }, oracle =
      """SELECT o_custkey, o_orderkey,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |              OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
        |       lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // As-of lookup: for every event, the most recent PRIOR error event's
    // timestamp for the same user (composed from window built-ins — the
    // preferred shape before any custom as-of operator).
    // Two-table backward as-of join (purchases ← latest error per user):
    // engine runs the single-shuffle union+window form (no join operator
    // in the plan); the oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, so
    // the semantics pin against an independent reference implementation.
    // Right side deduped per (user_id, ts) — keep highest event_id — so
    // the at-or-before pick is well-defined on both engines.
    Q("q_asof_join", (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .withColumn("_rn", row_number().over(
          Window.partitionBy("user_id", "ts").orderBy(desc("event_id"))))
        .filter(col("_rn") === 1)
        .select(col("user_id"), col("ts"),
          col("event_id").as("err_id"), col("value").as("err_value"))
      TemporalJoins.asofBackward(purchases, errors, Seq("user_id"), "ts",
          Seq("err_id", "err_value"))
        .select(col("event_id"), col("user_id"), col("err_id"), col("err_value"))
        .orderBy("event_id")
    }, oracle =
      // DuckDB's native ASOF LEFT JOIN — an independent reference
      // implementation of the backward-inclusive semantics the engine
      // builds from union + window.
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |r AS (
        |  SELECT user_id, ts, event_id AS err_id, value AS err_value
        |  FROM events WHERE event_type = 'error'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
        |)
        |SELECT p.event_id, p.user_id, r.err_id, r.err_value
        |FROM p ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.ts >= r.ts
        |ORDER BY p.event_id""".stripMargin),

    // Point-in-interval range join: every event landing inside the
    // 5-minute window opened by each error, per user. Engine buckets
    // intervals to 5-min bins → plain equi-join on (user_id, bin) +
    // exact BETWEEN re-check (no per-key cartesian); oracle is the naive
    // range-condition join. Integer-µs arithmetic both sides.
    Q("q_range_join", (s, dir) => {
      val ev = events(s, dir).withColumn("u", unix_micros(col("ts")))
      val points = ev.select(col("event_id"), col("user_id"), col("u"))
      val intervals = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("u").as("s_us"),
          (col("u") + lit(300000000L)).as("e_us"))
      TemporalJoins.pointInInterval(points, intervals, Seq("user_id"),
          "u", "s_us", "e_us", binSize = 300000000L)
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          countDistinct("event_id").as("n_points"))
        .orderBy("user_id")
    }, oracle =
      // Naive range-condition join as the oracle; the engine's bin-bucketed
      // equi-join must produce the identical pair set.
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS u, event_type FROM events),
        |i AS (SELECT user_id, u AS s_us, u + 300000000 AS e_us FROM e WHERE event_type = 'error'),
        |j AS (
        |  SELECT i.user_id, p.event_id FROM i
        |  JOIN e p ON i.user_id = p.user_id AND p.u >= i.s_us AND p.u <= i.e_us
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(count(DISTINCT event_id) AS BIGINT) AS n_points
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin),

    Q("q_asof_error", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .withColumn("last_error_ts",
          last(when(col("event_type") === "error", unix_micros(col("ts"))), ignoreNulls = true).over(w))
        .select(col("event_id"), col("last_error_ts"))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id,
        |       last_value(CASE WHEN event_type = 'error' THEN epoch_us(ts) END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_ts
        |FROM events ORDER BY event_id""".stripMargin),

    // Ranking function suite over a total order (§2.J breadth).
    Q("q_rank_funcs", (s, dir) => {
      val w = Window.partitionBy("o_orderstatus").orderBy(desc("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .select(col("o_orderkey"), col("o_orderstatus"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          stableRound(percent_rank().over(w)).as("prnk"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, o_orderstatus,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       round(percent_rank() OVER w + 1.2345e-9, 6) AS prnk,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders WHERE o_custkey <= 50
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // String function suite (F-4 library breadth).
    Q("q_string_funcs", (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 5).as("prefix"),
          lpad(col("p_brand"), 12, "*").as("padded"),
          regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"),
          concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
          length(col("p_name")).cast("long").as("name_len"))
        .orderBy("p_partkey")
    }, oracle =
      """SELECT p_partkey,
        |       upper(p_name) AS uname,
        |       substring(p_name, 1, 5) AS prefix,
        |       lpad(p_brand, 12, '*') AS padded,
        |       regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
        |       concat_ws('|', p_brand, p_type) AS joined,
        |       CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F-5: JSON decode of the event props payload.
    Q("q_json_extract", (s, dir) => {
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // §2.F: set difference for corpus versioning.
    Q("q_corpus_except", (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      d.except(d.filter(pmod(col("doc_id"), lit(10)) =!= 0))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, text FROM documents
        |EXCEPT
        |SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
        |ORDER BY doc_id""".stripMargin),

    // §2.F: union + distinct.
    Q("q_union_distinct", (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "lang")
      d.unionByName(d).distinct().orderBy("doc_id")
    }, oracle =
      """SELECT DISTINCT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang FROM documents
        |) ORDER BY doc_id""".stripMargin),

    // §2.J join breadth: LEFT OUTER with null-preserving aggregation —
    // customers keep a row (n_orders = 0) even with no orders.
    Q("q_outer_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_spend"))
        .orderBy("c_custkey")
    }, oracle =
      // count(o_orderkey) skips nulls → 0 for order-less customers;
      // sum of an empty group stays NULL on both engines.
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    // §2.J set ops: INTERSECT (corpus-version overlap — docs present in
    // both slices).
    Q("q_intersect", (s, dir) => {
      val d = t(s, dir, "documents")
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "source")
        .intersect(d.filter(col("doc_id") < 100).select("doc_id", "source"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0
        |INTERSECT
        |SELECT doc_id, source FROM documents WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin),

    // §2.J grouping sets beyond rollup/cube: explicit sets — per-flag,
    // per-status, and grand total, each tagged by grouping_id.
    Q("q_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("_li_gs")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // S-3: sliding event-time windows (10 min width, 5 min slide).
    Q("q_events_sliding", (s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("n_events"))
        .orderBy("window_start", "event_type")
    }, oracle =
      """WITH x AS (
        |  SELECT event_type,
        |         unnest([CAST(floor(epoch(ts) / 300) AS BIGINT) * 300,
        |                 CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300]) AS window_start
        |  FROM events
        |)
        |SELECT window_start, event_type, count(*) AS n_events
        |FROM x GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    // S-3: session windows (native session_window, 30-minute gap).
    Q("q_events_session", (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    }, oracle =
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
        |  FROM events
        |), m AS (
        |  SELECT user_id, tus,
        |         sum(CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o
        |)
        |SELECT user_id, min(tus) AS session_start, count(*) AS n_events
        |FROM m GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),

    // Corpus profiling: per-source exact length quantiles (Spark
    // `percentile` ≡ DuckDB `quantile_cont`, both linear-interpolated).
    // The sketch path (percentile_approx) is StatsSpec-bounded instead —
    // sketches are not hash-stable across engines.
    Q("q_length_quantiles", (s, dir) => {
      Stats.lengthQuantiles(t(s, dir, "documents"), "source", "n_chars",
          Seq(0.5, 0.9, 0.99))
        .orderBy("source")
    }, oracle =
      """SELECT source,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(avg(CAST(n_chars AS DOUBLE)) + 1.2345e-9, 6) AS mean,
        |       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5) + 1.2345e-9, 6) AS p50,
        |       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9) + 1.2345e-9, 6) AS p90,
        |       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.99) + 1.2345e-9, 6) AS p99
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
  )
}
