package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.core.Tables

/** The standard relational surface (SURVEY.md §2.2-§2.4, §2.6, §2.8 and
  * §7.2 step 6): scans with pushdown, every join strategy, hash aggs,
  * distinct, rollup/cube/grouping-sets, window functions, set ops, top-k,
  * JSON/date/string scalar functions. All Spark built-ins — Catalyst owns
  * pushdown, pruning, join selection, AQE; we only hint broadcast where a
  * dimension is provably small.
  */
object Relational {

  private def dec(c: Column): Column = Q.dec(c)
  private def dsum(c: Column): Column = Q.dsum(c)

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // q01 — pricing summary (hash agg, partial+final, filter pushdown).
  // TPC-H Q1 shape; demonstrates A-family aggregation surface (SURVEY §2.4).
  val q01 = Q(
    "q01_pricing_summary",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          dsum(dec($"l_extendedprice") * (dec(lit(1)) - dec($"l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", $"sum_qty" / $"count_order")
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
        COUNT(*) AS count_order,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """),
    headline = true)

  // ---------------------------------------------------------------------
  // q02 — filter + projection: predicate and column pruning must reach the
  // parquet scan (SURVEY §2.2 P3; checked in PlanSpec).
  val q02 = Q(
    "q02_filter_project",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .filter($"o_orderstatus" === "F" && $"o_totalprice" > 100000.0)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
    """))

  // ---------------------------------------------------------------------
  // q03 — star join with explicit broadcast of small dims (SURVEY §2.3 J1
  // generalized): revenue by region/nation. region (5 rows) and nation
  // (25) broadcast; customer⋈orders shuffles on the key. At 100 TB the
  // dims stay broadcast and only the fact tables shuffle.
  val q03 = Q(
    "q03_star_join_broadcast",
    (s, dir) => {
      import s.implicits._
      val orders   = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation   = t(s, dir, "nation")
      val region   = t(s, dir, "region")
      orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy($"r_name", $"n_name")
        .agg(dsum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy($"r_name", $"n_name")
    },
    Some("""
      SELECT r_name, n_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name
    """),
    headline = true)

  // ---------------------------------------------------------------------
  // q04 — large fact⋈fact join (lineitem⋈orders). The naive form joins
  // the full lineitem then runs countDistinct(o_orderkey) over the joined
  // rows — a second expand+shuffle over fact-sized data. Since lineitem is
  // N:1 to orders, aggregating lineitem to order grain FIRST shrinks the
  // join's left side ~4x and turns countDistinct into a plain count (each
  // orderkey appears once post-agg). Decimal partial sums keep the result
  // bit-identical to the naive plan; the oracle is the naive SQL. At
  // 100 TB this pre-aggregation is the difference between one keyed
  // shuffle of order-grain rows and two fact-sized ones. (q27 keeps the
  // rewrite visible end-to-end in SQL form.)
  val q04 = Q(
    "q04_fact_join",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val o  = t(s, dir, "orders")
      val perOrder = li.groupBy($"l_orderkey")
        .agg(sum(dec($"l_extendedprice") * (dec(lit(1)) - dec($"l_discount")))
          .as("rev"))
      perOrder.join(o, perOrder("l_orderkey") === o("o_orderkey"))
        .groupBy($"o_orderpriority")
        .agg(sum($"rev").cast(DoubleType).as("revenue"),
             count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        COUNT(DISTINCT o_orderkey) AS n_orders
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """),
    headline = true)

  // ---------------------------------------------------------------------
  // q05 — left-semi join (EXISTS).
  val q05 = Q(
    "q05_semi_join",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter($"o_totalprice" > 250000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select($"c_custkey", $"c_name")
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)
    """))

  // ---------------------------------------------------------------------
  // q06 — left-anti join (NOT EXISTS).
  val q06 = Q(
    "q06_anti_join",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """))

  // ---------------------------------------------------------------------
  // q07 — left-outer join with null handling: order count per customer
  // including customers with no orders.
  val q07 = Q(
    "q07_outer_join",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy($"c_custkey", $"c_mktsegment")
        .agg(count($"o_orderkey").as("n_orders"),
             dsum(coalesce($"o_totalprice", lit(0.0))).as("total_spend"))
    },
    Some("""
      SELECT c_custkey, c_mktsegment,
        COUNT(o_orderkey) AS n_orders,
        CAST(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_mktsegment
    """))

  // ---------------------------------------------------------------------
  // q08 — count(distinct) per day/type over the event stream table
  // (SURVEY §2.4 A3 materialized).
  val q08 = Q(
    "q08_daily_distinct_users",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(date_format($"ts", "yyyy-MM-dd").as("event_date"), $"event_type")
        .agg(countDistinct($"user_id").as("uv"), count(lit(1)).as("pv"))
        .orderBy($"event_date", $"event_type")
    },
    Some("""
      SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
        COUNT(DISTINCT user_id) AS uv, COUNT(*) AS pv
      FROM events
      GROUP BY 1, 2
      ORDER BY event_date, event_type
    """),
    headline = true)

  // ---------------------------------------------------------------------
  // q09 — window rank: top-3 orders per customer (deterministic
  // tie-break on o_orderkey).
  val q09 = Q(
    "q09_window_topn_per_key",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 3
    """))

  // ---------------------------------------------------------------------
  // q10 — window frames: running total + lag delta per user over event
  // time. DECIMAL inside the frame keeps the running sum exact (DuckDB's
  // segment-tree window agg would otherwise differ in float rounding).
  val q10 = Q(
    "q10_window_running",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .filter($"event_type" === "purchase")
        .withColumn("running_value",
          sum(dec($"value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType))
        .withColumn("prev_event_id", lag($"event_id", 1).over(w))
        .select($"user_id", $"event_id", $"running_value", $"prev_event_id")
    },
    Some("""
      SELECT user_id, event_id,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        LAG(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
      FROM events WHERE event_type = 'purchase'
    """))

  // ---------------------------------------------------------------------
  // q11 — ROLLUP hierarchy totals (region → nation → grand total).
  val q11 = Q(
    "q11_rollup",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup($"r_name", $"n_name")
        .agg(dsum($"c_acctbal").as("total_bal"), count(lit(1)).as("n_cust"))
        .select(
          coalesce($"r_name", lit("(all)")).as("region_name"),
          coalesce($"n_name", lit("(all)")).as("nation_name"),
          $"total_bal", $"n_cust")
        .orderBy($"region_name", $"nation_name")
    },
    Some("""
      SELECT COALESCE(r_name, '(all)') AS region_name,
             COALESCE(n_name, '(all)') AS nation_name,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal,
        COUNT(*) AS n_cust
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY region_name, nation_name
    """))

  // ---------------------------------------------------------------------
  // q12 — CUBE over returnflag × linestatus. CUBE physically plans as
  // Expand (one copy of every input row per grouping set — 4x the fact
  // table through the first agg). Since SUM/COUNT re-aggregate exactly,
  // collapse the fact to the base (flag, status) grid FIRST — |flags| x
  // |statuses| rows — and cube the tiny aggregate: the Expand now blows
  // up 6 rows, not 600k (and not 4 x 100 TB). Decimal partials keep the
  // result bit-identical to the direct cube; oracle is the direct SQL.
  val q12 = Q(
    "q12_cube",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum(dec($"l_quantity")).as("pq"), count(lit(1)).as("pn"))
      base
        .cube($"l_returnflag", $"l_linestatus")
        .agg(sum($"pq").cast(DoubleType).as("sum_qty"),
             sum($"pn").cast("long").as("n"))
        .select(
          coalesce($"l_returnflag", lit("(all)")).as("returnflag"),
          coalesce($"l_linestatus", lit("(all)")).as("linestatus"),
          $"sum_qty", $"n")
        .orderBy($"returnflag", $"linestatus")
    },
    Some("""
      SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
             COALESCE(l_linestatus, '(all)') AS linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus
    """))

  // ---------------------------------------------------------------------
  // q13 — GROUPING SETS (explicit set list, not derivable from
  // rollup/cube).
  val q13 = Q(
    "q13_grouping_sets",
    (s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("graft_q13_orders")
      val df = s.sql("""
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          COUNT(*) AS n
        FROM graft_q13_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        ORDER BY status, priority
      """)
      // the Dataset is analyzed, so the view has served its purpose:
      // drop it, and the caller's session keeps no trace of the query
      s.catalog.dropTempView("graft_q13_orders")
      df
    },
    Some("""
      SELECT COALESCE(o_orderstatus, '(all)') AS status,
             COALESCE(o_orderpriority, '(all)') AS priority,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        COUNT(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority))
      ORDER BY status, priority
    """))

  // ---------------------------------------------------------------------
  // q14 — set operators: UNION / INTERSECT / EXCEPT (SURVEY §2.6 M5 + the
  // engine-side set-op surface).
  val q14 = Q(
    "q14_set_ops",
    (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val bigBuyers    = o.filter($"o_totalprice" > 300000.0).select($"o_custkey")
      val urgentBuyers = o.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
      val openBuyers   = o.filter($"o_orderstatus" === "O").select($"o_custkey")
      bigBuyers.intersect(urgentBuyers).except(openBuyers)
        .union(bigBuyers.intersect(urgentBuyers).except(openBuyers)) // idempotent under distinct
        .distinct()
        .orderBy($"o_custkey")
    },
    Some("""
      SELECT DISTINCT o_custkey FROM (
        (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      ORDER BY o_custkey
    """))

  // ---------------------------------------------------------------------
  // q15 — explode / UDTF-style token fan-out (SURVEY §2.6 M3): word
  // frequency over documents, top 100 with total tie-break order.
  val q15 = Q(
    "q15_explode_tokens",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .filter(length($"token") > 0)
        .groupBy($"token")
        .agg(count(lit(1)).as("cnt"), countDistinct($"doc_id").as("n_docs"))
        .orderBy($"cnt".desc, $"token")
        .limit(100)
    },
    Some("""
      SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
      WHERE LENGTH(token) > 0
      GROUP BY token
      ORDER BY cnt DESC, token
      LIMIT 100
    """))

  // ---------------------------------------------------------------------
  // q16 — JSON field extraction from the semi-structured props column
  // (SURVEY §2.8 F4: schema-on-read probing).
  val q16 = Q(
    "q16_json_extract",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(sum($"k").cast("long").as("sum_k"), count($"k").as("n_k"),
             min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type,
        CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(k) AS n_k, MIN(k) AS min_k, MAX(k) AS max_k
      FROM (SELECT event_type,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events)
      GROUP BY event_type
      ORDER BY event_type
    """))

  // ---------------------------------------------------------------------
  // q17 — date/time functions (SURVEY §2.8 F1-F3, F8): year/month
  // buckets, +30d arithmetic, epoch extraction.
  val q17 = Q(
    "q17_date_functions",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .withColumn("o_year", year($"o_orderdate"))
        .withColumn("o_month", month($"o_orderdate"))
        .groupBy($"o_year", $"o_month")
        .agg(
          count(lit(1)).as("n"),
          date_format(date_add(min($"o_orderdate").cast("date"), 30), "yyyy-MM-dd")
            .as("min_plus_30d"),
          (unix_micros(min($"o_orderdate").cast("timestamp")) / lit(1000000L))
            .cast("long").as("min_epoch_s"))
        .orderBy($"o_year", $"o_month")
    },
    Some("""
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             EXTRACT(month FROM o_orderdate) AS o_month,
        COUNT(*) AS n,
        strftime(CAST(MIN(o_orderdate) AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS min_plus_30d,
        epoch_us(MIN(o_orderdate)) // 1000000 AS min_epoch_s
      FROM orders
      GROUP BY 1, 2
      ORDER BY o_year, o_month
    """))

  // ---------------------------------------------------------------------
  // q18 — string functions (SURVEY §2.8 F5-F7): split, concat_ws, case
  // transforms, substring.
  val q18 = Q(
    "q18_string_functions",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .select(
          $"c_custkey",
          upper($"c_mktsegment").as("seg_upper"),
          substring($"c_name", 1, 8).as("name_prefix"),
          concat_ws("|", $"c_mktsegment", $"c_name").as("joined"),
          length($"c_name").as("name_len"))
    },
    Some("""
      SELECT c_custkey,
        UPPER(c_mktsegment) AS seg_upper,
        SUBSTRING(c_name, 1, 8) AS name_prefix,
        CONCAT_WS('|', c_mktsegment, c_name) AS joined,
        LENGTH(c_name) AS name_len
      FROM customer
    """))

  // ---------------------------------------------------------------------
  // q19 — conditional aggregation (CASE WHEN pivot-style counts).
  val q19 = Q(
    "q19_conditional_agg",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_linestatus")
        .agg(
          sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("n_returned"),
          sum(when($"l_returnflag" === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when($"l_returnflag" === "N", 1L).otherwise(0L)).as("n_n"),
          dsum(when($"l_discount" > 0.05, $"l_extendedprice").otherwise(lit(0.0)))
            .as("discounted_revenue"))
        .orderBy($"l_linestatus")
    },
    Some("""
      SELECT l_linestatus,
        CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_n,
        CAST(SUM(CAST(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) AS discounted_revenue
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus
    """))

  // ---------------------------------------------------------------------
  // q20 — global top-k (TakeOrderedAndProject physical op: no full sort,
  // per-partition heap + driver merge — the 100 TB-safe top-k).
  val q20 = Q(
    "q20_topk",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(20)
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20
    """))

  // ---------------------------------------------------------------------
  // q21 — pivot (wide conditional aggregation): revenue matrix
  // returnflag × linestatus via the Dataset pivot API (compiles to the
  // same conditional-agg plan as q19's CASE WHENs — one hash agg, no
  // extra shuffle).
  val q21 = Q(
    "q21_pivot",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum($"l_extendedprice"))
        .na.fill(0.0)
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
        COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS F,
        COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS O
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  // ---------------------------------------------------------------------
  // q22 — exact percentiles (median / p95 with linear interpolation),
  // reported in cents so both engines' double interpolation hashes
  // identically.
  val q22 = Q(
    "q22_percentiles",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderstatus")
        // one percentile(…, array(…)) buffer, not one per quantile: the
        // exact-percentile aggregate collects the group's values, so two
        // separate calls would hold (and sort) every value twice
        .agg(
          expr("percentile(o_totalprice, array(0.5, 0.95))").as("ps"),
          count(lit(1)).as("n"))
        .select($"o_orderstatus",
          round(element_at($"ps", 1) * 100).cast("long").as("median_cents"),
          round(element_at($"ps", 2) * 100).cast("long").as("p95_cents"),
          $"n")
        .orderBy($"o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus,
        CAST(round(quantile_cont(o_totalprice, 0.5) * 100) AS BIGINT) AS median_cents,
        CAST(round(quantile_cont(o_totalprice, 0.95) * 100) AS BIGINT) AS p95_cents,
        COUNT(*) AS n
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """))

  // ---------------------------------------------------------------------
  // q23 — correlated scalar subquery: orders beating their customer's
  // average. Catalyst de-correlates this into an aggregate + join (no
  // per-row re-execution), which is exactly the rewrite that makes the
  // pattern viable at scale.
  val q23 = Q(
    "q23_correlated_subquery",
    (s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("graft_q23_orders")
      val df = s.sql("""
        SELECT o_orderkey, o_custkey,
          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM graft_q23_orders o
        WHERE o_totalprice > 2 * (
          SELECT AVG(o_totalprice) FROM graft_q23_orders i
          WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey
      """)
      // analyzed: drop the view, as q13 does
      s.catalog.dropTempView("graft_q23_orders")
      df
    },
    Some("""
      SELECT o_orderkey, o_custkey,
        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders o
      WHERE o_totalprice > 2 * (
        SELECT AVG(o_totalprice) FROM orders i
        WHERE i.o_custkey = o.o_custkey)
    """))

  // ---------------------------------------------------------------------
  // q24 — ordered array aggregation: collect_list is unordered by
  // contract, so determinism comes from sort_array + a bounded group
  // (the nation→region hierarchy). concat_ws makes the value
  // hash-comparable as a plain string.
  val q24 = Q(
    "q24_array_agg",
    (s, dir) => {
      import s.implicits._
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy($"r_name")
        .agg(concat_ws(",", sort_array(collect_list($"n_name"))).as("nations"),
             count(lit(1)).as("n_nations"))
        .orderBy($"r_name")
    },
    Some("""
      SELECT r_name,
        list_aggregate(list_sort(list(n_name)), 'string_agg', ',') AS nations,
        COUNT(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name
    """))

  // ---------------------------------------------------------------------
  // q25 — regex surface: extraction, replacement, and counting with a
  // dialect-neutral pattern (both engines: Java regex vs RE2-flavored,
  // identical for simple classes).
  val q25 = Q(
    "q25_regex",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "part")
        .select($"p_partkey",
          regexp_extract($"p_type", "^([A-Z]+)", 1).as("type_head"),
          regexp_replace($"p_brand", "[0-9]+", "#").as("brand_masked"),
          regexp_count($"p_name", lit("[aeiou]")).as("n_vowels"))
    },
    Some("""
      SELECT p_partkey,
        COALESCE(regexp_extract(p_type, '^([A-Z]+)', 1), '') AS type_head,
        regexp_replace(p_brand, '[0-9]+', '#', 'g') AS brand_masked,
        len(regexp_extract_all(p_name, '[aeiou]')) AS n_vowels
      FROM part
    """))

  // ---------------------------------------------------------------------
  // q26 — grouping() markers on rollup: the GROUPING_ID surface that
  // distinguishes "NULL because subtotal" from "NULL in the data".
  val q26 = Q(
    "q26_grouping_id",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"),
             grouping($"o_orderstatus").cast("int").as("g_status"),
             grouping($"o_orderpriority").cast("int").as("g_priority"))
        .select(
          coalesce($"o_orderstatus", lit("(all)")).as("status"),
          coalesce($"o_orderpriority", lit("(all)")).as("priority"),
          $"n", $"g_status", $"g_priority")
        .orderBy($"status", $"priority", $"g_status", $"g_priority")
    },
    Some("""
      SELECT COALESCE(o_orderstatus, '(all)') AS status,
             COALESCE(o_orderpriority, '(all)') AS priority,
             COUNT(*) AS n,
             CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
             CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY status, priority, g_status, g_priority
    """))

  // ---------------------------------------------------------------------
  // q27 — q04's semantics via pre-aggregation before the join: lineitem
  // collapses to one row per order key first, so the join input (and
  // the expensive count-distinct) shrinks from |lineitem| to |orders|
  // — the manual rewrite that tames fact⋈fact distinct aggregation at
  // 100 TB. Exactness holds because the partial sums stay DECIMAL until
  // the final cast.
  val q27 = Q(
    "q27_preagg_join",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val o  = t(s, dir, "orders")
      val perOrder = li.groupBy($"l_orderkey")
        .agg(sum(dec($"l_extendedprice") * (dec(lit(1)) - dec($"l_discount")))
          .as("rev"))
      perOrder.join(o, perOrder("l_orderkey") === o("o_orderkey"))
        .groupBy($"o_orderpriority")
        .agg(sum($"rev").cast(DoubleType).as("revenue"),
             count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority,
        CAST(SUM(rev) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
      FROM (SELECT l_orderkey,
              SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev
            FROM lineitem GROUP BY l_orderkey) pre
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """))

  // ---------------------------------------------------------------------
  // q28 — as-of join: for each event, the latest order of the same
  // customer at-or-before the event time (plus how many came before).
  // Spark has no ASOF JOIN operator; the scalable composition is the
  // union-and-running-window trick: tag both sides, shuffle ONCE on the
  // key, and a running max/sum over (time, side) answers every event's
  // as-of lookup in a single linear pass — never a per-event probe or a
  // fan-out join. Orders sort before events at equal timestamps, so
  // "at-or-before" includes same-instant orders.
  val q28 = Q(
    "q28_asof_join",
    (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events")
        .select($"event_id", $"user_id", $"ts".cast("timestamp").as("t"),
                lit(1).as("side"))
      val o = t(s, dir, "orders")
        .select(lit(-1L).as("event_id"), $"o_custkey".as("user_id"),
                $"o_orderdate".cast("timestamp").as("t"), lit(0).as("side"))
      val w = Window.partitionBy($"user_id").orderBy($"t", $"side", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.unionByName(e)
        .withColumn("last_o", max(when($"side" === 0, $"t")).over(w))
        .withColumn("np", sum(when($"side" === 0, 1L).otherwise(0L)).over(w))
        .filter($"side" === 1)
        .select($"event_id", $"user_id",
          coalesce(date_format($"last_o", "yyyy-MM-dd"), lit("(none)"))
            .as("last_order_date"),
          $"np".as("n_prior_orders"))
    },
    Some("""
      SELECT e.event_id, e.user_id,
        COALESCE(strftime(MAX(o.o_orderdate), '%Y-%m-%d'), '(none)') AS last_order_date,
        COUNT(o.o_orderkey) AS n_prior_orders
      FROM events e LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      GROUP BY e.event_id, e.user_id
    """))

  // ---------------------------------------------------------------------
  // q29 — range (band) join: price lineitems into quantity tiers. The
  // naive plan is a broadcast nested-loop on `lo <= q <= hi`; the 100 TB
  // shape expands the tiny tier table to one row per covered integer
  // quantity (sequence + explode on the SMALL side only) so the fact
  // side flows through an ordinary broadcast hash equi-join — no
  // nested-loop, no shuffle of lineitem.
  val q29 = Q(
    "q29_range_join",
    (s, dir) => {
      import s.implicits._
      val tiers = Seq(("small", 1, 9), ("medium", 10, 24), ("large", 25, 50))
        .toDF("tier", "lo", "hi")
      val expanded = tiers.select($"tier",
        explode(sequence($"lo", $"hi")).as("q"))
      // floor (not cast) so the tiering rule is explicit and the oracle
      // can mirror it exactly: DuckDB CAST(DECIMAL AS INT) rounds while
      // Spark's cast truncates, so a raw cast disagrees on fractional
      // quantities; FLOOR agrees in both engines by construction.
      t(s, dir, "lineitem")
        .withColumn("q", floor($"l_quantity").cast("int"))
        .join(broadcast(expanded), "q")
        .groupBy($"tier")
        .agg(count(lit(1)).as("n_items"),
             // floor before the long cast: Spark truncates a fractional
             // decimal sum, DuckDB's CAST rounds it — FLOOR agrees
             floor(sum(dec($"l_quantity"))).cast("long").as("sum_qty"),
             dsum($"l_extendedprice").as("revenue"))
        .orderBy($"tier")
    },
    Some("""
      SELECT t.tier, COUNT(*) AS n_items,
        CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,4)))) AS BIGINT) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN (VALUES ('small', 1, 9), ('medium', 10, 24), ('large', 25, 50))
        AS t(tier, lo, hi)
        ON CAST(FLOOR(l_quantity) AS INT) BETWEEN t.lo AND t.hi
      GROUP BY t.tier
      ORDER BY t.tier
    """))

  // ---------------------------------------------------------------------
  // q30 — retention cohorts: users grouped by first-seen day, counted at
  // each day offset. The per-user first day comes from a window min over
  // the SAME user_id partitioning the final agg shuffles on — one
  // shuffle total, no self-join of the fact table against its own
  // "first touch" aggregate.
  val q30 = Q(
    "q30_retention_cohort",
    (s, dir) => {
      import s.implicits._
      val wu = Window.partitionBy($"user_id")
      t(s, dir, "events")
        .select($"user_id", to_date($"ts").as("d"))
        .withColumn("cohort_d", min($"d").over(wu))
        .groupBy(date_format($"cohort_d", "yyyy-MM-dd").as("cohort_day"),
                 datediff($"d", $"cohort_d").as("day_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort_day", $"day_offset")
    },
    Some("""
      SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_day,
             date_diff('day', cohort_d, d) AS day_offset,
             COUNT(DISTINCT user_id) AS n_users
      FROM (SELECT user_id, CAST(ts AS DATE) AS d,
              MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_d
            FROM events)
      GROUP BY 1, 2
      ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------------
  // q31 — ordered funnel (view → later click → later purchase per
  // user): three chained window mins over ONE user_id sort — each stage
  // anchors on the previous stage's timestamp, so "click" only counts
  // after the first view, "purchase" only after that click. Catalyst
  // runs all three in a single Window operator chain over one
  // shuffle+sort; no self-joins, no CEP pass.
  val q31 = Q(
    "q31_funnel",
    (s, dir) => {
      import s.implicits._
      val wu = Window.partitionBy($"user_id")
      t(s, dir, "events")
        .select($"user_id", $"ts".cast("timestamp").as("t"), $"event_type")
        .withColumn("tv", min(when($"event_type" === "view", $"t")).over(wu))
        .withColumn("tc",
          min(when($"event_type" === "click" && $"t" > $"tv", $"t")).over(wu))
        .withColumn("tp",
          min(when($"event_type" === "purchase" && $"t" > $"tc", $"t")).over(wu))
        .agg(
          countDistinct(when($"tv".isNotNull, $"user_id")).as("n_view"),
          countDistinct(when($"tc".isNotNull, $"user_id")).as("n_view_click"),
          countDistinct(when($"tp".isNotNull, $"user_id")).as("n_full_funnel"))
    },
    Some("""
      WITH s1 AS (
        SELECT user_id, ts, event_type,
          MIN(CASE WHEN event_type = 'view' THEN ts END)
            OVER (PARTITION BY user_id) AS tv
        FROM events),
      s2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > tv THEN ts END)
            OVER (PARTITION BY user_id) AS tc
        FROM s1),
      s3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > tc THEN ts END)
            OVER (PARTITION BY user_id) AS tp
        FROM s2)
      SELECT COUNT(DISTINCT CASE WHEN tv IS NOT NULL THEN user_id END) AS n_view,
        COUNT(DISTINCT CASE WHEN tc IS NOT NULL THEN user_id END) AS n_view_click,
        COUNT(DISTINCT CASE WHEN tp IS NOT NULL THEN user_id END) AS n_full_funnel
      FROM s3
    """))

  // ---------------------------------------------------------------------
  // q32 — RANGE (value-based) window frames: per-user rolling 7-day
  // count and sum, the frame variant q10's ROWS running totals don't
  // cover. The frame bound is an epoch-micros interval, so peers at the
  // same timestamp are all in-frame (RANGE semantics) in both engines;
  // the windowed sum stays exact DECIMAL so intra-frame order can't
  // perturb the double.
  val q32 = Q(
    "q32_rolling_range_frame",
    (s, dir) => {
      import s.implicits._
      val wr = Window.partitionBy($"user_id").orderBy($"ep")
        .rangeBetween(-7L * 86400L * 1000000L, 0L)
      t(s, dir, "events")
        .select($"event_id", $"user_id",
          unix_micros($"ts".cast("timestamp")).as("ep"), $"value")
        .select($"event_id", $"user_id", Q.epochS($"ep").as("epoch_s"),
          count(lit(1)).over(wr).as("n_7d"),
          sum(dec($"value")).over(wr).cast(DoubleType).as("val_7d"))
    },
    Some("""
      SELECT event_id, user_id, epoch_us(ts) // 1000000 AS epoch_s,
        COUNT(*) OVER w AS n_7d,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS val_7d
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """))

  // ---------------------------------------------------------------------
  // q33 — multi-EXISTS decorrelation (the TPC-H Q21 shape): suppliers
  // whose lineitem was the LAST to ship on a multi-supplier order —
  // one EXISTS (another supplier shares the order) and one NOT EXISTS
  // (no other supplier shipped later), both correlated on (orderkey,
  // suppkey, shipdate). The semi+anti self-join form shuffles the fact
  // table three times; this is the single-shuffle algebraic rewrite.
  // Both EXISTS conditions collapse to order-grain facts about
  // per-supplier max shipdates:
  //   qualifies(o, s) ⇔ |suppliers(o)| ≥ 2 ∧ maxShip(o, s) = maxShip(o)
  // (⇒: a qualifying l1 of s has no other supplier shipping strictly
  // later, so s's max ≥ every other supplier's max; ⇐: s's max-shipdate
  // row is itself a qualifying l1 — ties qualify both suppliers, same
  // as the NOT EXISTS, which only rejects STRICTLY later shipments.)
  // One hash repartition of the 3-column projection by l_orderkey, then
  // the per-(order, supplier) max, the order-grain window counts, and
  // the filter are all partition-local: HashPartitioning(l_orderkey)
  // satisfies the groupBy's (l_orderkey, l_suppkey) clustering and the
  // window's l_orderkey clustering, so neither adds an exchange. The
  // deliberate tradeoff: repartitioning raw rows forfeits map-side
  // partial aggregation, but lineitem has ~1 row per (order, supplier),
  // so partials save nothing and the self-join form would shuffle the
  // same volume 3x.
  val q33 = Q(
    "q33_multi_exists",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
        .repartition($"l_orderkey")
      val perSupp = li.groupBy($"l_orderkey", $"l_suppkey")
        .agg(max($"l_shipdate").as("sd"))
      val w = Window.partitionBy($"l_orderkey")
      val sup = t(s, dir, "supplier")
      perSupp
        .select($"l_orderkey", $"l_suppkey", $"sd",
          count(lit(1)).over(w).as("nsup"), max($"sd").over(w).as("maxd"))
        .filter($"nsup" >= 2 && $"sd" === $"maxd")
        .join(sup, $"l_suppkey" === sup("s_suppkey"))
        .groupBy($"s_name")
        .agg(countDistinct($"l_orderkey").as("numwait"))
        .orderBy($"numwait".desc, $"s_name")
        .limit(20)
    },
    Some("""
      SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
      FROM lineitem l1
      JOIN supplier ON l1.l_suppkey = s_suppkey
      WHERE EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > l1.l_shipdate)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 20
    """))

  // ---------------------------------------------------------------------
  // q34 — global scalar subquery + anti join (the TPC-H Q22 shape):
  // purchasers spending above the global per-purchase average, minus
  // error-prone users (≥ 18 error events — every fixture user has a
  // few errors, so a bare "never" would select nobody). The average
  // comparison is done as an exact integer
  // cross-multiply (su/cu > sg/cg ⇔ su_cents·cg > sg_cents·cu) — a
  // floating average would make the boundary rows engine-dependent.
  // The global aggregate is one broadcast row; the anti join keys on
  // user_id. (BIGINT cross-products stay < 2^63 for any realistic
  // per-user cents totals; both engines fail loudly, not wrongly, if
  // that ever overflows.)
  val q34 = Q(
    "q34_above_avg_never_error",
    (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events")
      val p = e.filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg((sum(dec($"value")) * 10000).cast("long").as("su_cents"),
             count(lit(1)).as("cu"))
      val g = p.agg(sum($"su_cents").as("sg_cents"), sum($"cu").as("cg"))
      val errUsers = e.filter($"event_type" === "error")
        .groupBy($"user_id").agg(count(lit(1)).as("ne"))
        .filter($"ne" >= 18).select($"user_id")
      p.crossJoin(broadcast(g))
        .filter($"su_cents" * $"cg" > $"sg_cents" * $"cu")
        .join(errUsers, Seq("user_id"), "left_anti")
        .select($"user_id", $"cu".as("n_purchases"), $"su_cents")
    },
    Some("""
      WITH p AS (
        SELECT user_id,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS su_cents,
          COUNT(*) AS cu
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      g AS (SELECT CAST(SUM(su_cents) AS BIGINT) AS sg_cents,
                   CAST(SUM(cu) AS BIGINT) AS cg FROM p)
      SELECT p.user_id, p.cu AS n_purchases, p.su_cents
      FROM p, g
      WHERE p.su_cents * g.cg > g.sg_cents * p.cu
        AND NOT EXISTS (SELECT 1 FROM events e
                        WHERE e.user_id = p.user_id
                          AND e.event_type = 'error'
                        GROUP BY e.user_id
                        HAVING COUNT(*) >= 18)
    """))

  // ---------------------------------------------------------------------
  // q35 — ranking window functions beyond row_number (q09): ntile
  // quartiles, percent_rank, cume_dist over per-user spend. All three
  // ride ONE global ordering; the output is user-grain (small), so the
  // single-partition window is the correct plan here — at fact grain
  // the q09/q30 keyed-partition pattern applies instead. Rank-derived
  // ratios are exact integer arithmetic scaled to ppm.
  val q35 = Q(
    "q35_rank_functions",
    (s, dir) => {
      import s.implicits._
      val spend = t(s, dir, "events")
        .filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg((sum(dec($"value")) * 10000).cast("long").as("cents"))
      val w = Window.orderBy($"cents", $"user_id")
      spend.select($"user_id", $"cents",
        ntile(4).over(w).as("quartile"),
        (round(percent_rank().over(w) * 1e6)).cast("long").as("pr_ppm"),
        (round(cume_dist().over(w) * 1e6)).cast("long").as("cd_ppm"))
    },
    Some("""
      SELECT user_id, cents,
        NTILE(4) OVER w AS quartile,
        CAST(round(PERCENT_RANK() OVER w * 1e6) AS BIGINT) AS pr_ppm,
        CAST(round(CUME_DIST() OVER w * 1e6) AS BIGINT) AS cd_ppm
      FROM (SELECT user_id,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      WINDOW w AS (ORDER BY cents, user_id)
    """))

  // ---------------------------------------------------------------------
  // q36 — correlated scalar-aggregate subquery (the TPC-H Q17 shape):
  // revenue from "small" lineitems — quantity below 20% of the part's
  // own average quantity. Written directly in its decorrelated form:
  // per-part aggregate once, broadcast-join back to the fact, compare
  // via the exact integer cross-multiply (qty·5·cnt < sum_qty — the
  // 0.2·avg as doubles would make boundary rows engine-dependent).
  // The per-part aggregate is |part|-sized — no broadcast HINT (part
  // grows with the corpus; AQE broadcasts it while it fits and falls
  // back to a keyed join when it doesn't, which is the right call at
  // both ends of the scale).
  val q36 = Q(
    "q36_small_quantity_revenue",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      // FLOOR, not a bare cast: Spark's cast truncates while DuckDB's
      // CAST rounds, so the two would tier fractional quantities
      // differently (same divergence class as q29's bucketing)
      val qtyL = floor($"l_quantity").cast("long")
      val perPart = li.groupBy($"l_partkey".as("pk"))
        .agg(sum(qtyL).as("sq"), count(lit(1)).as("cn"))
      li.join(perPart, $"l_partkey" === $"pk")
        .filter(qtyL * 5L * $"cn" < $"sq")
        .agg(dsum($"l_extendedprice").as("small_qty_revenue"),
             count(lit(1)).as("n_small"))
    },
    Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS small_qty_revenue,
             COUNT(*) AS n_small
      FROM lineitem l1
      JOIN (SELECT l_partkey AS pk,
              CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
              COUNT(*) AS cn
            FROM lineitem GROUP BY l_partkey) p
        ON l1.l_partkey = p.pk
      WHERE CAST(FLOOR(l1.l_quantity) AS BIGINT) * 5 * p.cn < p.sq
    """))

  // ---------------------------------------------------------------------
  // q37 — full-outer join (reconciliation shape): high-balance customers
  // vs high-activity event users, three-way split into left-only /
  // right-only / matched. Both inputs aggregate or filter BEFORE the
  // join, so the full-outer shuffles two key-grain relations, never a
  // fact table; at 100 TB the pre-agg keeps the null-producing join at
  // user cardinality.
  val q37 = Q(
    "q37_full_outer_join",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer").filter($"c_acctbal" > 5000.0)
        .select($"c_custkey", $"c_acctbal")
      val e = t(s, dir, "events")
        .groupBy($"user_id").agg(count(lit(1)).as("n_events"))
        .filter($"n_events" >= 20)
      c.join(e, $"c_custkey" === $"user_id", "full_outer")
        .select(
          coalesce($"c_custkey", $"user_id").as("id"),
          when($"user_id".isNull, "customer_only")
            .when($"c_custkey".isNull, "events_only")
            .otherwise("both").as("side"),
          dec($"c_acctbal").cast(DoubleType).as("acctbal"),
          $"n_events")
    },
    Some("""
      SELECT COALESCE(c.c_custkey, e.user_id) AS id,
        CASE WHEN e.user_id IS NULL THEN 'customer_only'
             WHEN c.c_custkey IS NULL THEN 'events_only'
             ELSE 'both' END AS side,
        CAST(CAST(c.c_acctbal AS DECIMAL(18,4)) AS DOUBLE) AS acctbal,
        e.n_events
      FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000.0) c
      FULL OUTER JOIN
           (SELECT user_id, COUNT(*) AS n_events FROM events
            GROUP BY user_id HAVING COUNT(*) >= 20) e
        ON c.c_custkey = e.user_id
    """))

  // ---------------------------------------------------------------------
  // q38 — unpivot (wide→long, the inverse of q21's pivot): per-segment
  // order metrics computed once in wide form, then melted with stack()
  // into (segment, metric, value) rows. stack is a Generator that runs
  // inside the same stage as the agg output — no extra shuffle; the
  // long form is what a metrics store ingests.
  val q38 = Q(
    "q38_unpivot",
    (s, dir) => {
      import s.implicits._
      val wide = t(s, dir, "customer")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).cast("double").as("n_orders"),
             dsum($"o_totalprice").as("total_price"),
             dec(max($"o_totalprice")).cast(DoubleType).as("max_price"))
      wide.select($"c_mktsegment", expr(
        "stack(3, 'n_orders', n_orders, 'total_price', total_price, " +
        "'max_price', max_price) AS (metric, value)"))
    },
    Some("""
      WITH wide AS (
        SELECT c_mktsegment,
          CAST(COUNT(*) AS DOUBLE) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
          CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,4)) AS DOUBLE) AS max_price
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment)
      SELECT c_mktsegment, 'n_orders' AS metric, n_orders AS value FROM wide
      UNION ALL
      SELECT c_mktsegment, 'total_price', total_price FROM wide
      UNION ALL
      SELECT c_mktsegment, 'max_price', max_price FROM wide
    """))

  // ---------------------------------------------------------------------
  // q39 — recursive CTE (Spark 4's UnionLoop operator): per-user
  // path-to-root over an implicit binary hierarchy (parent = id DIV 2,
  // root = 1) — the org-chart / referral-graph transitive-traversal
  // shape relational engines gate on WITH RECURSIVE. Each iteration is
  // one distributed scan + filter over the frontier (UnionLoop re-plans
  // the step, AQE applies per iteration); depth is bounded by
  // log2(max id) ≈ 14 here, and at 100 TB by the hierarchy's height,
  // never its width — the frontier shrinks monotonically because every
  // node halves. The steps histogram keeps output tiny.
  val q39 = Q(
    "q39_recursive_hierarchy",
    (s, dir) => {
      t(s, dir, "events").select(col("user_id")).distinct()
        .createOrReplaceTempView("graft_q39_users")
      val df = s.sql("""
        WITH RECURSIVE chain AS (
          SELECT user_id, user_id AS node, 0 AS steps FROM graft_q39_users
          UNION ALL
          SELECT user_id, node DIV 2 AS node, steps + 1 AS steps
          FROM chain WHERE node > 1
        )
        SELECT steps, COUNT(*) AS n_nodes FROM chain GROUP BY steps
      """)
      // analyzed: drop the view, as q13 does
      s.catalog.dropTempView("graft_q39_users")
      df
    },
    Some("""
      WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events),
      chain AS (
        SELECT user_id, user_id AS node, 0 AS steps FROM u
        UNION ALL
        SELECT user_id, node // 2 AS node, steps + 1 AS steps
        FROM chain WHERE node > 1)
      SELECT steps, COUNT(*) AS n_nodes FROM chain GROUP BY steps
    """))

  def queries: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20,
    q21, q22, q23, q24, q25, q26, q27, q28, q29, q30, q31, q32, q33,
    q34, q35, q36, q37, q38, q39)
}
