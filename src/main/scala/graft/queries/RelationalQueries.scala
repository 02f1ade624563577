package graft.queries

import graft.QueryDef
import graft.ops.RelationalOps
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational operator inventory (SURVEY.md §2) expressed over
  * the driver testdata, each with a DuckDB oracle. Query names cite
  * the §2 operator ids they cover.
  *
  * Determinism rules (needed for hash-equality against the oracle):
  * every result is fully ordered by a unique key; every
  * order-dependent double aggregate is rounded; every top-k has a
  * unique tie-break column.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir).table(n)

  def defs: Seq[QueryDef] = Seq(

    // S2/P1/O1: scan + projection + total sort
    QueryDef("q_scan_project",
      (s, d) => t(s, d, "region").select(col("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey"),
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // P2/P4: row-level arithmetic expression + aliasing (unrounded —
    // bit-identical across engines because the expression tree is identical)
    QueryDef("q_arith_project",
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        ((col("l_extendedprice") * (lit(1) - col("l_discount"))) * (lit(1) + col("l_tax")))
          .as("charge"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // P5: searched multi-branch CASE WHEN (SQLQueries.sql:22-26 shape)
    QueryDef("q_case_when",
      (s, d) => t(s, d, "orders").select(
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("price_band"))
        .groupBy("price_band").agg(count(lit(1)).as("n"))
        .orderBy("price_band"),
      Some("""SELECT CASE WHEN o_totalprice > 200000 THEN 'high'
             |            WHEN o_totalprice > 100000 THEN 'mid'
             |            ELSE 'low' END AS price_band, count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // P7/P8: IN-list + BETWEEN on dates (SQLQueries.sql:15,41 shape)
    QueryDef("q_in_between",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate").between("1996-01-01", "1998-12-31"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
             |FROM lineitem
             |WHERE l_returnflag IN ('A','R')
             |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // P9: <> filter (NULL-excluding 3-valued logic, SQLQueries.sql:50)
    QueryDef("q_neq_filter",
      (s, d) => t(s, d, "customer").filter(col("c_mktsegment") =!= "BUILDING")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n FROM customer
             |WHERE c_mktsegment <> 'BUILDING' GROUP BY 1 ORDER BY 1""".stripMargin)),

    // J1: LEFT OUTER equi-join onto a broadcast dim (SQLQueries.sql:13-14)
    QueryDef("q_left_join_dim",
      (s, d) => t(s, d, "nation")
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"), "left")
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey, n_name, r_name FROM nation
             |LEFT JOIN region ON n_regionkey = r_regionkey
             |ORDER BY n_nationkey""".stripMargin)),

    // J2: LEFT OUTER fact fan-out + null-skipping aggregates (SQLQueries.sql:39-40)
    QueryDef("q_left_join_fanout",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(count(col("o_orderkey")).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_cust"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(o_orderkey) AS n_orders,
             |  count(DISTINCT c_custkey) AS n_cust, round(sum(o_totalprice), 2) AS total
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // J3: RIGHT OUTER join on a compound key (SQLQueries.sql:48 shape)
    QueryDef("q_right_join_compound",
      (s, d) => {
        val ev = t(s, d, "events")
        // alias the grouped side's keys: groupBy keeps the source's
        // attribute ids, so an unaliased self-join would be ambiguous
        val g = ev.groupBy("user_id", "event_type").agg(count(lit(1)).as("n_same"))
          .select(col("user_id").as("g_uid"), col("event_type").as("g_type"), col("n_same"))
        g.join(ev, col("g_uid") === col("user_id") && col("g_type") === col("event_type"), "right")
          .select(col("event_id"), col("n_same"))
          .orderBy("event_id")
      },
      Some("""WITH g AS (SELECT user_id, event_type, count(*) AS n_same
             |           FROM events GROUP BY 1, 2)
             |SELECT e.event_id, g.n_same
             |FROM g RIGHT JOIN events e
             |  ON g.user_id = e.user_id AND g.event_type = e.event_type
             |ORDER BY e.event_id""".stripMargin), bench = true),

    // J4/J5: multi-way join through two broadcast dims (TPC-H Q5 shape) — bench headline
    QueryDef("q_multiway_revenue",
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          countDistinct(col("n_nationkey")).as("n_nations"))
        .orderBy("r_name"),
      Some("""SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  count(DISTINCT n_nationkey) AS n_nations
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1 ORDER BY 1""".stripMargin), bench = true),

    // O2/O5 + J5: join + agg + deterministic top-k (TPC-H Q3 shape) — bench headline
    QueryDef("q_topk_revenue",
      (s, d) => t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("order_date"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10),
      Some("""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
             |  AND o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey = l_orderkey
             |GROUP BY 1, 2
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin), bench = true),

    // A1/P3: grouped aggregation battery (TPC-H Q1; flagship) — bench headline
    QueryDef("q_pricing_summary",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  round(avg(l_extendedprice), 4) AS avg_price,
             |  round(avg(l_discount), 4) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin), bench = true),

    // A2: conditional aggregation / manual pivot (SQLQueries.sql:19-26 shape)
    QueryDef("q_conditional_avg",
      (s, d) => t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(RelationalOps.avgIf(col("c_mktsegment") === "BUILDING", col("c_acctbal")), 4)
            .as("building_avg"),
          round(RelationalOps.avgIf(col("c_mktsegment") === "AUTOMOBILE", col("c_acctbal")), 4)
            .as("automobile_avg"),
          when(RelationalOps.avgIf(col("c_mktsegment") === "BUILDING", col("c_acctbal")) >
            RelationalOps.avgIf(col("c_mktsegment") === "AUTOMOBILE", col("c_acctbal")), "BUILDING")
            .when(RelationalOps.avgIf(col("c_mktsegment") === "BUILDING", col("c_acctbal")) <
              RelationalOps.avgIf(col("c_mktsegment") === "AUTOMOBILE", col("c_acctbal")), "AUTOMOBILE")
            .otherwise("N/A").as("leader"))
        .orderBy("n_name"),
      Some("""SELECT n_name,
             |  round(avg(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END), 4) AS building_avg,
             |  round(avg(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal END), 4) AS automobile_avg,
             |  CASE WHEN avg(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END) >
             |            avg(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal END) THEN 'BUILDING'
             |       WHEN avg(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END) <
             |            avg(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal END) THEN 'AUTOMOBILE'
             |       ELSE 'N/A' END AS leader
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A3: HAVING on count(distinct) (SQLQueries.sql:30)
    QueryDef("q_having_distinct",
      (s, d) => t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(countDistinct(col("o_orderpriority")).as("n_prio"), count(lit(1)).as("n_orders"))
        .filter(col("n_prio") > 3)
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_prio, count(*) AS n_orders
             |FROM orders GROUP BY 1
             |HAVING count(DISTINCT o_orderpriority) > 3
             |ORDER BY 1""".stripMargin)),

    // A4: GROUP BY-as-dedup ≡ dropDuplicates (SQLQueries.sql:42,51)
    QueryDef("q_dedup_groupby",
      (s, d) => RelationalOps.dedupRows(t(s, d, "lineitem"), Seq("l_returnflag", "l_linestatus"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2")),

    // A5: 3-key grouped avg (SQLQueries.sql:54-56 shape)
    QueryDef("q_group3_avg",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(round(avg("l_quantity"), 4).as("avg_qty"), count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus", "ship_year"),
      Some("""SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
             |  round(avg(l_quantity), 4) AS avg_qty, count(*) AS n
             |FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // A7/H4: $push → collect_list, rendered order-stable (NoSQLQueries.js:40)
    QueryDef("q_collect_sorted",
      (s, d) => t(s, d, "nation")
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(RelationalOps.sortedList(col("n_name")).as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy("r_name"),
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
             |  count(*) AS n_nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A8/O6: argmin-per-group via window (NoSQLQueries.js:49-50; SURVEY §7.4 Q3)
    QueryDef("q_argmin_group",
      (s, d) => RelationalOps.argminBy(
        t(s, d, "customer"),
        Seq(col("c_nationkey")),
        Seq(col("c_acctbal"), col("c_custkey")))
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_nationkey"),
      Some("""SELECT c_nationkey, c_custkey, c_acctbal FROM customer
             |QUALIFY row_number() OVER (PARTITION BY c_nationkey
             |                           ORDER BY c_acctbal, c_custkey) = 1
             |ORDER BY c_nationkey""".stripMargin)),

    // Bounded-state per-group top-k (custom TypedImperativeAggregate;
    // state ≤ k rows/group vs the window idiom's full-group sort)
    QueryDef("q_topk_per_group",
      (s, d) => RelationalOps.topKPerGroup(
        t(s, d, "customer"),
        keyCols = Seq(col("c_nationkey")),
        orderStruct = struct(col("c_acctbal"), col("c_custkey")),
        k = 3)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_nationkey", "c_acctbal", "c_custkey"),
      Some("""SELECT c_nationkey, c_custkey, c_acctbal FROM customer
             |QUALIFY row_number() OVER (PARTITION BY c_nationkey
             |                           ORDER BY c_acctbal, c_custkey) <= 3
             |ORDER BY c_nationkey, c_acctbal, c_custkey""".stripMargin), bench = true),

    // O5: $sort + $limit 1 → TakeOrderedAndProject (NoSQLQueries.js:11-12)
    QueryDef("q_top1",
      (s, d) => RelationalOps.topK(
        t(s, d, "supplier").select(col("s_suppkey"), col("s_name"), col("s_acctbal")),
        1, desc("s_acctbal"), col("s_suppkey")),
      Some("""SELECT s_suppkey, s_name, s_acctbal FROM supplier
             |ORDER BY s_acctbal DESC, s_suppkey LIMIT 1""".stripMargin)),

    // C1/C2: nested CTE via spark.sql (SQLQueries.sql:35-52 shape)
    QueryDef("q_nested_cte",
      (s, d) => {
        Tables(s, d).registerAll()
        s.sql("""
          WITH perf AS (
            WITH cust_orders AS (
              SELECT o_custkey, o_orderkey, o_totalprice
              FROM orders
              WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31')
            SELECT c.c_mktsegment, co.o_totalprice
            FROM cust_orders co
            LEFT JOIN customer c ON co.o_custkey = c.c_custkey)
          SELECT c_mktsegment, round(avg(o_totalprice), 4) AS avg_price, count(*) AS n
          FROM perf GROUP BY 1
          ORDER BY avg_price DESC, c_mktsegment""")
      },
      Some("""WITH perf AS (
             |  WITH cust_orders AS (
             |    SELECT o_custkey, o_orderkey, o_totalprice
             |    FROM orders
             |    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31')
             |  SELECT c.c_mktsegment, co.o_totalprice
             |  FROM cust_orders co
             |  LEFT JOIN customer c ON co.o_custkey = c.c_custkey)
             |SELECT c_mktsegment, round(avg(o_totalprice), 4) AS avg_price, count(*) AS n
             |FROM perf GROUP BY 1
             |ORDER BY avg_price DESC, c_mktsegment""".stripMargin)),

    // H1-H3: higher-order array filter + element_at (NoSQLQueries.js:43-47)
    // — pick the lowest above-average supplier per nation
    QueryDef("q_array_pick",
      (s, d) => {
        val g = t(s, d, "supplier").groupBy("s_nationkey")
          .agg(avg("s_acctbal").as("avg_bal"),
            collect_list(struct(col("s_acctbal").as("bal"), col("s_suppkey").as("id"),
              col("s_name").as("name"))).as("sups"))
        g.withColumn("qual",
            sort_array(filter(col("sups"), x => x.getField("bal") > col("avg_bal"))))
          .withColumn("chosen", try_element_at(col("qual"), lit(1)))
          .filter(col("chosen").isNotNull)
          .select(col("s_nationkey"), col("chosen.id").as("s_suppkey"),
            col("chosen.bal").as("s_acctbal"), col("chosen.name").as("s_name"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, s_suppkey, s_acctbal, s_name
             |FROM (SELECT *, avg(s_acctbal) OVER (PARTITION BY s_nationkey) AS avg_bal
             |      FROM supplier)
             |WHERE s_acctbal > avg_bal
             |QUALIFY row_number() OVER (PARTITION BY s_nationkey
             |                           ORDER BY s_acctbal, s_suppkey) = 1
             |ORDER BY s_nationkey""".stripMargin)),

    // Windows beyond the reference (§2.8): rank-per-group
    QueryDef("q_window_rank",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_custkey"), row_number().over(w).as("rn"),
            col("o_orderkey"), col("o_totalprice"))
          .filter(col("rn") <= 2)
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey,
             |  row_number() OVER (PARTITION BY o_custkey
             |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             |  o_orderkey, o_totalprice
             |FROM orders
             |QUALIFY rn <= 2
             |ORDER BY o_custkey, rn""".stripMargin)),

    // Analytic-function battery: rank / dense_rank / percent_rank /
    // cume_dist / ntile in one pass (ties engineered by ranking on
    // order status within priority). The ratio functions are exact
    // integer formulas, so values agree bit-for-bit.
    QueryDef("q_window_analytic",
      (s, d) => {
        // wTied ranks on status alone (3 values → real tie groups:
        // rank jumps, dense_rank compacts, percent_rank/cume_dist are
        // per-group constants); ntile needs a TOTAL order — its
        // assignment is positional and would be engine-dependent
        // under ties
        val wTied = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_orderstatus"))
        val wTotal = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_orderstatus"), col("o_orderkey"))
        t(s, d, "orders").filter(col("o_orderkey") < 2000)
          .select(col("o_orderpriority"), col("o_orderkey"),
            rank().over(wTied).cast("long").as("rnk"),
            dense_rank().over(wTied).cast("long").as("drnk"),
            round(percent_rank().over(wTied), 6).as("prnk"),
            round(cume_dist().over(wTied), 6).as("cd"),
            ntile(4).over(wTotal).cast("long").as("quartile"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some("""SELECT o_orderpriority, o_orderkey,
             |  rank() OVER wt AS rnk,
             |  dense_rank() OVER wt AS drnk,
             |  round(percent_rank() OVER wt, 6) AS prnk,
             |  round(cume_dist() OVER wt, 6) AS cd,
             |  ntile(4) OVER wo AS quartile
             |FROM orders WHERE o_orderkey < 2000
             |WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY o_orderstatus),
             |       wo AS (PARTITION BY o_orderpriority
             |              ORDER BY o_orderstatus, o_orderkey)
             |ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // Windows: running sum + lag over daily totals. The cumsum uses
    // the scalable two-phase form (per-month partitions + prefix
    // offsets) and must still match the oracle's single global window.
    // The lag's single-partition window is deliberate and safe: it
    // runs AFTER the groupBy collapses the input to one row per date,
    // so the single-task frame is |dates| (~10k rows for 30 years of
    // data) no matter how large the fact table is — partitionBy a
    // constant so the bounded-by-construction case doesn't trip
    // WindowExec's move-everything warning
    QueryDef("q_window_running",
      (s, d) => {
        val daily = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("order_date"))
          .agg(round(sum("o_totalprice"), 2).as("daily_total"))
        val w = Window.partitionBy(lit(0)).orderBy("order_date")
        val withRunning = RelationalOps.runningTotal(daily,
          bucket = date_trunc("month", col("order_date")),
          order = Seq(col("order_date")),
          value = col("daily_total"), resultName = "__rt")
        withRunning
          .withColumn("running_total", round(col("__rt"), 2)).drop("__rt")
          .withColumn("prev_total", lag("daily_total", 1).over(w))
          .orderBy("order_date")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS order_date,
             |         round(sum(o_totalprice), 2) AS daily_total
             |  FROM orders GROUP BY 1)
             |SELECT order_date, daily_total,
             |  round(sum(daily_total) OVER (ORDER BY order_date
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
             |  lag(daily_total, 1) OVER (ORDER BY order_date) AS prev_total
             |FROM daily ORDER BY order_date""".stripMargin), bench = true),

    // Window frames beyond the default: bounded ROWS moving average,
    // first_value over the growing frame, ntile quartiles — all per
    // priority partition (parallel; no global window)
    QueryDef("q_window_moving",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("order_date"),
            col("o_orderpriority"))
          .agg(round(sum("o_totalprice"), 2).as("daily_total"))
        val byPrio = Window.partitionBy("o_orderpriority").orderBy("order_date")
        daily.select(col("o_orderpriority"), col("order_date"), col("daily_total"),
            round(avg("daily_total").over(byPrio.rowsBetween(-6, 0)), 4).as("ma7"),
            first_value(col("daily_total")).over(byPrio).as("first_total"),
            ntile(4).over(byPrio).as("quartile"))
          .orderBy("o_orderpriority", "order_date")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
             |         round(sum(o_totalprice), 2) AS daily_total
             |  FROM orders GROUP BY 1, 2)
             |SELECT o_orderpriority, order_date, daily_total,
             |  round(avg(daily_total) OVER (PARTITION BY o_orderpriority ORDER BY order_date
             |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
             |  first_value(daily_total) OVER (PARTITION BY o_orderpriority ORDER BY order_date)
             |    AS first_total,
             |  ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY order_date) AS quartile
             |FROM daily ORDER BY o_orderpriority, order_date""".stripMargin)),

    // Set operators (§2.8): EXCEPT / INTERSECT / UNION ALL
    QueryDef("q_set_ops",
      (s, d) => {
        val a = t(s, d, "customer").filter(col("c_acctbal") > 9000)
          .select(col("c_nationkey").as("nk")).distinct()
        val b = t(s, d, "supplier").filter(col("s_acctbal") > 9000)
          .select(col("s_nationkey").as("nk")).distinct()
        a.except(b).agg(count(lit(1)).as("n")).withColumn("src", lit("cust_only"))
          .unionByName(b.except(a).agg(count(lit(1)).as("n")).withColumn("src", lit("supp_only")))
          .unionByName(a.intersect(b).agg(count(lit(1)).as("n")).withColumn("src", lit("both")))
          .select(col("src"), col("n"))
          .orderBy("src")
      },
      Some("""SELECT 'cust_only' AS src, count(*) AS n FROM (
             |  SELECT DISTINCT c_nationkey FROM customer WHERE c_acctbal > 9000
             |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier WHERE s_acctbal > 9000)
             |UNION ALL
             |SELECT 'supp_only', count(*) FROM (
             |  SELECT DISTINCT s_nationkey FROM supplier WHERE s_acctbal > 9000
             |  EXCEPT SELECT DISTINCT c_nationkey FROM customer WHERE c_acctbal > 9000)
             |UNION ALL
             |SELECT 'both', count(*) FROM (
             |  SELECT DISTINCT c_nationkey FROM customer WHERE c_acctbal > 9000
             |  INTERSECT SELECT DISTINCT s_nationkey FROM supplier WHERE s_acctbal > 9000)
             |ORDER BY src""".stripMargin)),

    // A2 via the built-in pivot operator (same semantics as the manual
    // CASE pivot; oracle uses the CASE form — results must agree)
    QueryDef("q_pivot",
      (s, d) => t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .pivot("c_mktsegment", Seq("BUILDING", "AUTOMOBILE"))
        .agg(round(avg("c_acctbal"), 4))
        .withColumnRenamed("BUILDING", "building_avg")
        .withColumnRenamed("AUTOMOBILE", "automobile_avg")
        .orderBy("n_name"),
      Some("""SELECT n_name,
             |  round(avg(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END), 4) AS building_avg,
             |  round(avg(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal END), 4) AS automobile_avg
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Skew-mitigation salted join: fact rows get a random-but-bounded
    // salt, the dim side is exploded across all salts, and the join
    // key becomes (key, salt) — spreading one hot key over `salt`
    // reducers. The oracle is the PLAIN join: salting must be
    // semantically invisible, and this proves it on real data
    QueryDef("q_salted_join",
      (s, d) => RelationalOps.saltedJoin(
          t(s, d, "lineitem").select(col("l_suppkey").as("suppkey"),
            col("l_extendedprice"), col("l_discount")),
          t(s, d, "supplier").select(col("s_suppkey").as("suppkey"), col("s_nationkey")),
          "suppkey", salt = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("s_nationkey"),
      Some("""SELECT s_nationkey, count(*) AS n_items,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Argmax via max(struct(order, payload)): the single-shuffle,
    // partial-aggregation form of per-group argmax (the IVF
    // assignment pattern) — unlike the window argmin it never sorts a
    // group; the struct's lexicographic order makes ties
    // deterministic (max order, then max payload). Oracle uses the
    // equivalent deterministic window form
    QueryDef("q_argmax_struct",
      (s, d) => t(s, d, "supplier")
        .groupBy("s_nationkey")
        .agg(max(struct(col("s_acctbal"), col("s_suppkey"))).as("m"))
        .select(col("s_nationkey"), col("m.s_suppkey").as("best_supp"),
          round(col("m.s_acctbal"), 2).as("best_bal"))
        .orderBy("s_nationkey"),
      Some("""SELECT s_nationkey, s_suppkey AS best_supp, round(s_acctbal, 2) AS best_bal
             |FROM (SELECT s_nationkey, s_suppkey, s_acctbal,
             |        row_number() OVER (PARTITION BY s_nationkey
             |          ORDER BY s_acctbal DESC, s_suppkey DESC) AS rn
             |      FROM supplier)
             |WHERE rn = 1 ORDER BY s_nationkey""".stripMargin)),

    // Typed UDAF (Aggregator tier): geometric mean; oracle uses the
    // algebraic identity exp(avg(ln x))
    QueryDef("q_geomean",
      (s, d) => t(s, d, "supplier")
        .filter(col("s_acctbal") > 0)
        .groupBy("s_nationkey")
        .agg(round(graft.functions.GeometricMean.asColumn(col("s_acctbal")), 4).as("geo_bal"),
          count(lit(1)).as("n"))
        .orderBy("s_nationkey"),
      Some("""SELECT s_nationkey, round(exp(avg(ln(s_acctbal))), 4) AS geo_bal,
             |  count(*) AS n
             |FROM supplier WHERE s_acctbal > 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Hierarchical aggregation (engine-completeness beyond §2): ROLLUP
    QueryDef("q_rollup",
      (s, d) => t(s, d, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // CUBE: all grouping-set combinations
    QueryDef("q_cube",
      (s, d) => t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  sum(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Exact interpolated percentiles per group
    QueryDef("q_percentile",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.95)"), 4).as("p95"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
             |  round(quantile_cont(l_quantity, 0.95), 4) AS p95,
             |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Multiset set ops: EXCEPT ALL keeps duplicates (bag semantics)
    QueryDef("q_set_ops_all",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .exceptAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .groupBy("o_custkey").agg(count(lit(1)).as("n"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS n FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |  EXCEPT ALL
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Array function battery: distinct/intersect/except/union over
    // token arrays (canonicalized by sort before rendering)
    QueryDef("q_array_funcs",
      (s, d) => {
        val stop = array(Seq("the", "a", "of", "and", "to", "in", "is").map(lit): _*)
        val toks = array_distinct(split(lower(col("text")), "\\s+"))
        t(s, d, "documents").select(
          col("doc_id"),
          size(toks).cast("long").as("n_distinct"),
          array_join(array_sort(array_intersect(toks, stop)), ",").as("stops_present"),
          size(array_except(toks, stop)).cast("long").as("n_content"),
          size(array_union(toks, stop)).cast("long").as("n_union"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  len(list_distinct(string_split_regex(lower(text), '\s+'))) AS n_distinct,
             |  coalesce(array_to_string(list_sort(list_intersect(
             |    list_distinct(string_split_regex(lower(text), '\s+')),
             |    ['the','a','of','and','to','in','is'])), ','), '') AS stops_present,
             |  len(list_filter(list_distinct(string_split_regex(lower(text), '\s+')),
             |    t -> NOT list_contains(['the','a','of','and','to','in','is'], t))) AS n_content,
             |  len(list_distinct(list_concat(
             |    list_distinct(string_split_regex(lower(text), '\s+')),
             |    ['the','a','of','and','to','in','is']))) AS n_union
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Semi/anti joins (§2.3 "for free" set): customers with no orders
    QueryDef("q_anti_join",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // Correlated scalar subquery — Catalyst decorrelates the per-row
    // subquery into an aggregate + join (RewriteCorrelatedScalarSubquery),
    // so the "runs once per outer row" surface form executes as two
    // scans and one join at any scale. Same SQL text runs in DuckDB
    QueryDef("q_correlated_subq",
      (s, d) => {
        Tables(s, d).registerAll()
        s.sql("""SELECT c_custkey, round(c_acctbal, 2) AS acctbal
                |FROM customer c
                |WHERE c_acctbal > 2 * (SELECT avg(c2.c_acctbal) FROM customer c2
                |                       WHERE c2.c_nationkey = c.c_nationkey)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, round(c_acctbal, 2) AS acctbal
             |FROM customer c
             |WHERE c_acctbal > 2 * (SELECT avg(c2.c_acctbal) FROM customer c2
             |                       WHERE c2.c_nationkey = c.c_nationkey)
             |ORDER BY c_custkey""".stripMargin)),

    // LEFT SEMI join (EXISTS): customers holding at least one urgent
    // order — dedup-free existence check, no fan-out
    QueryDef("q_semi_join",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n_customers FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey
             |                AND o_orderpriority = '1-URGENT')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Explicit GROUPING SETS (the general form of rollup/cube):
    // per-(status,priority), per-status, and grand total only
    QueryDef("q_grouping_sets",
      (s, d) => t(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
             |                        (o_orderstatus), ())
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // UNPIVOT: measures → long form (the inverse of q_pivot), then
    // per-measure stats. Sums quantize to integer cents (2-dp doubles
    // ×100 are exact) so accumulation order cannot leak in.
    QueryDef("q_unpivot",
      (s, d) => t(s, d, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy("measure")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("val") * 100 + lit(0.5)).cast("long")).as("sum_cents"),
          round(min("val"), 6).as("min_v"), round(max("val"), 6).as("max_v"))
        .orderBy("measure"),
      Some("""WITH u AS (
             |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
             |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
             |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
             |SELECT measure, count(*) AS n,
             |  CAST(sum(CAST(floor(val * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
             |  round(min(val), 6) AS min_v, round(max(val), 6) AS max_v
             |FROM u GROUP BY measure ORDER BY measure""".stripMargin)),

    // Correlated LATERAL subquery in FROM (cross apply): one
    // aggregate row per outer nation — the decorrelation path beyond
    // scalar subqueries (q_correlated_subq). Identical SQL text runs
    // on both engines.
    QueryDef("q_lateral",
      (s, d) => {
        Tables(s, d).registerAll()
        s.sql("""
          SELECT n_name, t.n_orders, t.max_price
          FROM nation, LATERAL (
            SELECT count(*) AS n_orders, max(o_totalprice) AS max_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_nationkey = n_nationkey) t
          ORDER BY n_name""")
      },
      Some("""SELECT n_name, t.n_orders, t.max_price
             |FROM nation, LATERAL (
             |  SELECT count(*) AS n_orders, max(o_totalprice) AS max_price
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  WHERE c_nationkey = n_nationkey) t
             |ORDER BY n_name""".stripMargin)),

    // Schema profile: row/null/distinct counts per column — the
    // ingestion pre-flight. Exact integers, one stable long-form
    // schema for any column mix.
    QueryDef("q_profile",
      (s, d) => graft.ext.CorpusStats.profile(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column"),
      Some("""SELECT col AS column, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  count(DISTINCT v) AS n_distinct
             |FROM (
             |  SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS v FROM orders
             |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
             |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
             |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders)
             |GROUP BY col ORDER BY col""".stripMargin)),

    // Distribution-shape profile
    // ([[graft.ext.CorpusStats.groupMoments]]): variance, skewness,
    // excess kurtosis per return flag from exact int64 power sums —
    // the doubles derive from the same integers by one fixed IEEE
    // sequence (m2^1.5 as m2·sqrt(m2), never pow()), so the oracle
    // reproduces every statistic bit-for-bit before the final round.
    QueryDef("q_profile_moments",
      (s, d) => graft.ext.CorpusStats.groupMoments(
          t(s, d, "lineitem"), col("l_returnflag"), col("l_quantity"))
        .withColumnRenamed("group", "l_returnflag")
        .orderBy("l_returnflag"),
      Some("""WITH a AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(sum(q) AS BIGINT) AS s1, CAST(sum(q*q) AS BIGINT) AS s2,
             |    CAST(sum(q*q*q) AS BIGINT) AS s3, CAST(sum(q*q*q*q) AS BIGINT) AS s4
             |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
             |  GROUP BY 1),
             |b AS (
             |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
             |    s1 / CAST(n AS DOUBLE) AS mu, s2, s3, s4
             |  FROM a),
             |c AS (
             |  SELECT l_returnflag, n, mu, s3, s4, nd,
             |    s2 / nd - mu * mu AS m2,
             |    s3 / nd - 3.0 * mu * (s2 / nd) + 2.0 * mu * mu * mu AS m3,
             |    s4 / nd - 4.0 * mu * (s3 / nd) + 6.0 * mu * mu * (s2 / nd)
             |      - 3.0 * mu * mu * mu * mu AS m4
             |  FROM b)
             |SELECT l_returnflag, n, round(mu, 6) AS mean,
             |  round(m2, 6) AS variance,
             |  round(CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END, 6) AS skewness,
             |  round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END, 6) AS kurtosis_excess
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // Declarative data-quality gate ([[graft.ext.Quality]]): six
    // constraints over lineitem evaluated in ONE aggregation pass —
    // exact integer counters, ratios rounded at the end, so the
    // report re-derives bit-for-bit in SQL. One constraint
    // (quantity ≤ 10 at 90%) is planted to FAIL so the pass=false
    // path is hash-checked too.
    QueryDef("q_quality_check",
      (s, d) => {
        val rep = graft.ext.Quality.checkConstraints(t(s, d, "lineitem"), Seq(
          graft.ext.Quality.Complete("l_returnflag", 1.0),
          graft.ext.Quality.Unique(Seq("l_orderkey", "l_linenumber")),
          // the 100 TB uniqueness path (HLL, no Expand) rides the same
          // single pass; (l_orderkey, l_linenumber) is NOT a candidate
          // key in this testdata (exact ratio ≈ 0.764), so the approx
          // gate sits at 0.5 with sketch-error headroom — pass=true,
          // and the planted unique(…)=1.0 row covers pass=false
          graft.ext.Quality.UniqueApprox(Seq("l_orderkey", "l_linenumber"), 0.5),
          graft.ext.Quality.InSet("l_returnflag", Seq("R", "A", "N"), 1.0),
          graft.ext.Quality.Between("l_quantity", 1.0, 50.0, 1.0),
          graft.ext.Quality.Between("l_quantity", 1.0, 10.0, 0.9),
          graft.ext.Quality.RowCountBetween(1L, 10000000L)))
        // The raw HLL estimate is not SQL-reproducible, so the gate
        // publishes the approx row's AGREEMENT with the exact unique
        // row instead: metric 1.0 iff |approx/exact − 1| ≤ 0.02
        // (2.5σ at p=14). One tiny window over the 7-row report —
        // the corpus is still scanned exactly once.
        val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
        rep.withColumn("__exact",
            max(when(col("constraint") === "unique(l_orderkey,l_linenumber)",
              col("metric"))).over(w))
          .withColumn("metric",
            when(col("constraint") === "unique_approx(l_orderkey,l_linenumber)",
              when(abs(col("metric") / col("__exact") - 1.0) <= 0.02, 1.0).otherwise(0.0))
              .otherwise(col("metric")))
          .drop("__exact")
          .orderBy("constraint", "threshold")
      },
      Some("""WITH m AS (
             |  SELECT count(*) AS n,
             |    CAST(sum(CASE WHEN l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS m_complete,
             |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS m_unique,
             |    CAST(sum(CASE WHEN l_returnflag IN ('R','A','N') THEN 1 ELSE 0 END) AS BIGINT) AS m_inset,
             |    CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT) AS m_b50,
             |    CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 10 THEN 1 ELSE 0 END) AS BIGINT) AS m_b10
             |  FROM lineitem)
             |SELECT * FROM (
             |  SELECT 'complete(l_returnflag)' AS "constraint",
             |    round(CAST(m_complete AS DOUBLE) / n, 6) AS metric, 1.0 AS threshold,
             |    round(CAST(m_complete AS DOUBLE) / n, 6) >= 1.0 AS pass FROM m
             |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
             |    round(CAST(m_unique AS DOUBLE) / n, 6), 1.0,
             |    round(CAST(m_unique AS DOUBLE) / n, 6) >= 1.0 FROM m
             |  UNION ALL SELECT 'in_set(l_returnflag)',
             |    round(CAST(m_inset AS DOUBLE) / n, 6), 1.0,
             |    round(CAST(m_inset AS DOUBLE) / n, 6) >= 1.0 FROM m
             |  UNION ALL SELECT 'between(l_quantity)',
             |    round(CAST(m_b50 AS DOUBLE) / n, 6), 1.0,
             |    round(CAST(m_b50 AS DOUBLE) / n, 6) >= 1.0 FROM m
             |  UNION ALL SELECT 'between(l_quantity)',
             |    round(CAST(m_b10 AS DOUBLE) / n, 6), 0.9,
             |    round(CAST(m_b10 AS DOUBLE) / n, 6) >= 0.9 FROM m
             |  UNION ALL SELECT 'unique_approx(l_orderkey,l_linenumber)',
             |    1.0, 0.5, true FROM m
             |  UNION ALL SELECT 'row_count',
             |    CAST(n AS DOUBLE), 1.0, n BETWEEN 1 AND 10000000 FROM m)
             |ORDER BY "constraint", threshold""".stripMargin)),

    // Per-group exact mode ([[graft.ops.RelationalOps.modeBy]]):
    // each user's most frequent event type, ties to the
    // lexicographically smallest — the categorical summary the
    // weighted median can't give. Counts reduce before the per-group
    // argmax window (group × distinct-value rows only).
    QueryDef("q_agg_mode",
      (s, d) => graft.ops.RelationalOps.modeBy(
          t(s, d, "events"), col("user_id"), col("event_type"))
        .withColumnRenamed("group", "user_id")
        .orderBy("user_id"),
      Some("""WITH c AS (
             |  SELECT user_id, event_type AS mode, count(*) AS n_occurrences
             |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
             |r AS (
             |  SELECT user_id, mode, n_occurrences,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY n_occurrences DESC, mode) AS rn
             |  FROM c)
             |SELECT user_id, mode, n_occurrences FROM r WHERE rn = 1
             |ORDER BY user_id""".stripMargin)),

    // Chi-square contingency grid ([[graft.ext.Quality.chiSquare]]):
    // return flag × line status with the FULL grid (the structurally
    // absent combinations appear at n_obs 0 — that absence IS the
    // dependence signal); expected counts and chi² terms derive from
    // exact int64 marginals in one fixed IEEE sequence.
    QueryDef("q_quality_chi2",
      (s, d) => graft.ext.Quality.chiSquare(
          t(s, d, "lineitem"), col("l_returnflag"), col("l_linestatus"))
        .orderBy("r", "c"),
      Some("""WITH obs AS (
             |  SELECT l_returnflag AS r, l_linestatus AS c, count(*) AS n_obs
             |  FROM lineitem GROUP BY 1, 2),
             |rt AS (SELECT r, CAST(sum(n_obs) AS BIGINT) AS rt FROM obs GROUP BY r),
             |ct AS (SELECT c, CAST(sum(n_obs) AS BIGINT) AS ct FROM obs GROUP BY c),
             |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS t FROM obs),
             |grid AS (SELECT rt.r, ct.c, rt.rt, ct.ct, tot.t FROM rt, ct, tot),
             |cell AS (
             |  SELECT g.r, g.c, CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
             |    CAST(g.rt AS DOUBLE) * CAST(g.ct AS DOUBLE) / CAST(g.t AS DOUBLE) AS e
             |  FROM grid g LEFT JOIN obs o ON g.r = o.r AND g.c = o.c)
             |SELECT r, c, n_obs, round(e, 6) AS expected,
             |  round((CAST(n_obs AS DOUBLE) - e) * (CAST(n_obs AS DOUBLE) - e) / e, 6)
             |    AS chi2_term
             |FROM cell ORDER BY r, c""".stripMargin)),

    // Benford first-digit conformance
    // ([[graft.ext.Quality.benfordReport]]): extendedprice first
    // digits vs the log10(1+1/d) law — expected shares are fixed
    // 6-decimal literals on BOTH sides (no engine log10), deviation
    // derives from the exact integer ratio, all 9 digits present.
    QueryDef("q_quality_benford",
      (s, d) => graft.ext.Quality.benfordReport(
          t(s, d, "lineitem"), col("l_extendedprice"))
        .orderBy("digit"),
      Some("""WITH e AS (SELECT * FROM (VALUES
             |    (1, 0.30103), (2, 0.176091), (3, 0.124939), (4, 0.09691),
             |    (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
             |    (9, 0.045757)) v(digit, expected_share)),
             |c AS (
             |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
             |    count(*) AS n
             |  FROM lineitem GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
             |SELECT e.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
             |  round(coalesce(c.n, 0) / CAST(t.t AS DOUBLE), 6) AS share,
             |  CAST(e.expected_share AS DOUBLE) AS expected_share,
             |  round(abs(coalesce(c.n, 0) / CAST(t.t AS DOUBLE)
             |    - CAST(e.expected_share AS DOUBLE)), 6) AS abs_dev
             |FROM e LEFT JOIN c USING (digit), t
             |ORDER BY e.digit""".stripMargin)),

    // Functional-dependency violation report
    // ([[graft.ext.Quality.fdViolations]]): order keys whose lines
    // carry more than one distinct return flag — the cross-column
    // integrity class the per-column constraint gate can't express.
    // One map-side-combined aggregation on the determinant.
    QueryDef("q_quality_fd",
      (s, d) => graft.ext.Quality.fdViolations(
          t(s, d, "lineitem"), Seq("l_orderkey"), "l_returnflag")
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey,
             |  CAST(count(DISTINCT l_returnflag) +
             |    max(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dependent,
             |  count(*) AS n_rows
             |FROM lineitem GROUP BY l_orderkey
             |HAVING count(DISTINCT l_returnflag) +
             |  max(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) > 1
             |ORDER BY l_orderkey""".stripMargin)),

    // Distribution-drift gate ([[graft.ext.Quality.driftReport]]):
    // event-type mix before vs after the 2024-01-15 cutoff — exact
    // conditional counts from ONE scan, eps-clamped shares, and each
    // bucket's PSI term quantized to the 2^-30 grid (the tokenKl
    // idiom) so ln() parity is grid-exact across engines.
    QueryDef("q_quality_drift",
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"),
          unix_micros(col("ts")).as("us"))
        graft.ext.Quality.driftReport(ev,
            col("us") >= 1705276800000000L, "event_type")
          .orderBy("bucket")
      },
      Some("""WITH e AS (
             |  SELECT event_type AS bucket,
             |         epoch_us(ts) >= 1705276800000000 AS cur
             |  FROM events),
             |c AS (
             |  SELECT bucket,
             |    CAST(sum(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS ref_n,
             |    CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
             |  FROM e GROUP BY 1),
             |tot AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt,
             |               CAST(sum(cur_n) AS BIGINT) AS ct FROM c),
             |sh AS (
             |  SELECT bucket, ref_n, cur_n,
             |    CASE WHEN rt = 0 THEN 1e-6
             |         ELSE greatest(ref_n * 1.0 / rt, 1e-6) END AS rs,
             |    CASE WHEN ct = 0 THEN 1e-6
             |         ELSE greatest(cur_n * 1.0 / ct, 1e-6) END AS cs
             |  FROM c CROSS JOIN tot)
             |SELECT bucket, ref_n, cur_n,
             |  round(rs, 6) AS ref_share, round(cs, 6) AS cur_share,
             |  round(CAST(floor((cs - rs) * ln(cs / rs) * 1073741824.0 + 0.5)
             |        AS BIGINT) / 1073741824.0, 6) AS psi
             |FROM sh ORDER BY bucket""".stripMargin)),

    // NUMERIC drift through the same PSI machinery: the value column
    // bucketed on a fixed grid (floor(v/50) capped at 9) becomes a
    // categorical dim — driftReport is binning-agnostic, so numeric
    // drift is a composition, not a second code path. Bucket edges
    // are exact integer floors on both engines.
    QueryDef("q_quality_drift_value",
      (s, d) => {
        val ev = t(s, d, "events").select(
          least(floor(col("value") / 50.0), lit(9.0)).cast("int").as("vbucket"),
          unix_micros(col("ts")).as("us"))
        graft.ext.Quality.driftReport(ev,
            col("us") >= 1705276800000000L, "vbucket")
          .orderBy("bucket")
      },
      Some("""WITH e AS (
             |  SELECT CAST(least(floor(value / 50.0), 9.0) AS INT) AS bucket,
             |         epoch_us(ts) >= 1705276800000000 AS cur
             |  FROM events),
             |c AS (
             |  SELECT bucket,
             |    CAST(sum(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS ref_n,
             |    CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
             |  FROM e GROUP BY 1),
             |tot AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt,
             |               CAST(sum(cur_n) AS BIGINT) AS ct FROM c),
             |sh AS (
             |  SELECT bucket, ref_n, cur_n,
             |    CASE WHEN rt = 0 THEN 1e-6
             |         ELSE greatest(ref_n * 1.0 / rt, 1e-6) END AS rs,
             |    CASE WHEN ct = 0 THEN 1e-6
             |         ELSE greatest(cur_n * 1.0 / ct, 1e-6) END AS cs
             |  FROM c CROSS JOIN tot)
             |SELECT bucket, ref_n, cur_n,
             |  round(rs, 6) AS ref_share, round(cs, 6) AS cur_share,
             |  round(CAST(floor((cs - rs) * ln(cs / rs) * 1073741824.0 + 0.5)
             |        AS BIGINT) / 1073741824.0, 6) AS psi
             |FROM sh ORDER BY bucket""".stripMargin)),

    // Key-skew diagnostic: the 5 heaviest event users with exact
    // corpus share — the pre-flight before picking a join strategy.
    QueryDef("q_skew_profile",
      (s, d) => graft.ext.CorpusStats.keySkew(t(s, d, "events"), col("user_id"), k = 5),
      Some("""WITH c AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1),
             |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
             |SELECT key, cnt, round(CAST(cnt AS DOUBLE) / total, 6) AS share
             |FROM c CROSS JOIN t ORDER BY cnt DESC, key LIMIT 5""".stripMargin)),

    // Keyed upsert (MERGE semantics: matched → replace, unmatched →
    // insert): an old snapshot (doc_id < 400) takes a delta batch
    // (doc_id ∈ [200, 600), text uppercased to mark the new version);
    // delta rows must win every key collision, new keys append,
    // untouched rows pass through byte-identical. The oracle encodes
    // the expected MERGE result directly (store-only slice ∪ delta
    // slice) — a row won by the wrong side flips its md5.
    QueryDef("q_upsert",
      (s, d) => {
        val docs = t(s, d, "documents")
        val store = docs.filter(col("doc_id") < 400)
          .select(col("doc_id"), col("text"), col("lang"))
        val delta = docs.filter(col("doc_id") >= 200 && col("doc_id") < 600)
          .select(col("doc_id"), upper(col("text")).as("text"), col("lang"))
        RelationalOps.upsert(store, delta, Seq("doc_id"))
          .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS text_md5, lang FROM (
             |  SELECT doc_id, text, lang FROM documents WHERE doc_id < 200
             |  UNION ALL
             |  SELECT doc_id, upper(text), lang FROM documents
             |  WHERE doc_id >= 200 AND doc_id < 600)
             |ORDER BY doc_id""".stripMargin)),

    // Incremental view maintenance — [[graft.ext.Ivm.maintainAgg]]
    // keeps a materialized GROUP BY current under a signed change
    // feed instead of recomputing it: the view bootstraps over the
    // even-order lineitems, then one feed DELETES every
    // orderkey%10==0 row (op −1, a subset of the evens) and INSERTS
    // all odd-order rows (op +1). Maintenance shuffles only the feed's
    // group-sums plus the tiny state, never the fact table. The
    // maintained state must therefore equal the aggregate over
    // {orderkey % 10 ≠ 0} — which is exactly what the DuckDB oracle
    // recomputes from scratch, so incremental ≡ recompute is
    // hash-proved. Quantities are whole-valued doubles; casting to
    // BIGINT keeps the sums exact in both engines.
    QueryDef("q_ivm_agg",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_returnflag"),
          col("l_linestatus"), col("l_orderkey"),
          col("l_quantity").cast("long").as("qty"))
        val keys = Seq("l_returnflag", "l_linestatus")
        val state0 = graft.ext.Ivm.aggregateOf(
          li.filter(col("l_orderkey") % 2 === 0), keys, Seq("qty"))
        // one-scan signed feed (opt r17, same as q_ivm_join): the
        // delete and insert predicates are disjoint, so one CASE scan
        // replaces the union of two scans — identical signed rows
        val changes = li
          .withColumn("op", when(col("l_orderkey") % 10 === 0, -1)
            .when(col("l_orderkey") % 2 === 1, 1))
          .filter(col("op").isNotNull)
        graft.ext.Ivm.maintainAgg(state0, changes, keys, Seq("qty"))
          .orderBy(keys.map(col): _*)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM lineitem WHERE l_orderkey % 10 <> 0
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true),

    // COUNT(DISTINCT) is not directly maintainable (a delete may or
    // may not remove the last occurrence), but it COMPOSES from the
    // maintainable pieces: level 1 maintains per-(group, value) row
    // counts under the same signed feed — occurrence bookkeeping —
    // and the distinct count is then the state-sized count of
    // surviving pairs (a pair exists iff its count > 0, which
    // maintainAgg's vanish-at-zero rule enforces). Same feed
    // derivation as q_ivm_agg; the oracle recomputes
    // count(DISTINCT) from scratch over the applied multiset.
    QueryDef("q_ivm_distinct",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_suppkey"), col("l_orderkey"))
        val keys = Seq("l_returnflag", "l_suppkey")
        val state0 = graft.ext.Ivm.aggregateOf(
          li.filter(col("l_orderkey") % 2 === 0), keys, Nil)
        // one-scan signed feed (opt r17, same rationale as q_ivm_agg)
        val changes = li
          .withColumn("op", when(col("l_orderkey") % 10 === 0, -1)
            .when(col("l_orderkey") % 2 === 1, 1))
          .filter(col("op").isNotNull)
        graft.ext.Ivm.maintainAgg(state0, changes, keys, Nil)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("distinct_supps"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps
             |FROM lineitem WHERE l_orderkey % 10 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // JOIN-view IVM — [[graft.ext.Ivm.maintainJoinAgg]] keeps an
    // aggregate over orders ⋈ lineitem current under signed feeds on
    // BOTH sides (the classic delta-join ΔA⋈B_old ∪ A_new⋈ΔB): the
    // view bootstraps over the even-orderkey slice of both tables,
    // then each side's feed deletes its orderkey%10==0 rows and
    // inserts its odd rows. Maintenance joins only the feeds against
    // the compressed side multisets — never re-joining the base
    // tables — and the maintained view must equal the join aggregate
    // over the two applied multisets, which is exactly what the
    // oracle recomputes from scratch.
    QueryDef("q_ivm_join",
      (s, d) => {
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        val aCols = Seq("o_orderkey", "o_orderpriority")
        val bKeys = Seq("o_orderkey", "l_returnflag")
        val jk = Seq("o_orderkey")
        val gk = Seq("o_orderpriority", "l_returnflag")
        // the bootstrapped states pin eagerly: a real deployment READS
        // materialized side/view states from storage, so the gate must
        // not re-aggregate each one from the base tables once per
        // consumer (bootstrap, delta term, side maintenance — 3
        // full-table shuffles each without the pin).
        // The lineitem side is a PARTIAL state: qty pre-aggregates to
        // a sum_qty per (orderkey, returnflag) group — ~|orderkey ×
        // flag| rows, not ~|lineitem| as a raw-qty multiset would be
        // the two bootstraps are independent full-table aggregates:
        // pin them from two driver threads so the jobs overlap
        // (opt r18, guide §2.6) — same frames, same results
        val (a0, b0) = graft.ext.Checkpoints.inParallel(
          graft.ext.Ivm.aggregateOf(
            o.filter(col("o_orderkey") % 2 === 0), aCols, Nil)
            .localCheckpoint(true),
          graft.ext.Ivm.aggregateOf(
            li.filter(col("o_orderkey") % 2 === 0), bKeys, Seq("qty"))
            .localCheckpoint(true))
        // view0 has ONE consumer (the maintenance merge) — left lazy;
        // the multi-consumer side states above are what need the pins
        val view0 = graft.ext.Ivm.aggregateOfJoin(a0, b0, jk, gk, Seq("qty"))
        // one-scan signed feeds (opt r17): %10==0 deletes and odd-key
        // inserts are DISJOINT predicates, so the union-of-two-filters
        // form (two scans of each base table per consumer) folds into
        // a single scan with a CASE op column — identical signed rows,
        // measured −1.5 s executor time on the gate
        def feed(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("op", when(col("o_orderkey") % 10 === 0, -1)
            .when(col("o_orderkey") % 2 === 1, 1))
          .filter(col("op").isNotNull)
        val aFeed = feed(o)
        val bFeed = feed(li)
        val (view, _, _) = graft.ext.Ivm.maintainJoinAgg(
          view0, a0, b0, aFeed, bFeed, jk, gk, Seq("qty"))
        view.orderBy(gk.map(col): _*)
      },
      Some("""SELECT o_orderpriority, l_returnflag,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |WHERE o.o_orderkey % 10 <> 0
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true),

    // THREE-table join-view maintenance by COMPOSITION — the
    // [[Ivm.deltaJoinFeed]] chain: the intermediate orders ⋈ lineitem
    // keeps its own PARTIAL state (keyed by the columns the outer
    // level still needs — priority and partkey — with qty as a
    // sum partial, so the state is ~|partkey × priority|, never
    // ~|lineitem|), and the join's OWN signed partial delta
    // (ΔA⋈B_old ∪ A_new⋈ΔB, weights reading the partials) feeds both
    // that state and the outer two-table maintenance against part —
    // each table adds one churn-priced delta-join, the prefix never
    // recomputes. Feeds delete a slice of ALL THREE tables at once
    // (the A/B pair exercises the cross term); the maintained view
    // must equal the 3-way join aggregate over the three surviving
    // multisets, recomputed from scratch by the oracle.
    QueryDef("q_ivm_join3",
      (s, d) => {
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"),
            col("l_quantity").cast("long").as("qty"))
        val pt = t(s, d, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))
        val aCols = Seq("o_orderkey", "o_orderpriority")
        val bKeys = Seq("o_orderkey", "l_partkey")
        val cCols = Seq("l_partkey", "p_brand")
        val abKeys = Seq("o_orderpriority", "l_partkey")
        val aS = graft.ext.Ivm.aggregateOf(o, aCols, Nil)
          .localCheckpoint(true)
        val bS = graft.ext.Ivm.aggregateOf(li, bKeys, Seq("qty"))
          .localCheckpoint(true)
        val cS = graft.ext.Ivm.aggregateOf(pt, cCols, Nil)
          .localCheckpoint(true)
        val abS = graft.ext.Ivm.aggregateOf(o.join(li, "o_orderkey"),
          abKeys, Seq("qty")).localCheckpoint(true)
        val view0 = graft.ext.Ivm.aggregateOfJoin(abS, cS,
            Seq("l_partkey"), Seq("o_orderpriority", "p_brand"), Seq("qty"))
          .localCheckpoint(true)
        val aFeed = o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("op", lit(-1))
        val bFeed = li.filter(col("l_partkey") % 7 === 0)
          .withColumn("op", lit(-1))
        val cFeed = pt.filter(col("l_partkey") % 5 === 0)
          .withColumn("op", lit(-1))
        val aDelta = graft.ext.Ivm.signedPartialOf(aFeed, aCols, Nil)
        val bDelta = graft.ext.Ivm.signedPartialOf(bFeed, bKeys, Seq("qty"))
        val cDelta = graft.ext.Ivm.signedPartialOf(cFeed, cCols, Nil)
        val aNew = graft.ext.Ivm.maintainAgg(aS, aFeed, aCols, Nil)
        val abDelta = graft.ext.Ivm.deltaJoinFeed(aNew, bS,
          aDelta, bDelta, Seq("o_orderkey"), abKeys, Seq("qty"))
        val (view, _, _) = graft.ext.Ivm.maintainJoinAggDelta(view0, abS,
          cS, abDelta, cDelta, Seq("l_partkey"),
          Seq("o_orderpriority", "p_brand"), Seq("qty"))
        view.orderBy("o_orderpriority", "p_brand")
      },
      Some("""SELECT o_orderpriority, p_brand,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM orders o
             |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE o.o_orderkey % 10 <> 0
             |  AND l.l_partkey % 7 <> 0
             |  AND p.p_partkey % 5 <> 0
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Point-in-interval range join ([[graft.ops.IntervalJoin]]):
    // shipments landing inside each order's 7-day dispatch window,
    // via the interval-binning equi-join (bucket = 7 days, so each
    // interval registers in ≤ 2 buckets) — the naive predicate form
    // is a BroadcastNestedLoopJoin evaluating |L|·|O| pairs
    // (PlanSnapshotSpec pins the equi-join shape).
    //
    // The aggregation is pushed BELOW the fanout: both inputs are
    // day-granular, so 600k lineitems collapse to ~2.5k (day, n,
    // qty) rows and 150k orders to ~12.5k (priority, window, n)
    // rows BEFORE the join, and the matched-pair count is
    // Σ n_l·n_o — the 264 M logical pairs at sf0.1 never
    // materialize (measured 47 s row-at-a-time → sub-second).
    // That is the 100 TB shape for ANY fanout join whose final
    // aggregate is distributive: reduce to the join keys first,
    // weight the partial aggregates. Quantities are whole numbers
    // stored as double, so the sums are exact; the oracle computes
    // the same result from the raw row-level join.
    QueryDef("q_join_range",
      (s, d) => {
        // orderdate/shipdate read as TIMESTAMP_NTZ; the UTC session
        // cast to LTZ makes unix_micros the same instant the oracle's
        // epoch_us computes on the naive value
        val o = t(s, d, "orders")
          .groupBy(col("o_orderpriority"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("lo"),
            (unix_micros(col("o_orderdate").cast("timestamp")) + 604800000000L).as("hi"))
          .agg(count(lit(1)).as("n_o"))
        val l = t(s, d, "lineitem")
          .groupBy(unix_micros(col("l_shipdate").cast("timestamp")).as("pt"))
          .agg(count(lit(1)).as("n_l"), sum(col("l_quantity")).as("qty_l"))
        graft.ops.IntervalJoin
          .joinPointsToIntervals(l, col("pt"), o, col("lo"), col("hi"),
            bucketWidth = 604800000000L)
          .groupBy("o_orderpriority")
          .agg(sum(col("n_l") * col("n_o")).as("n"),
            sum(col("qty_l") * col("n_o")).cast("bigint").as("qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(l_quantity) AS BIGINT) AS qty
             |FROM lineitem l JOIN orders o
             |  ON epoch_us(l.l_shipdate) >= epoch_us(o.o_orderdate)
             | AND epoch_us(l.l_shipdate) < epoch_us(o.o_orderdate) + 604800000000
             |GROUP BY 1 ORDER BY 1""".stripMargin), bench = true),
  )
}
