package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.engine.PublishGuard.ArtifactWarehouse
import graft.operators.{AsOfJoin, EventPipelines, FunctionSurface, Relational, Similarity, SqlSurface}
import DuckSql._

/** Relational queries: the batch analogs of the reference's RSVP
  * pipeline (`ref_*`), TPC-H-style joins and aggregates, and the SQL
  * surface (`sql_*`, `fn_*`, approximate aggregates, session windows).
  */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ── reference parity (events = streaming-analog table) ──────────────
    QuerySpec("ref_q1_filter", (s, d) =>
      EventPipelines.filterByType(Tables.events(s, d), "error")
        .select("event_id", "user_id", "value")
        .orderBy("event_id"),
      _ =>
        """SELECT event_id, user_id, value FROM events
          |WHERE event_type = 'error' ORDER BY event_id""".stripMargin),
    QuerySpec("ref_q2_join", (s, d) =>
      EventPipelines.joinTypeLookup(Tables.events(s, d))
        .select("event_id", "user_id", "type_name", "value")
        .orderBy("event_id"),
      _ =>
        """SELECT e.event_id, e.user_id, v.type_name, e.value
          |FROM events e
          |JOIN (VALUES ('click','CLICK EVENT'), ('error','ERROR EVENT'),
          |             ('purchase','PURCHASE EVENT'), ('signup','SIGNUP EVENT'),
          |             ('view','VIEW EVENT')) AS v(event_type, type_name)
          |  ON e.event_type = v.event_type
          |ORDER BY e.event_id""".stripMargin),
    // array columns are serialized at the oracle edge (concat_ws) because
    // the driver's pandas hash-compare cannot sort ndarray cells; the
    // operator itself still returns a real array<string> (A2 collect_set).
    QuerySpec("ref_q3_window_agg", (s, d) =>
      EventPipelines.windowDistinct(Tables.events(s, d))
        .withColumn("types", concat_ws(",", col("types")))
        .orderBy("window_start"),
      _ =>
        """SELECT strftime(time_bucket(INTERVAL '1 minute', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
          |       strftime(time_bucket(INTERVAL '1 minute', ts::TIMESTAMP) + INTERVAL '1 minute', '%Y-%m-%d %H:%M:%S') AS window_end,
          |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
          |       count(*) AS n
          |FROM events
          |GROUP BY time_bucket(INTERVAL '1 minute', ts::TIMESTAMP)
          |ORDER BY window_start""".stripMargin),
    QuerySpec("ref_q4_json_extract", (s, d) =>
      EventPipelines.parseProps(Tables.events(s, d))
        .orderBy("event_id"),
      _ =>
        """SELECT event_id, CAST(props->>'k' AS INTEGER) AS k
          |FROM events ORDER BY event_id""".stripMargin),
    QuerySpec("ref_q5_datetime", (s, d) =>
      EventPipelines.datetimeParts(Tables.events(s, d))
        .orderBy("event_id"),
      _ =>
        """SELECT event_id,
          |       CAST(month(ts::TIMESTAMP) AS INTEGER) AS month,
          |       CAST(day(ts::TIMESTAMP) AS INTEGER) AS day,
          |       CAST(hour(ts::TIMESTAMP) AS INTEGER) AS hour,
          |       CAST(minute(ts::TIMESTAMP) AS INTEGER) AS minute
          |FROM events ORDER BY event_id""".stripMargin),
    QuerySpec("ref_q6_to_json", (s, d) =>
      EventPipelines.toJsonPayload(Tables.events(s, d))
        .orderBy("event_id"),
      _ =>
        """SELECT event_id,
          |       to_json(struct_pack(event_type := event_type, user_id := user_id))::VARCHAR AS payload
          |FROM events ORDER BY event_id""".stripMargin),
    // ── relational / TPC-H-style coverage (SURVEY.md §2.3-2.8) ──────────
    QuerySpec("tpch_q1_pricing", (s, d) => Relational.pricingSummary(s, d),
      _ =>
        """SELECT l_returnflag, l_linestatus,
          |       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
          |       floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
          |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price,
          |       floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100 + 0.5) / 100 AS sum_charge,
          |       floor((avg(l_quantity)) * 100 + 0.5) / 100 AS avg_qty,
          |       floor((avg(l_extendedprice)) * 100 + 0.5) / 100 AS avg_price,
          |       floor((avg(l_discount)) * 10000 + 0.5) / 10000 AS avg_disc,
          |       count(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("tpch_q3_top10", (s, d) => Relational.shippingPriority(s, d),
      _ =>
        """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
          |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1999-01-01'
          |  AND l_shipdate > TIMESTAMP '1999-01-01'
          |GROUP BY l_orderkey, o_orderdate
          |ORDER BY revenue DESC, l_orderkey
          |LIMIT 10""".stripMargin),
    QuerySpec("tpch_q5_nation_revenue", (s, d) => Relational.localSupplierVolume(s, d),
      _ =>
        """SELECT n_name,
          |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |GROUP BY n_name
          |ORDER BY n_name""".stripMargin),
    QuerySpec("tpch_q14_promo_revenue", (s, d) => Relational.promoRevenue(s, d),
      _ =>
        """SELECT floor((100.0 * sum(CASE WHEN p_type = 'PROMO'
          |                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
          |         sum(l_extendedprice * (1 - l_discount))) * 10000 + 0.5) / 10000 AS promo_pct
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-02-01'""".stripMargin),
    QuerySpec("tpch_q9_brand_nation_volume", (s, d) => Relational.brandVolumeByNation(s, d),
      _ =>
        """SELECT n_name, p_brand,
          |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
          |GROUP BY n_name, p_brand
          |ORDER BY n_name, p_brand""".stripMargin),
    QuerySpec("tpch_q7_trade_volume", (s, d) => Relational.nationTradeVolume(s, d),
      _ =>
        """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
          |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
          |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation sn ON s_nationkey = sn.n_nationkey
          |JOIN nation cn ON c_nationkey = cn.n_nationkey
          |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
          |  AND cn.n_name IN ('NATION_1', 'NATION_2')
          |  AND sn.n_name <> cn.n_name
          |GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
          |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    QuerySpec("join_semi_open_orders", (s, d) => Relational.customersWithOpenOrders(s, d),
      _ =>
        """SELECT c_custkey, c_name, c_mktsegment FROM customer
          |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
          |ORDER BY c_custkey""".stripMargin),
    QuerySpec("join_anti_no_orders", (s, d) => Relational.customersWithoutOrders(s, d),
      _ =>
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
          |ORDER BY c_custkey""".stripMargin),
    QuerySpec("join_outer_nation_counts", (s, d) => Relational.nationCustomerCounts(s, d),
      _ =>
        """SELECT n_nationkey, n_name, count(c_custkey) AS n_customers
          |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
          |GROUP BY n_nationkey, n_name
          |ORDER BY n_nationkey""".stripMargin),
    QuerySpec("window_top2_per_customer", (s, d) => Relational.topOrdersPerCustomer(s, d),
      _ =>
        """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice,
          |       floor((o_totalprice / cust_total * 100) * 100 + 0.5) / 100 AS pct_of_cust
          |FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
          |         sum(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_total
          |  FROM orders)
          |WHERE rn <= 2
          |ORDER BY o_custkey, rn""".stripMargin),
    QuerySpec("topk_orders", (s, d) => Relational.topOrders(s, d),
      _ =>
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),
    QuerySpec("set_except_click_no_purchase", (s, d) => Relational.clickedNotPurchased(s, d),
      _ =>
        """SELECT DISTINCT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour
          |FROM events WHERE event_type = 'click'
          |EXCEPT
          |SELECT DISTINCT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S')
          |FROM events WHERE event_type = 'purchase'
          |ORDER BY hour""".stripMargin),
    QuerySpec("dedup_first_event", (s, d) => Relational.firstEventPerUserType(s, d),
      _ =>
        """SELECT user_id, event_type, event_id FROM (
          |  SELECT user_id, event_type, event_id,
          |         row_number() OVER (PARTITION BY user_id, event_type
          |                            ORDER BY ts::TIMESTAMP, event_id) AS rn
          |  FROM events)
          |WHERE rn = 1
          |ORDER BY user_id, event_type""".stripMargin),
    QuerySpec("rollup_returnflag", (s, d) => Relational.returnFlagRollup(s, d),
      _ =>
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |       coalesce(l_linestatus, 'ALL') AS linestatus,
          |       count(*) AS n,
          |       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
          |FROM lineitem
          |GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |ORDER BY returnflag, linestatus""".stripMargin),
    QuerySpec("scalar_buckets", (s, d) => Relational.orderValueBuckets(s, d),
      _ =>
        """SELECT o_orderkey,
          |       CASE WHEN o_totalprice < 100000 THEN 'SMALL'
          |            WHEN o_totalprice < 300000 THEN 'MEDIUM'
          |            ELSE 'LARGE' END AS bucket,
          |       upper(substr(o_orderpriority, 1, 1)) AS prio_code,
          |       CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
          |       CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 1 ELSE 0 END AS is_urgent
          |FROM orders ORDER BY o_orderkey""".stripMargin),
    QuerySpec("join_above_cust_avg", (s, d) => Relational.aboveCustomerAverage(s, d),
      _ =>
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders o
          |JOIN (SELECT o_custkey AS k, avg(o_totalprice) AS avg_price
          |      FROM orders GROUP BY o_custkey) a
          |  ON o.o_custkey = a.k
          |WHERE o.o_totalprice > a.avg_price
          |ORDER BY o_orderkey""".stripMargin),
    QuerySpec("tpch_q18_big_orders", (s, d) => Relational.bigQuantityOrders(s, d),
      _ =>
        """WITH q AS (SELECT l_orderkey,
          |                  floor(sum(l_quantity) * 100 + 0.5) / 100 AS total_qty
          |           FROM lineitem GROUP BY l_orderkey
          |           HAVING floor(sum(l_quantity) * 100 + 0.5) / 100 > 150)
          |SELECT o_orderkey, o_custkey, o_orderstatus, total_qty
          |FROM orders JOIN q ON o_orderkey = l_orderkey
          |ORDER BY o_orderkey""".stripMargin),
    QuerySpec("agg_distinct_brand_suppliers", (s, d) => Relational.brandSupplierCounts(s, d),
      _ =>
        """SELECT p_brand,
          |       count(DISTINCT l_suppkey) AS n_suppliers,
          |       count(DISTINCT l_partkey) AS n_parts,
          |       count(*) AS n_lineitems
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    // non-equi EXISTS (semi join with a shipdate inequality inside)
    QuerySpec("tpch_q4_late_orders", (s, d) => Relational.latePriorityCounts(s, d),
      _ =>
        """SELECT o_orderpriority, count(*) AS n_orders
          |FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin),
    // segment star with date cuts on both fact sides, top-k by rounded
    // revenue (Q3 shape; o_orderpriority stands in for shippriority)
    QuerySpec("tpch_q3_shipping_priority", (s, d) =>
      Relational.shippingPriorityRevenue(s, d),
      _ =>
        """WITH j AS (
          |  SELECT l_orderkey, o_orderdate, o_orderpriority,
          |         floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
          |           / 100 AS revenue
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  WHERE c_mktsegment = 'BUILDING'
          |    AND o_orderdate < TIMESTAMP '1997-03-15'
          |    AND l_shipdate > TIMESTAMP '1997-03-15'
          |  GROUP BY 1, 2, 3)
          |SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
          |       o_orderpriority, revenue
          |FROM j
          |ORDER BY revenue DESC, o_orderdate, l_orderkey
          |LIMIT 10""".stripMargin),
    // scan-only scalar aggregate: every predicate pushed to parquet
    QuerySpec("tpch_q6_forecast_revenue", (s, d) => Relational.forecastRevenue(s, d),
      _ =>
        """SELECT floor((sum(l_extendedprice * l_discount)) * 100 + 0.5) / 100 AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |  AND l_discount BETWEEN 0.02 AND 0.06
          |  AND l_quantity < 24""".stripMargin),
    // conditional aggregation over a fact⋈fact join (Q12 shape)
    QuerySpec("tpch_q12_priority_lines", (s, d) => Relational.lineStatusPriorityCounts(s, d),
      _ =>
        """SELECT l_linestatus,
          |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |GROUP BY l_linestatus
          |ORDER BY l_linestatus""".stripMargin),
    // stacked aggregation + outer join (Q13 customer distribution)
    QuerySpec("tpch_q13_order_distribution", (s, d) => Relational.orderCountDistribution(s, d),
      _ =>
        """SELECT c_count, count(*) AS custdist FROM (
          |  SELECT c_custkey, count(o_orderkey) AS c_count
          |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          |  GROUP BY c_custkey)
          |GROUP BY c_count
          |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // correlated per-part average threshold (Q17 shape)
    QuerySpec("tpch_q17_small_qty_revenue", (s, d) => Relational.smallQuantityRevenue(s, d),
      _ =>
        """WITH branded AS (
          |  SELECT l_partkey, l_quantity, l_extendedprice
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  WHERE p_brand = 'Brand#5'),
          |lim AS (SELECT l_partkey AS ak, avg(l_quantity) * 0.2 AS qty_limit
          |        FROM branded GROUP BY l_partkey)
          |SELECT floor((sum(l_extendedprice) / 7.0) * 100 + 0.5) / 100 AS avg_yearly
          |FROM branded JOIN lim ON l_partkey = ak
          |WHERE l_quantity < qty_limit""".stripMargin),
    // disjunctive multi-attribute predicate across a join (Q19 shape)
    QuerySpec("tpch_q19_disjunctive_revenue", (s, d) => Relational.disjunctiveRevenue(s, d),
      _ =>
        """SELECT floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 1 AND 20)
          |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
          |       AND l_quantity BETWEEN 10 AND 30)
          |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
          |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
    // broadcast scalar subquery + anti join (Q22 shape)
    QuerySpec("tpch_q22_dormant_customers", (s, d) => Relational.dormantHighValueCustomers(s, d),
      _ =>
        """WITH ab AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
          |SELECT c_mktsegment, count(*) AS n_cust,
          |       floor((sum(c_acctbal)) * 100 + 0.5) / 100 AS total_bal
          |FROM customer CROSS JOIN ab
          |WHERE c_acctbal > ab
          |  AND NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin),
    // returned-item revenue top-k (Q10 shape)
    QuerySpec("tpch_q10_returned_revenue", (s, d) => Relational.returnedItemRevenue(s, d),
      _ =>
        """SELECT c_custkey, c_name, n_name,
          |       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1997-10-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY c_custkey, c_name, n_name
          |ORDER BY revenue DESC, c_custkey
          |LIMIT 20""".stripMargin),
    // argmax against a broadcast one-row max (Q15 shape)
    QuerySpec("tpch_q15_top_supplier", (s, d) => Relational.topSupplierRevenue(s, d),
      _ =>
        """WITH rev AS (
          |  SELECT l_suppkey,
          |         floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM rev JOIN supplier ON l_suppkey = s_suppkey
          |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
          |ORDER BY s_suppkey""".stripMargin),
    // double-quantifier per-order aggregate (Q21 shape)
    QuerySpec("tpch_q21_solo_late_suppliers", (s, d) => Relational.soloLateSuppliers(s, d),
      _ =>
        """WITH f AS (
          |  SELECT l_orderkey, l_suppkey, l_shipdate > o_orderdate AS late
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |po AS (
          |  SELECT l_orderkey,
          |         count(DISTINCT l_suppkey) AS n_supp,
          |         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
          |         max(CASE WHEN late THEN l_suppkey END) AS late_supp
          |  FROM f GROUP BY l_orderkey
          |  HAVING count(DISTINCT l_suppkey) > 1
          |     AND count(DISTINCT CASE WHEN late THEN l_suppkey END) = 1)
          |SELECT s_suppkey, s_name, count(*) AS numwait
          |FROM po JOIN supplier ON late_supp = s_suppkey
          |GROUP BY s_suppkey, s_name
          |ORDER BY numwait DESC, s_suppkey
          |LIMIT 25""".stripMargin),
    // decorrelated MIN subquery + equality join-back (Q2 shape)
    QuerySpec("tpch_q2_min_cost_supplier", (s, d) => Relational.minCostSupplier(s, d),
      // unit cost is rounded PER ROW (identical IEEE op sequence in both
      // engines) so min + the equality join-back compare stable values
      _ =>
        """WITH supply AS (
          |  SELECT l_partkey, l_suppkey,
          |         floor((l_extendedprice / l_quantity) * 100 + 0.5) / 100 AS cost
          |  FROM lineitem
          |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
          |                      JOIN nation ON s_nationkey = n_nationkey
          |                      WHERE n_regionkey = 3)
          |    AND l_partkey IN (SELECT p_partkey FROM part
          |                      WHERE p_type = 'LARGE' AND p_size <= 15)),
          |pc AS (SELECT l_partkey, l_suppkey, min(cost) AS cost
          |       FROM supply GROUP BY 1, 2),
          |mn AS (SELECT l_partkey AS mk, min(cost) AS min_cost FROM pc GROUP BY 1),
          |win AS (SELECT pc.l_partkey AS p_partkey, min_cost,
          |               min(pc.l_suppkey) AS s_suppkey
          |        FROM pc JOIN mn ON pc.l_partkey = mk AND pc.cost = min_cost
          |        GROUP BY 1, 2)
          |SELECT p_partkey, s_suppkey, s_name, min_cost
          |FROM win JOIN supplier USING (s_suppkey)
          |ORDER BY p_partkey""".stripMargin),
    // two-sided star + conditional-sum ratio per year (Q8 shape)
    QuerySpec("tpch_q8_market_share", (s, d) => Relational.marketShare(s, d),
      _ =>
        s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           |       ${graft.functions.OracleRound.duck(
                "100.0 * sum(CASE WHEN sn.n_name = 'NATION_7' " +
                  "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) " +
                  "/ sum(l_extendedprice * (1 - l_discount))", 4)} AS mkt_share
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation cn ON c_nationkey = cn.n_nationkey AND cn.n_regionkey = 2
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation sn ON s_nationkey = sn.n_nationkey
           |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    // HAVING vs a broadcast global-total scalar (Q11 shape)
    QuerySpec("tpch_q11_important_parts", (s, d) => Relational.importantParts(s, d),
      // l_quantity is integral: the sums and the per-mille threshold are
      // exact integer arithmetic in both engines
      _ =>
        """WITH v AS (
          |  SELECT l_partkey, sum(l_quantity) AS qty
          |  FROM lineitem
          |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
          |                      JOIN nation ON s_nationkey = n_nationkey
          |                      WHERE n_regionkey = 1)
          |  GROUP BY 1),
          |t AS (SELECT sum(qty) AS tot FROM v)
          |SELECT l_partkey AS p_partkey, CAST(qty AS BIGINT) AS qty
          |FROM v, t WHERE qty * 1000 > tot
          |ORDER BY qty DESC, p_partkey""".stripMargin),
    // NOT IN anti-join + Expand-free distinct counts (Q16 shape)
    QuerySpec("tpch_q16_supplier_counts", (s, d) => Relational.supplierCountsByPartAttrs(s, d),
      _ =>
        """WITH pairs AS (
          |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
          |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
          |                          WHERE s_name LIKE '%3')),
          |d AS (SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
          |      FROM pairs JOIN part ON l_partkey = p_partkey
          |      WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          |        AND p_size IN (1, 5, 9, 13, 17, 21))
          |SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
          |FROM d GROUP BY 1, 2, 3
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    // nested correlated threshold chain, exact arithmetic (Q20 shape)
    QuerySpec("tpch_q20_dominant_shippers", (s, d) => Relational.dominantShippers(s, d),
      _ =>
        """WITH ship AS (
          |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1998-01-01'
          |    AND l_partkey IN (SELECT p_partkey FROM part
          |                      WHERE p_name LIKE 'red%')
          |  GROUP BY 1, 2),
          |tot AS (SELECT l_partkey AS tk, sum(qty) AS tot FROM ship GROUP BY 1)
          |SELECT s_suppkey, s_name, count(*) AS n_dominated
          |FROM ship JOIN tot ON l_partkey = tk AND qty * 2 > tot
          |JOIN supplier ON l_suppkey = s_suppkey
          |GROUP BY 1, 2
          |ORDER BY s_suppkey""".stripMargin),
    // ROWS-frame moving aggregates + lag per user
    QuerySpec("window_moving_avg", (s, d) => Relational.movingAverages(s, d),
      _ =>
        """SELECT event_id, user_id, value,
          |       floor((avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS mavg3,
          |       floor((value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) * 100 + 0.5) / 100 AS delta,
          |       floor((max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS running_max
          |FROM events
          |ORDER BY event_id""".stripMargin),
    // percent_rank / cume_dist / ntile per customer
    QuerySpec("window_order_percentiles", (s, d) => Relational.orderPercentiles(s, d),
      _ =>
        """SELECT o_orderkey, o_custkey, o_totalprice,
          |       floor((percent_rank() OVER w) * 1000000 + 0.5) / 1000000 AS pct_rank,
          |       floor((cume_dist() OVER w) * 1000000 + 0.5) / 1000000 AS cume,
          |       CAST(ntile(4) OVER w AS INTEGER) AS quartile
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderkey""".stripMargin),
    // ── SQL surface / approx / session windows ──────────────────────────
    QuerySpec("sql_revenue_by_status", (s, d) => SqlSurface.revenueByStatus(s, d),
      _ =>
        """SELECT o_orderstatus, count(*) AS n_orders,
          |       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    QuerySpec("sql_graft_dot", (s, d) => SqlSurface.sqlDotProducts(s, d),
      _ =>
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5)
          |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |       list_reduce([a.v[i] * b.v[i] for i in range(1, 1 + len(a.v))],
          |                   (x, y) -> x + y) AS dot
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |ORDER BY vec_a, vec_b""".stripMargin),
    // both custom TypedImperativeAggregates through pure spark.sql —
    // the registration path, constant-folded md5 bucket indexes in SQL
    QuerySpec("sql_graft_sketches", (s, d) => SqlSurface.sqlSketchSurface(s, d),
      // SQL sketch surface: CMS estimates replayed as filtered counts on
      // the constant buckets of 'the'; the bottom-k sample as the 3
      // smallest (md5, id) per source
      d => {
        val bucket = (d: Int, ref: String) =>
          s"CAST(list_reduce([CAST(strpos('0123456789abcdef', " +
            s"substr(md5('cms$d:' || $ref), h, 1)) - 1 AS BIGINT) " +
            s"for h in range(1, 14)], (a, c) -> a * 16 + c) AS BIGINT) % 256"
        s"""WITH w AS (SELECT source, unnest($duckToks) AS term
           |           FROM documents),
           |ww AS (SELECT source, term FROM w WHERE term <> ''),
           |cms AS (SELECT source, count(*) AS n_terms,
           |               least(
           |                 count(*) FILTER (WHERE ${bucket(0, "term")} = ${bucket(0, "'the'")}),
           |                 count(*) FILTER (WHERE ${bucket(1, "term")} = ${bucket(1, "'the'")}),
           |                 count(*) FILTER (WHERE ${bucket(2, "term")} = ${bucket(2, "'the'")}))
           |                 AS est_the,
           |               count(*) FILTER (WHERE term = 'the') AS exact_the
           |        FROM ww GROUP BY source),
           |samp AS (SELECT source,
           |                (list(doc_id ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id))[1:3]
           |                  AS sample_ids
           |         FROM documents GROUP BY source)
           |SELECT c.source, c.n_terms, c.est_the, c.exact_the,
           |       array_to_string(s.sample_ids, ',') AS sample_ids
           |FROM cms c JOIN samp s ON s.source = c.source
           |ORDER BY c.source""".stripMargin
      }),
    // an LLM-pipeline OPERATOR driven purely through spark.sql (round 16:
    // SqlSurface.registerLlmViews registers minhash pairs / IVF top-k /
    // BM25 as table entry points) — the SELECT executes the same lazy
    // Catalyst pipeline the Column API builds, value-checked by the
    // exact-jaccard oracle
    QuerySpec("sql_graft_minhash_pairs", (s, d) => {
      SqlSurface.registerLlmViews(s, d)
      s.sql("""SELECT doc_a, doc_b, jaccard FROM graft_minhash_pairs
              |ORDER BY doc_a, doc_b""".stripMargin)
    },
      // the same operator driven through the SQL surface view (round 16) —
      // same plan, same values, same exact-jaccard expectation
      _ => exactJaccardOracle),
    // query-by-example from pure SQL (round 17): the caller registers a
    // query view — here a held-out id subset so DuckDB can replay it —
    // and SELECTs ANN results from graft_ivf_search, served against the
    // SAME published centroid artifact as graft_ivf_topk
    QuerySpec("sql_graft_ivf_search", (s, d) => {
      Tables.embeddings(s, d).where(col("vec_id") % 89 === 2)
        .select("vec_id", "embedding")
        .createOrReplaceTempView("graft_spec_external_queries")
      SqlSurface.registerSearchViews(s, d,
        ivfQueryView = Some("graft_spec_external_queries"))
      s.sql("""SELECT query_id, rank, vec_id, cosine FROM graft_ivf_search
              |ORDER BY query_id, rank""".stripMargin)
    },
      // sql_graft_ivf_search: the SQL-surface query-by-example view — the
      // sim_ivf_external_topk replay against the sqlivf published artifact
      // (the one graft_ivf_topk serves from) with the caller's held-out
      // query subset (vec_id % 89 = 2)
      d =>
        s"""WITH c AS (SELECT list_id, centroid
          |           FROM read_parquet('${Similarity.ivfCentroidsPath(ArtifactWarehouse, SqlSurface.ivfSlug(d))}/*.parquet')),
          |$embNormCtes,
          |nn AS (SELECT vec_id, v, nrm, [x / nrm for x in v] AS nv FROM n),
          |d AS (SELECT nn.vec_id, c.list_id,
          |             list_reduce([nn.nv[i] * c.centroid[i]
          |                          for i in range(1, 1 + len(nn.nv))],
          |                         (x, y) -> x + y) AS dt
          |      FROM nn CROSS JOIN c),
          |a AS (SELECT vec_id, list_id AS cluster FROM (
          |        SELECT vec_id, list_id,
          |               row_number() OVER (PARTITION BY vec_id
          |                                  ORDER BY dt DESC, list_id DESC) AS rn
          |        FROM d)
          |      WHERE rn = 1),
          |p AS (SELECT query_id, list_id FROM (
          |        SELECT vec_id AS query_id, list_id,
          |               row_number() OVER (PARTITION BY vec_id
          |                                  ORDER BY dt DESC, list_id DESC) AS rn
          |        FROM d WHERE vec_id % 89 = 2)
          |      WHERE rn <= 4),
          |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 89 = 2),
          |cand AS (SELECT p.query_id, a.vec_id
          |         FROM a JOIN p ON a.cluster = p.list_id
          |         WHERE a.vec_id <> p.query_id),
          |s AS (SELECT cand.query_id, cand.vec_id,
          |             list_reduce([q.qv[i] * n.v[i] for i in range(1, 1 + len(q.qv))],
          |                         (x, y) -> x + y) / (q.qn * n.nrm) AS cosine
          |      FROM cand JOIN n ON n.vec_id = cand.vec_id
          |      JOIN q ON q.query_id = cand.query_id)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |                               ORDER BY cosine DESC, vec_id) AS rank
          |  FROM s)
          |WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),
    QuerySpec("agg_salted_user_counts", (s, d) => Relational.saltedUserTypeCounts(s, d),
      _ =>
        """SELECT user_id, count(*) AS n_events,
          |       floor(sum(value) * 100 + 0.5) / 100 AS total_value
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // deliberately-skewed shuffle join, salted: results must be identical
    // to the plain join (the salt is a physical-plan rewrite only)
    QuerySpec("join_salted_event_orders", (s, d) => Relational.saltedEventOrderJoin(s, d),
      // the salt must be invisible: the oracle is the PLAIN join + rollup
      _ =>
        """WITH dim AS (SELECT o_custkey AS user_id, count(*) AS ord_cnt
          |             FROM orders GROUP BY 1)
          |SELECT e.user_id, e.event_type,
          |       count(*) AS n_events,
          |       CAST(sum(d.ord_cnt) AS BIGINT) AS ord_weight
          |FROM events e JOIN dim d USING (user_id)
          |GROUP BY 1, 2
          |ORDER BY user_id, event_type""".stripMargin),
    // banded event-time range join: hour-bucket equi-join + exact range
    // filter instead of a nested-loop over the cross space
    QuerySpec("join_range_click_context", (s, d) => Relational.purchaseClickContext(s, d),
      // the banding is a physical rewrite — the oracle is the PLAIN range join
      _ =>
        """WITH p AS (SELECT event_id, ts::TIMESTAMP AS pt FROM events
          |           WHERE event_type = 'purchase'),
          |c AS (SELECT ts::TIMESTAMP AS ct FROM events WHERE event_type = 'click')
          |SELECT p.event_id,
          |       strftime(p.pt, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
          |       CAST(count(c.ct) AS BIGINT) AS n_clicks_prior_hour
          |FROM p LEFT JOIN c ON c.ct > p.pt - INTERVAL 1 HOUR AND c.ct <= p.pt
          |GROUP BY p.event_id, p.pt
          |ORDER BY p.event_id""".stripMargin),
    // variable-width interval overlap join: points bucket once, intervals
    // explode to covering buckets — never a nested loop
    QuerySpec("join_interval_overlap", (s, d) => Relational.userDayPurchaseOverlap(s, d),
      // the bucketing is a physical rewrite — the oracle is the PLAIN
      // overlap join
      _ =>
        """WITH spans AS (SELECT user_id, CAST(ts AS DATE) AS d,
          |                      min(ts::TIMESTAMP) AS lo, max(ts::TIMESTAMP) AS hi
          |               FROM events GROUP BY 1, 2),
          |p AS (SELECT ts::TIMESTAMP AS pt FROM events WHERE event_type = 'purchase')
          |SELECT s.user_id, strftime(s.d, '%Y-%m-%d') AS day,
          |       CAST(count(p.pt) AS BIGINT) AS n_overlap_purchases
          |FROM spans s LEFT JOIN p ON p.pt >= s.lo AND p.pt <= s.hi
          |GROUP BY s.user_id, s.d
          |ORDER BY s.user_id, s.d""".stripMargin),
    // Bloom semi-join reduction: fact rows that cannot match a selective
    // dim are dropped at the scan, before the join's exchange
    QuerySpec("join_bloom_pruned_revenue", (s, d) => Relational.bloomPrunedUrgentRevenue(s, d),
      // the Bloom pass is a physical reduction — the oracle is the PLAIN join
      _ =>
        s"""SELECT l.l_linestatus,
           |       CAST(count(*) AS BIGINT) AS n_lines,
           |       ${graft.functions.OracleRound.duck("sum(l.l_extendedprice * (1.0 - l.l_discount))", 2)} AS revenue
           |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |WHERE o.o_orderpriority = '1-URGENT'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    // GK quantile sketch bounded in-query (the HLL pattern for quantiles)
    QuerySpec("agg_percentile_sketch", (s, d) => Relational.approxPercentilesChecked(s, d),
      _ =>
        s"""SELECT event_type,
           |       ${graft.functions.OracleRound.duck("quantile_cont(value, 0.5)", 4)} AS exact_p50,
           |       ${graft.functions.OracleRound.duck("quantile_cont(value, 0.9)", 4)} AS exact_p90,
           |       TRUE AS sketch_within_tol
           |FROM events
           |GROUP BY event_type
           |ORDER BY event_type""".stripMargin),
    QuerySpec("join_asof_latest_order", (s, d) =>
      AsOfJoin.eventsToLatestOrder(s, d).orderBy("event_id"),
      _ =>
        """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
          |           FROM orders GROUP BY o_custkey, o_orderdate)
          |SELECT e.event_id, e.user_id, o.o_orderkey AS matched_orderkey
          |FROM events e
          |ASOF LEFT JOIN o
          |  ON e.user_id = o.o_custkey AND e.ts::TIMESTAMP >= o.o_orderdate
          |ORDER BY e.event_id""".stripMargin),
    // forward direction: earliest order AT/after each event
    QuerySpec("join_asof_next_order", (s, d) =>
      AsOfJoin.eventsToNextOrder(s, d).orderBy("event_id"),
      _ =>
        """WITH o AS (SELECT o_custkey, o_orderdate, min(o_orderkey) AS o_orderkey
          |           FROM orders GROUP BY o_custkey, o_orderdate)
          |SELECT e.event_id, e.user_id, o.o_orderkey AS next_orderkey
          |FROM events e
          |ASOF LEFT JOIN o
          |  ON e.user_id = o.o_custkey AND e.ts::TIMESTAMP <= o.o_orderdate
          |ORDER BY e.event_id""".stripMargin),
    // nearest direction (completes the as-of trio): both carries in one
    // pass, smaller second-granularity gap wins, backward breaks ties
    QuerySpec("join_asof_nearest_order", (s, d) =>
      AsOfJoin.eventsToNearestOrder(s, d).orderBy("event_id"),
      // nearest as-of: DuckDB's native ASOF run once per direction
      // (backward inclusive, forward strict — matching the Spark union's
      // (t, side) sort), joined on event and arbitrated by the same
      // second-granularity gap comparison
      _ =>
        """WITH o AS (SELECT o_custkey, o_orderdate, min(o_orderkey) AS ok
          |           FROM orders GROUP BY o_custkey, o_orderdate),
          |b AS (SELECT e.event_id, e.user_id, e.ts, o.ok AS bok, o.o_orderdate AS bot
          |      FROM events e ASOF LEFT JOIN o
          |        ON e.user_id = o.o_custkey AND e.ts::TIMESTAMP >= o.o_orderdate),
          |f AS (SELECT e.event_id, o.ok AS fok, o.o_orderdate AS fot
          |      FROM events e ASOF LEFT JOIN o
          |        ON e.user_id = o.o_custkey AND e.ts::TIMESTAMP < o.o_orderdate),
          |j AS (SELECT b.event_id, b.user_id,
          |             bok, fok,
          |             date_diff('second', bot, b.ts::TIMESTAMP) AS gp,
          |             date_diff('second', b.ts::TIMESTAMP, fot) AS gn
          |      FROM b JOIN f ON f.event_id = b.event_id)
          |SELECT event_id, user_id,
          |       CASE WHEN bok IS NULL AND fok IS NULL THEN NULL
          |            WHEN fok IS NULL THEN bok
          |            WHEN bok IS NULL THEN fok
          |            WHEN gp <= gn THEN bok ELSE fok END AS nearest_orderkey,
          |       CASE WHEN bok IS NULL AND fok IS NULL THEN NULL
          |            WHEN fok IS NULL THEN 'backward'
          |            WHEN bok IS NULL THEN 'forward'
          |            WHEN gp <= gn THEN 'backward' ELSE 'forward' END AS direction,
          |       CASE WHEN bok IS NULL AND fok IS NULL THEN NULL
          |            WHEN fok IS NULL THEN gp
          |            WHEN bok IS NULL THEN gn
          |            WHEN gp <= gn THEN gp ELSE gn END AS gap_seconds
          |FROM j
          |ORDER BY event_id""".stripMargin),
    QuerySpec("agg_order_stats", (s, d) => Relational.orderStats(s, d),
      _ =>
        """SELECT o_orderstatus,
          |       floor(quantile_cont(o_totalprice, 0.5) * 100 + 0.5) / 100 AS median_price,
          |       floor(stddev_samp(o_totalprice) * 100 + 0.5) / 100 AS sd,
          |       floor(corr(o_totalprice, o_custkey) * 10000 + 0.5) / 10000 AS c
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    QuerySpec("fn_array", (s, d) => FunctionSurface.arrayFunctions(s, d).orderBy("vec_id"),
      _ =>
        """SELECT vec_id,
          |       CAST(len(embedding) AS INTEGER) AS dim,
          |       CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive,
          |       CAST(len(list_distinct(embedding)) AS INTEGER) AS n_distinct,
          |       floor(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5) / 1000000 AS first_val,
          |       floor(CAST(list_max(embedding) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS max_val
          |FROM embeddings ORDER BY vec_id""".stripMargin),
    QuerySpec("fn_datetime", (s, d) => FunctionSurface.datetimeFunctions(s, d),
      _ =>
        """SELECT o_orderkey,
          |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
          |       CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER) AS age_days,
          |       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
          |       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
          |       CAST(quarter(o_orderdate) AS INTEGER) AS q,
          |       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow
          |FROM orders ORDER BY o_orderkey""".stripMargin),
    QuerySpec("cube_status_priority", (s, d) => FunctionSurface.statusPriorityCube(s, d),
      _ =>
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS priority,
          |       count(*) AS n
          |FROM orders
          |GROUP BY CUBE(o_orderstatus, o_orderpriority)
          |ORDER BY status, priority""".stripMargin),
    // explicit GROUPING SETS list + grouping_id
    QuerySpec("agg_grouping_sets", (s, d) => FunctionSurface.returnFlagGroupingSets(s, d),
      _ =>
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |       coalesce(l_linestatus, 'ALL') AS linestatus,
          |       count(*) AS n,
          |       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
          |       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY gid, returnflag, linestatus""".stripMargin),
    // string-function palette (reverse/pad/extract/position/editdist)
    QuerySpec("fn_string", (s, d) => FunctionSurface.stringFunctions(s, d),
      _ =>
        """SELECT c_custkey,
          |       reverse(c_name) AS rev_name,
          |       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
          |       CASE WHEN contains(c_name, '#')
          |            THEN regexp_extract(c_name, '#([^#]*)$', 1)
          |            ELSE c_name END AS name_num,
          |       CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
          |       substr(c_name, 1, 8) AS prefix8,
          |       substr(c_name, length(c_name) - 2, 3) AS suffix3,
          |       CAST(levenshtein(c_mktsegment, 'BUILDING') AS INTEGER) AS seg_dist,
          |       concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key
          |FROM customer ORDER BY c_custkey""".stripMargin),
    // generated calendar spine + gap fill (zero-order days kept)
    QuerySpec("fn_date_spine", (s, d) => FunctionSurface.orderDateSpine(s, d),
      _ =>
        """WITH spine AS (
          |  SELECT CAST(unnest(generate_series(DATE '1997-01-01', DATE '1997-03-31',
          |                                     INTERVAL 1 DAY)) AS DATE) AS day),
          |pd AS (
          |  SELECT CAST(o_orderdate AS DATE) AS day,
          |         count(*) AS n_orders, sum(o_totalprice) AS rev
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          |    AND o_orderdate < TIMESTAMP '1997-04-01'
          |  GROUP BY CAST(o_orderdate AS DATE))
          |SELECT strftime(spine.day, '%Y-%m-%d') AS day,
          |       coalesce(pd.n_orders, 0) AS n_orders,
          |       floor((coalesce(pd.rev, 0.0)) * 100 + 0.5) / 100 AS revenue
          |FROM spine LEFT JOIN pd USING (day)
          |ORDER BY day""".stripMargin),
    // MapType palette over schema-free JSON props
    QuerySpec("fn_map", (s, d) => FunctionSurface.mapFunctions(s, d),
      _ =>
        """SELECT event_id,
          |       CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
          |       array_to_string(list_sort(json_keys(props)::VARCHAR[]), ',') AS keys,
          |       CAST(props->>'k' AS INTEGER) AS k_val,
          |       json_extract(props, '$.missing') IS NOT NULL AS has_missing
          |FROM events ORDER BY event_id""".stripMargin),
    QuerySpec("set_intersect_hours", (s, d) => FunctionSurface.clickAndPurchaseHours(s, d),
      _ =>
        """SELECT DISTINCT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour
          |FROM events WHERE event_type = 'click'
          |INTERSECT
          |SELECT DISTINCT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S')
          |FROM events WHERE event_type = 'purchase'
          |ORDER BY hour""".stripMargin),
    QuerySpec("pivot_event_types", (s, d) => FunctionSurface.eventTypePivot(s, d),
      _ =>
        """SELECT user_id,
          |       count(*) FILTER (event_type = 'click') AS click,
          |       count(*) FILTER (event_type = 'error') AS error,
          |       count(*) FILTER (event_type = 'purchase') AS purchase,
          |       count(*) FILTER (event_type = 'signup') AS signup,
          |       count(*) FILTER (event_type = 'view') AS view
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // wide→long melt (Dataset.unpivot → Expand, map-side) + per-metric fold
    QuerySpec("fn_unpivot_metrics", (s, d) => FunctionSurface.metricUnpivot(s, d),
      _ =>
        s"""SELECT metric, count(*) AS n,
           |       ${graft.functions.OracleRound.duck("sum(value)", 2)} AS total
           |FROM (SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem)
           |  UNPIVOT (value FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
           |GROUP BY metric
           |ORDER BY metric""".stripMargin),
    QuerySpec("approx_distinct_users", (s, d) => SqlSurface.approxUserCountsChecked(s, d),
      // HLL sketch VALUES are engine-specific, so the raw approximation is
      // not oracle-comparable — instead the exact count hash-matches and the
      // ≤3×rsd (15%) contract rides a boolean the oracle pins to TRUE (a
      // sketch drifting out of tolerance flips it and fails the hash compare)
      _ =>
        """SELECT event_type,
          |       count(DISTINCT user_id) AS exact_users,
          |       TRUE AS approx_within_tol
          |FROM events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin),
    QuerySpec("session_windows", (s, d) => SqlSurface.sessionWindows(s, d),
      _ =>
        """WITH o AS (SELECT user_id, ts::TIMESTAMP AS t FROM events),
          |m AS (SELECT user_id, t,
          |             CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
          |                    OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= INTERVAL 30 MINUTE
          |                  THEN 1 ELSE 0 END AS new_s
          |      FROM o),
          |g AS (SELECT user_id, t,
          |             sum(new_s) OVER (PARTITION BY user_id ORDER BY t
          |                              ROWS UNBOUNDED PRECEDING) AS sid
          |      FROM m)
          |SELECT user_id,
          |       strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
          |       count(*) AS n_events
          |FROM g GROUP BY user_id, sid
          |ORDER BY user_id, session_start""".stripMargin),
  )
}
