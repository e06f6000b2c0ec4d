package graft.oracle

/** DuckDB oracles for graft.tpch.CoreOps, graft.text.TextOps and
  * graft.sim.Similarity. Same cross-engine rules as [[Oracles]]: integer
  * (cents / quantized) arithmetic through aggregation, scale-0 rounding,
  * BIGINT casts, total window orderings. DuckDB-specific notes:
  * regexp_replace needs the 'g' flag (Spark replaces all by default);
  * list_zip struct fields are accessed positionally (s[1], s[2]).
  */
object OpsOracles {

  /** Substitutes the SINGLE source of truth for the cross-engine
    * whitespace class (TextOps.Ws — see its doc for the Java-vs-RE2
    * divergence) into oracle SQL written with a `<WS>` placeholder, so
    * the Spark pattern and its DuckDB mirror can never drift apart. */
  private def ws(sql: String): String =
    sql.replace("<WS>", graft.text.TextOps.Ws)

  val q1PricingSummary: String =
    """WITH li AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(round(l_quantity, 0) AS BIGINT) AS qty_l,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS ep_c,
      |    CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_c,
      |    CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_c
      |  FROM lineitem
      |  WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |),
      |agg AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(SUM(qty_l) AS BIGINT) AS sum_qty,
      |    CAST(SUM(ep_c) AS BIGINT) AS base_c_sum,
      |    CAST(SUM(ep_c * (100 - disc_c)) AS BIGINT) AS disc_price_i,
      |    CAST(SUM(ep_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT)
      |      AS charge_i,
      |    CAST(SUM(disc_c) AS BIGINT) AS disc_c_sum,
      |    CAST(count(*) AS BIGINT) AS count_order
      |  FROM li GROUP BY 1, 2
      |)
      |SELECT l_returnflag, l_linestatus, sum_qty, count_order,
      |  round((base_c_sum::DOUBLE / 100) * 100, 0) / 100.0 AS sum_base_price,
      |  round((disc_price_i::DOUBLE / 10000) * 100, 0) / 100.0
      |    AS sum_disc_price,
      |  round((charge_i::DOUBLE / 1000000) * 100, 0) / 100.0 AS sum_charge,
      |  round((sum_qty::DOUBLE / count_order) * 100, 0) / 100.0 AS avg_qty,
      |  round((disc_c_sum::DOUBLE / (count_order * 100)) * 10000, 0) / 10000.0
      |    AS avg_disc
      |FROM agg""".stripMargin

  val q3RevenueTopK: String =
    """WITH li AS (
      |  SELECT l_orderkey,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_i
      |  FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |),
      |o AS (
      |  SELECT o_orderkey, o_custkey, o_orderdate FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |),
      |c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |agg AS (
      |  SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
      |         CAST(SUM(rev_i) AS BIGINT) AS rev_i_sum
      |  FROM li JOIN o ON li.l_orderkey = o.o_orderkey
      |  JOIN c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2
      |)
      |SELECT l_orderkey, orderdate,
      |  round((rev_i_sum::DOUBLE / 10000) * 100, 0) / 100.0 AS revenue
      |FROM agg ORDER BY rev_i_sum DESC, l_orderkey LIMIT 10""".stripMargin

  val joinBroadcastDims: String =
    """WITH cu AS (
      |  SELECT c_nationkey,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_c
      |  FROM customer
      |),
      |j AS (
      |  SELECT r_name, n_name, bal_c
      |  FROM cu JOIN nation ON cu.c_nationkey = nation.n_nationkey
      |  JOIN region ON nation.n_regionkey = region.r_regionkey
      |),
      |agg AS (
      |  SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS customers,
      |         CAST(SUM(bal_c) AS BIGINT) AS bal_c_sum
      |  FROM j GROUP BY 1, 2
      |)
      |SELECT r_name, n_name, customers,
      |  round((bal_c_sum::DOUBLE / 100) * 100, 0) / 100.0 AS total_acctbal,
      |  round((bal_c_sum::DOUBLE / (customers * 100)) * 100, 0) / 100.0
      |    AS avg_acctbal
      |FROM agg""".stripMargin

  val semiAntiJoin: String =
    """WITH w AS (
      |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS customers_with_orders
      |  FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY 1
      |),
      |wo AS (
      |  SELECT c_nationkey,
      |         CAST(count(*) AS BIGINT) AS customers_without_orders
      |  FROM customer c
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY 1
      |),
      |t AS (
      |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS customers_total
      |  FROM customer GROUP BY 1
      |)
      |SELECT t.c_nationkey, t.customers_total,
      |  coalesce(w.customers_with_orders, 0) AS customers_with_orders,
      |  coalesce(wo.customers_without_orders, 0) AS customers_without_orders
      |FROM t LEFT JOIN w USING (c_nationkey)
      |LEFT JOIN wo USING (c_nationkey)""".stripMargin

  val topOrderPerCustomer: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_custkey ORDER BY price_c DESC, o_orderkey) AS rn
      |  FROM o
      |)
      |SELECT o_custkey, o_orderkey AS top_orderkey,
      |  round((price_c::DOUBLE / 100) * 100, 0) / 100.0 AS top_totalprice
      |FROM r WHERE rn = 1""".stripMargin

  val ordersDailyDistinct: String =
    """WITH agg AS (
      |  SELECT CAST(o_orderdate AS DATE) AS orderdate,
      |    CAST(count(*) AS BIGINT) AS orders,
      |    count(DISTINCT o_custkey) AS customers,
      |    count(DISTINCT ROW(o_custkey, o_orderstatus)) AS cust_status_pairs,
      |    count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
      |      THEN o_custkey END) AS urgent_customers,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS finished_orders
      |  FROM orders GROUP BY 1
      |)
      |SELECT *,
      |  CASE WHEN customers > 0
      |    THEN round((urgent_customers::DOUBLE / customers) * 10000, 0)
      |      / 10000.0
      |    ELSE 0.0 END AS urgent_customer_ratio
      |FROM agg""".stripMargin

  val q5LocalSupplierVolume: String =
    """WITH n AS (
      |  SELECT n_nationkey, n_name FROM nation
      |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
      |),
      |c AS (
      |  SELECT c_custkey, c_nationkey, n_name FROM customer
      |  JOIN n ON c_nationkey = n_nationkey
      |),
      |o AS (
      |  SELECT o_orderkey, o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |),
      |li AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_i
      |  FROM lineitem
      |),
      |j AS (
      |  SELECT c.n_name, li.rev_i
      |  FROM li JOIN o ON li.l_orderkey = o.o_orderkey
      |  JOIN c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON li.l_suppkey = s.s_suppkey
      |    AND s.s_nationkey = c.c_nationkey
      |),
      |agg AS (
      |  SELECT n_name, CAST(SUM(rev_i) AS BIGINT) AS rev_i_sum,
      |         CAST(count(*) AS BIGINT) AS n_lineitems
      |  FROM j GROUP BY 1
      |)
      |SELECT n_name, n_lineitems,
      |  round((rev_i_sum::DOUBLE / 10000) * 100, 0) / 100.0 AS revenue
      |FROM agg""".stripMargin

  val q18LargeOrders: String =
    """WITH bo AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
      |      AS total_qty
      |  FROM lineitem GROUP BY 1
      |  HAVING CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
      |    > 250
      |)
      |SELECT c_custkey, c_name, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS orderdate, total_qty,
      |  round((CAST(round(o_totalprice * 100, 0) AS BIGINT)::DOUBLE / 100)
      |    * 100, 0) / 100.0 AS totalprice
      |FROM orders JOIN bo ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Mirrors SubqueryOps.q4OrderPriority: the same correlated EXISTS —
    * DuckDB plans its own semi join; counts are exact either way. */
  val q4OrderPriority: String =
    """SELECT o_orderpriority, CAST(count(1) AS BIGINT) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** Mirrors SubqueryOps.q21SuppliersWaiting: EXISTS + NOT EXISTS over
    * the same lineitem fact, counts only. */
  val q21SuppliersWaiting: String =
    """SELECT s.s_name, CAST(count(1) AS BIGINT) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s.s_name""".stripMargin

  /** Mirrors SubqueryOps.q17SmallQuantityRevenue: the integer
    * cross-multiplied correlated scalar subqueries (no float division
    * in the predicate), cents-exact revenue via the Num.r tree. DuckDB
    * SUM over integers is HUGEINT, hence the BIGINT casts before any
    * comparison or division. */
  val q17SmallQuantityRevenue: String =
    """SELECT p.p_brand, CAST(count(1) AS BIGINT) AS n_small,
      |  round((CAST(CAST(sum(CAST(round(l1.l_extendedprice * 100, 0)
      |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 100) * 100, 0) / 100.0
      |    AS revenue
      |FROM lineitem l1
      |JOIN part p ON p.p_partkey = l1.l_partkey
      |WHERE CAST(round(l1.l_quantity, 0) AS BIGINT) * 5 *
      |    (SELECT count(1) FROM lineitem l2
      |     WHERE l2.l_partkey = l1.l_partkey)
      |  < (SELECT CAST(sum(CAST(round(l3.l_quantity, 0) AS BIGINT))
      |       AS BIGINT)
      |     FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey)
      |GROUP BY p.p_brand""".stripMargin

  /** Mirrors SubqueryOps.q22IdleCustomers: the same uncorrelated
    * cross-multiplied scalar pair + correlated NOT EXISTS; cents-exact
    * balance total via the Num.r tree (HUGEINT sums cast to BIGINT
    * before any arithmetic). */
  val q22IdleCustomers: String =
    """SELECT n.n_name AS cntry, CAST(count(1) AS BIGINT) AS numcust,
      |  round((CAST(CAST(sum(CAST(round(c.c_acctbal * 100, 0) AS BIGINT))
      |    AS BIGINT) AS DOUBLE) / 100) * 100, 0) / 100.0 AS totacctbal
      |FROM customer c
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |WHERE c.c_nationkey IN (3, 7, 11, 14, 19)
      |  AND CAST(round(c.c_acctbal * 100, 0) AS BIGINT) *
      |    (SELECT count(1) FROM customer c2
      |     WHERE c2.c_acctbal > 0.0
      |       AND c2.c_nationkey IN (3, 7, 11, 14, 19))
      |  > (SELECT CAST(sum(CAST(round(c3.c_acctbal * 100, 0) AS BIGINT))
      |       AS BIGINT)
      |     FROM customer c3
      |     WHERE c3.c_acctbal > 0.0
      |       AND c3.c_nationkey IN (3, 7, 11, 14, 19))
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY n.n_name""".stripMargin

  /** Mirrors CoreOps.q19DisjunctiveRevenue: the same three OR'd
    * conjunctive branches over the partkey equi join; revenue summed in
    * integer hundredths-of-cents, rounded once at the output. */
  val q19DisjunctiveRevenue: String =
    """SELECT p.p_brand AS brand, CAST(count(1) AS BIGINT) AS n_items,
      |  round((CAST(CAST(sum(CAST(round(l.l_extendedprice * 100, 0)
      |        AS BIGINT) * (100 - CAST(round(l.l_discount * 100, 0)
      |        AS BIGINT))) AS BIGINT) AS DOUBLE) / 10000) * 100, 0)
      |    / 100.0 AS revenue
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
      |       AND l.l_quantity BETWEEN 1 AND 20)
      |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
      |       AND l.l_quantity BETWEEN 15 AND 35)
      |   OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 20 AND 50
      |       AND l.l_quantity BETWEEN 30 AND 50)
      |GROUP BY p.p_brand""".stripMargin

  /** Mirrors SubqueryOps.q16IdleCustomersNotIn: literal NOT IN — DuckDB
    * evaluates the same null-aware three-valued semantics natively (a
    * NULL inner value would empty both engines' results identically). */
  val q16IdleCustomersNotIn: String =
    """SELECT c.c_mktsegment AS segment, CAST(count(1) AS BIGINT) AS n_idle
      |FROM customer c
      |WHERE c.c_custkey NOT IN (
      |  SELECT o.o_custkey FROM orders o
      |  WHERE o.o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY c.c_mktsegment""".stripMargin

  /** Mirrors SubqueryOps.q2MinCostSupplier: the correlated scalar MIN
    * over the 4-table regional join, integer cents so the min-equality
    * is exact and tie-complete. */
  val q2MinCostSupplier: String =
    """SELECT DISTINCT s.s_name, p.p_partkey, p.p_type,
      |  CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
      |    AS min_price_cents
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |WHERE r.r_name = 'ASIA' AND p.p_size = 5
      |  AND CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) = (
      |    SELECT min(CAST(round(l2.l_extendedprice * 100, 0) AS BIGINT))
      |    FROM lineitem l2
      |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
      |    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
      |    WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'ASIA')""".stripMargin

  /** Mirrors SubqueryOps.q15TopSupplier: integer hundredths-of-cents
    * revenue makes the `= max(...)` equality exact and tie-complete in
    * both engines. */
  val q15TopSupplier: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
      |      AS BIGINT) AS rev_i
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name,
      |  round((CAST(r.rev_i AS DOUBLE) / 10000) * 100, 0) / 100.0
      |    AS total_revenue
      |FROM supplier s
      |JOIN revenue r ON s.s_suppkey = r.supplier_no
      |WHERE r.rev_i = (SELECT max(rev_i) FROM revenue)""".stripMargin

  /** Mirrors JoinOps.q13OrderDistribution: the disqualifying predicate
    * rides the LEFT JOIN condition so zero-order customers survive into
    * the histogram; count(o_orderkey) counts matched rows only. */
  val q13OrderDistribution: String =
    """WITH pc AS (
      |  SELECT c.c_custkey,
      |    CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      |  FROM customer c
      |  LEFT JOIN orders o
      |    ON c.c_custkey = o.o_custkey
      |      AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY c.c_custkey)
      |SELECT c_count, CAST(count(1) AS BIGINT) AS custdist
      |FROM pc GROUP BY c_count""".stripMargin

  /** Mirrors JoinOps.q8MarketShare: identical integer volume tree and
    * the same one-aggregate conditional-sum share; HUGEINT sums cast
    * to BIGINT before the double division so both engines divide the
    * same 64-bit values. */
  val q8MarketShare: String =
    """WITH vol AS (
      |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      |    n2.n_name AS supp_nation,
      |    CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)) AS vol_i
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |    AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o.o_orderdate < TIMESTAMP '1997-01-01'
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n1.n_regionkey
      |    AND r.r_name = 'ASIA'
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey)
      |SELECT o_year,
      |  round((CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
      |      THEN vol_i ELSE 0 END) AS BIGINT) AS DOUBLE) /
      |    CAST(SUM(vol_i) AS BIGINT)) * 1000000, 0) / 1000000.0
      |    AS mkt_share,
      |  round((CAST(CAST(SUM(vol_i) AS BIGINT) AS DOUBLE) / 10000)
      |    * 100, 0) / 100.0 AS total_volume
      |FROM vol GROUP BY o_year""".stripMargin

  val runningCustomerSpend: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |),
      |r AS (
      |  SELECT o_custkey, o_orderkey, orderdate,
      |    SUM(price_c) OVER (PARTITION BY o_custkey
      |      ORDER BY orderdate, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_c
      |  FROM o
      |)
      |SELECT o_custkey, o_orderkey, orderdate,
      |  round((running_c::DOUBLE / 100) * 100, 0) / 100.0 AS running_spend
      |FROM r""".stripMargin

  val percentileSpend: String =
    """WITH o AS (
      |  SELECT o_orderpriority,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |),
      |agg AS (
      |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS orders,
      |    quantile_cont(price_c, 0.5) AS median_price_c,
      |    quantile_cont(price_c, 0.9) AS p90_price_c
      |  FROM o GROUP BY 1
      |)
      |SELECT o_orderpriority, orders,
      |  round((median_price_c / 100) * 100, 0) / 100.0 AS median_price,
      |  round((p90_price_c / 100) * 100, 0) / 100.0 AS p90_price
      |FROM agg""".stripMargin

  val rollupPricing: String =
    """WITH li AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(round(l_quantity, 0) AS BIGINT) AS qty_l,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_i
      |  FROM lineitem
      |),
      |agg AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(SUM(qty_l) AS BIGINT) AS sum_qty,
      |    CAST(SUM(rev_i) AS BIGINT) AS rev_i_sum
      |  FROM li GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |)
      |SELECT l_returnflag, l_linestatus, n_items, sum_qty,
      |  round((rev_i_sum::DOUBLE / 10000) * 100, 0) / 100.0 AS revenue
      |FROM agg""".stripMargin

  /** Mirrors TableStats.tableFileStats against the REAL filesystem:
    * DuckDB's read_blob sizes each harness table file independently of
    * the engine's Hadoop listing (dir interpolated from
    * TableStats.lastDir after the query runs — the Bpe stash
    * convention). Harness tables are single parquet files; the
    * engine's directory-walking generality is spec territory
    * (CompactionSpec / PipelineSpec), not oracle territory. */
  def tableFileStats(dir: String): String =
    graft.runtime.TableStats.Tables.map { t =>
      s"""SELECT '$t' AS table_name, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(coalesce(sum(size), 0) AS BIGINT) AS total_bytes
         |FROM read_blob('$dir/$t.parquet')""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirrors skipscan_orders_date: the SAME range predicate over the
    * FULL orders table — the engine side answers it from the zone-map
    * pruned file set, so a hash match proves file-level skipping is
    * exact (no boundary row lost, none duplicated). Integer cents (the
    * [[graft.tpch.CoreOps]] rule) keep the sum engine-exact. */
  val skipscanOrdersDate: String =
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_price_cents
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate <= TIMESTAMP '1997-06-30'
      |GROUP BY 1""".stripMargin

  /** Mirrors skipscan_events_zorder: the same user range over the RAW
    * events table — the engine side answers it from the Z-clustered
    * layout's zone map (files pruned on the user_id envelope alone),
    * so a hash match proves multi-dimensional skipping is exact. */
  val skipscanEventsZorder: String =
    """SELECT user_id,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_value_cents
      |FROM events
      |WHERE user_id >= 3 AND user_id <= 7
      |GROUP BY 1""".stripMargin

  /** Mirrors skipscan_orders_partitioned: the same custkey range over
    * the RAW orders table, grouped by order year — the engine side
    * serves it from a hive-partitioned layout whose per-leaf zone maps
    * are maintained BY the warehouse writers (one year rewritten
    * through MergeUpsert after enablement), so a hash match proves the
    * composed partition-cut × file-cut pruning loses and duplicates
    * nothing across rewrites. */
  val skipscanOrdersPartitioned: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
      |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM orders
      |WHERE o_custkey >= 1 AND o_custkey <= 150
      |GROUP BY 1""".stripMargin

  /** Mirrors keyindex_user_batches: each probed user's distinct daily
    * batch footprint recomputed from the RAW events table — the engine
    * side answers it from the md5-bucketed KeyIndex without touching
    * the table, so a hash match proves the index is a complete and
    * exact footprint map (build missed no batch, lookup fabricated
    * none, retry duplication collapsed). */
  val keyindexUserBatches: String =
    """SELECT user_id,
      |  CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS batch_id
      |FROM events
      |WHERE user_id IN (1, 2, 3)
      |GROUP BY 1, 2""".stripMargin

  /** Mirrors Bpe.encodeStats GIVEN a learned merge table (interpolated
    * from graft.text.Bpe.lastLearned after the query trains — Verify
    * emits oracle_sql.json only after every query has run; training is
    * a driver-side iterative loop no single SQL statement expresses,
    * and the table itself is pinned by BpeSpec's independent trainer).
    *
    * The replay applies merges in RANK ORDER as nested `replace()`
    * calls over a delimited symbol string — each symbol is wrapped
    * chr(31)…chr(30) (neither byte occurs in any corpus word, and the
    * two-sided wrapping means adjacent matches share no characters, so
    * SQL replace's leftmost-non-overlapping scan is exactly Bpe's
    * left-to-right merge). Rank-order replay equals the expression's
    * lowest-rank-greedy loop because a merge's components always carry
    * strictly lower ranks than any pair they enable (BpeSpec proves
    * expr == replay on real docs). Token count per word = number of
    * symbol end-marks; words past MaxWordLen skip merging (len+1
    * tokens), as in training. */
  def bpeEncode(merges: Seq[(String, String)]): String = {
    // The replay's symbol delimiters are chr(31)/chr(30); a corpus
    // whose learned symbols CONTAINED those bytes would alias the
    // delimiting and the oracle would replay a different merge — fail
    // loud here instead of hash-mismatching mysteriously (the
    // PlantOffset-guard convention).
    require(merges.forall { case (l, r) =>
      !(l + r).exists(c => c == 31.toChar || c == 30.toChar) },
      "BPE merge symbols contain the oracle's delimiter bytes")
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    def sym(s: String) = s"chr(31) || ${lit(s)} || chr(30)"
    val syms0 = "regexp_replace(word, '(.)', " +
      "chr(31) || '\\1' || chr(30), 'g') || " +
      sym(graft.text.Bpe.EndMark)
    val folded = merges.foldLeft(syms0) { case (acc, (l, r)) =>
      s"replace($acc, ${sym(l)} || ${sym(r)}, ${sym(l + r)})"
    }
    ws(s"""WITH dw AS (
      |  SELECT doc_id, lower(trim(text)) AS norm FROM documents
      |),
      |words AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(norm, '<WS>+'),
      |      t -> t <> '')) AS word
      |  FROM dw
      |),
      |uw AS (SELECT DISTINCT word FROM words),
      |enc AS (
      |  SELECT word,
      |    CASE WHEN length(word) > ${graft.text.Bpe.MaxWordLen}
      |      THEN length(word) + 1
      |      ELSE length(s) - length(replace(s, chr(30), '')) END
      |      AS w_tokens
      |  FROM (SELECT word, $folded AS s FROM uw)
      |),
      |agg AS (
      |  SELECT w.doc_id, CAST(count(1) AS BIGINT) AS n_words,
      |    CAST(sum(e.w_tokens) AS BIGINT) AS n_tokens
      |  FROM words w JOIN enc e USING (word) GROUP BY 1
      |)
      |SELECT d.doc_id,
      |  coalesce(a.n_words, 0) AS n_words,
      |  CAST(length(d.norm) AS BIGINT) AS n_chars,
      |  coalesce(a.n_tokens, 0) AS n_tokens,
      |  CASE WHEN coalesce(a.n_tokens, 0) > 0
      |    THEN round((CAST(length(d.norm) AS BIGINT)::DOUBLE
      |      / a.n_tokens) * 10000, 0) / 10000.0
      |    ELSE 0.0 END AS chars_per_token
      |FROM dw d LEFT JOIN agg a USING (doc_id)""".stripMargin)
  }

  val textStats: String =
    ws("""WITH s1 AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    CAST(length(text) AS INT) AS n_chars_actual,
      |    CASE WHEN trim(text) = '' THEN CAST(0 AS INT)
      |      ELSE CAST(len(string_split_regex(trim(text), '<WS>+')) AS INT)
      |      END AS n_tokens,
      |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INT)
      |      AS punct_chars,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INT)
      |      AS digit_chars,
      |    CAST(length(regexp_replace(text, '<WS>', '', 'g')) AS INT)
      |      AS nonws_chars,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '<WS>+'),
      |      t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS INT)
      |      AS stopword_count
      |  FROM documents
      |)
      |SELECT doc_id, lang, source, n_chars, n_chars_actual, n_tokens,
      |  CASE WHEN n_chars_actual > 0
      |    THEN round((punct_chars::DOUBLE / n_chars_actual) * 10000, 0)
      |      / 10000.0 ELSE 0.0 END AS punct_ratio,
      |  CASE WHEN n_chars_actual > 0
      |    THEN round((digit_chars::DOUBLE / n_chars_actual) * 10000, 0)
      |      / 10000.0 ELSE 0.0 END AS digit_ratio,
      |  CASE WHEN n_tokens > 0
      |    THEN round((nonws_chars::DOUBLE / n_tokens) * 100, 0) / 100.0
      |    ELSE 0.0 END AS avg_token_len,
      |  stopword_count,
      |  CASE WHEN n_tokens > 0
      |    THEN round((stopword_count::DOUBLE / n_tokens) * 10000, 0) / 10000.0
      |    ELSE 0.0 END AS stopword_ratio
      |FROM s1""".stripMargin)

  def qualityFilter: String =
    s"""SELECT doc_id, lang, source, n_tokens, avg_token_len, stopword_ratio
       |FROM ($textStats)
       |WHERE n_tokens >= 20 AND n_tokens <= 5000
       |  AND punct_ratio <= 0.05 AND digit_ratio <= 0.2
       |  AND avg_token_len >= 2.0 AND avg_token_len <= 12.0""".stripMargin

  val langId: String =
    """WITH d AS (
      |  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS lower_text
      |  FROM documents
      |),
      |p AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN lower_text LIKE '% the %' OR lower_text LIKE '% of %'
      |      THEN 'en'
      |      WHEN lower_text LIKE '% der %' OR lower_text LIKE '% und %'
      |      THEN 'de'
      |      WHEN lower_text LIKE '% le %' OR lower_text LIKE '% et %'
      |      THEN 'fr'
      |      WHEN lower_text LIKE '% el %' OR lower_text LIKE '% y %'
      |      THEN 'es'
      |      ELSE 'unknown' END AS predicted_lang
      |  FROM d
      |)
      |SELECT doc_id, lang, predicted_lang,
      |  CAST(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END AS INT)
      |    AS lang_match
      |FROM p""".stripMargin

  val fingerprint: String =
    ws("""SELECT doc_id,
      |  md5(lower(regexp_replace(text, '<WS>+', ' ', 'g'))) AS fp
      |FROM documents""".stripMargin)

  val dedupExact: String =
    ws("""WITH f AS (
      |  SELECT doc_id,
      |    md5(lower(regexp_replace(text, '<WS>+', ' ', 'g'))) AS fp
      |  FROM documents
      |)
      |SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
      |  CAST(count(*) AS BIGINT) AS dup_count
      |FROM f GROUP BY fp""".stripMargin)

  /** Mirrors IncrementalDedup.query: md5-bucket 80/20 corpus/delta
    * split (the hashSplit scheme), exact trigram Jaccard over the FULL
    * delta × corpus cross join ≥ 0.8. The engine's asymmetric prefix
    * candidate join is complete under the frozen corpus token order, so
    * its pruned plan must equal this exhaustive one cell-for-cell. */
  val incrementalDedup: String =
    ws("""WITH d AS (
      |  SELECT doc_id,
      |    lower(regexp_replace(text, '<WS>+', ' ', 'g')) AS norm,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 10 AS INT) AS bucket
      |  FROM documents
      |),
      |tg AS (
      |  SELECT doc_id, bucket,
      |    CASE WHEN length(norm) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, CAST(length(norm) AS INT) - 1),
      |        i -> substr(norm, CAST(i AS INT), 3)))
      |    ELSE CAST([] AS VARCHAR[]) END AS tg
      |  FROM d
      |),
      |pairs AS (
      |  SELECT x.doc_id AS doc_id, c.doc_id AS dup_of,
      |    CAST(len(list_intersect(x.tg, c.tg)) AS BIGINT) AS inter,
      |    CAST(len(list_distinct(list_concat(x.tg, c.tg))) AS BIGINT)
      |      AS uni
      |  FROM tg x JOIN tg c ON x.bucket >= 8 AND c.bucket < 8
      |),
      |j AS (
      |  SELECT doc_id, dup_of,
      |    CASE WHEN uni > 0
      |      THEN round((inter::DOUBLE / uni) * 10000, 0) / 10000.0
      |      ELSE 0.0 END AS jaccard
      |  FROM pairs
      |)
      |SELECT doc_id, dup_of, jaccard FROM j
      |WHERE jaccard >= 0.8""".stripMargin)

  val ngramJaccard: String =
    ws("""WITH d AS (
      |  SELECT doc_id, lang, source,
      |    lower(regexp_replace(text, '<WS>+', ' ', 'g')) AS norm
      |  FROM documents
      |),
      |tg AS (
      |  SELECT doc_id, lang, source,
      |    CASE WHEN length(norm) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, CAST(length(norm) AS INT) - 1),
      |        i -> substr(norm, CAST(i AS INT), 3)))
      |    ELSE CAST([] AS VARCHAR[]) END AS tg
      |  FROM d
      |),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.tg, b.tg)) AS BIGINT) AS inter,
      |    CAST(len(list_distinct(list_concat(a.tg, b.tg))) AS BIGINT) AS uni
      |  FROM tg a JOIN tg b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |),
      |j AS (
      |  SELECT doc_a, doc_b,
      |    CASE WHEN uni > 0
      |      THEN round((inter::DOUBLE / uni) * 10000, 0) / 10000.0
      |      ELSE 0.0 END AS jaccard
      |  FROM pairs
      |)
      |SELECT doc_a, doc_b, jaccard,
      |  CAST(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END AS INT)
      |    AS is_near_dup
      |FROM j""".stripMargin)

  /** Native DuckDB ASOF LEFT JOIN — the oracle for the union+window
    * as-of implementation in graft.ops.AsOfJoin. */
  val asOfAttribution: String =
    """WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
      |    CAST(round(value * 100, 0) AS BIGINT) AS value_cents
      |  FROM events
      |),
      |p AS (
      |  SELECT user_id, event_id AS purchase_event_id,
      |    ts_us AS purchase_ts_us, value_cents
      |  FROM e WHERE event_type = 'purchase'
      |),
      |v AS (
      |  SELECT user_id, ts_us AS last_view_ts_us,
      |    CAST(MAX(event_id) AS BIGINT) AS last_view_event_id
      |  FROM e WHERE event_type = 'view' GROUP BY 1, 2
      |)
      |SELECT p.user_id, p.purchase_event_id, p.purchase_ts_us,
      |  p.value_cents, v.last_view_event_id, v.last_view_ts_us,
      |  p.purchase_ts_us - v.last_view_ts_us AS view_to_purchase_us
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id
      |  AND p.purchase_ts_us >= v.last_view_ts_us""".stripMargin

  val cubePricing: String =
    """WITH li AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(round(l_quantity, 0) AS BIGINT) AS qty_l,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_i
      |  FROM lineitem
      |),
      |agg AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(SUM(qty_l) AS BIGINT) AS sum_qty,
      |    CAST(SUM(rev_i) AS BIGINT) AS rev_i_sum
      |  FROM li GROUP BY CUBE(l_returnflag, l_linestatus)
      |)
      |SELECT l_returnflag, l_linestatus, n_items, sum_qty,
      |  round((rev_i_sum::DOUBLE / 10000) * 100, 0) / 100.0 AS revenue
      |FROM agg""".stripMargin

  val pivotOrderStatus: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
      |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_orders,
      |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS partial_orders
      |FROM orders GROUP BY 1""".stripMargin

  val bandJoinOrders: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate
      |  FROM orders
      |)
      |SELECT a.o_custkey, a.o_orderkey, a.orderdate,
      |  count(b.o_orderkey) AS nearby_orders
      |FROM o a LEFT JOIN o b
      |  ON a.o_custkey = b.o_custkey
      |  AND a.o_orderkey <> b.o_orderkey
      |  AND abs(date_diff('day', b.orderdate, a.orderdate)) <= 7
      |GROUP BY 1, 2, 3""".stripMargin

  val tokenTopK: String =
    ws("""WITH toks AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '<WS>+')) AS token
      |  FROM documents
      |),
      |agg AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS n
      |  FROM toks WHERE token <> '' GROUP BY 1
      |)
      |SELECT token, n FROM agg ORDER BY n DESC, token LIMIT 100""".stripMargin)

  val tfIdfTopTerms: String =
    ws("""WITH t AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '<WS>+')) AS token
      |  FROM documents
      |),
      |tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM t WHERE token <> '' GROUP BY 1, 2
      |),
      |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
      |    CAST((tf.tf * 1000000 * n.n_docs) // dfq.df AS BIGINT) AS score_ppm
      |  FROM tf JOIN dfq USING (token) CROSS JOIN n
      |),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score_ppm DESC, token) AS INT) AS rk
      |  FROM scored
      |)
      |SELECT doc_id, token, tf, df, score_ppm, rk FROM r
      |WHERE rk <= 5""".stripMargin)

  val setOpsCustomers: String =
    """SELECT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |INTERSECT
      |SELECT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |EXCEPT
      |SELECT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin

  /** The salted two-phase aggregation must equal the plain GROUP BY. */
  val saltedSkewAgg: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_l,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Mirrors CoreOps.skewJoinHotKey: the salted join must equal the
    * plain join + aggregate — same derived hot key (-1 for even
    * partkeys) and the same synthetic hot dim row. */
  val skewJoinHotKey: String =
    """WITH fact AS (
      |  SELECT CASE WHEN l_partkey % 2 = 0 THEN -1 ELSE l_partkey END
      |      AS jk,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
      |  FROM lineitem),
      |dim AS (
      |  SELECT p_partkey AS jk, p_brand FROM part
      |  UNION ALL SELECT -1, 'HOT#00')
      |SELECT p_brand,
      |  CAST(sum(cents) AS BIGINT) AS revenue_cents,
      |  CAST(count(1) AS BIGINT) AS n_items
      |FROM fact JOIN dim USING (jk)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Epoch-aligned hourly buckets: DuckDB time_bucket and Spark window()
    * share the boundary definition (time_bucket's default origin is a
    * midnight, so hourly buckets are epoch-aligned in both engines). */
  /** Mirrors TimeWindows.gapfillHourly: dense platform×hour grid via
    * generate_series over the global bounds, zero-filled counts, gap
    * flag, IGNORE NULLS LOCF window. */
  val gapfillHourly: String =
    s"""WITH ${graft.oracle.Oracles.enrichedCte},
       |base AS (
       |  SELECT platform,
       |    (ts_us // 3600000000) * 3600000000 AS hour_us,
       |    CAST(count(1) AS BIGINT) AS n_events,
       |    CAST(sum(value_cents) AS BIGINT) AS sum_cents
       |  FROM enriched GROUP BY 1, 2
       |),
       |b AS (SELECT min(hour_us) AS h0, max(hour_us) AS h1 FROM base),
       |grid AS (
       |  SELECT p.platform,
       |    unnest(generate_series(b.h0, b.h1, 3600000000)) AS hour_us
       |  FROM (SELECT DISTINCT platform FROM base) p, b
       |)
       |SELECT g.platform, g.hour_us,
       |  CAST(coalesce(base.n_events, 0) AS BIGINT) AS n_events,
       |  CAST(CASE WHEN base.n_events IS NULL THEN 1 ELSE 0 END AS INT)
       |    AS is_gap,
       |  CAST(coalesce(last_value(base.sum_cents IGNORE NULLS) OVER (
       |    PARTITION BY g.platform ORDER BY g.hour_us
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
       |    AS BIGINT) AS locf_sum_cents
       |FROM grid g LEFT JOIN base
       |  ON base.platform = g.platform AND base.hour_us = g.hour_us"""
      .stripMargin

  val tumblingHourly: String =
    """SELECT
      |  epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_value_cents
      |FROM events GROUP BY 1""".stripMargin

  /** Sliding hourly windows, 30-min slide: every event belongs to the
    * two hour-long windows starting at floor_30(t) and floor_30(t) - 30
    * minutes — recomputed here with a two-way union. */
  val slidingHourly: String =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS ts_us, user_id,
      |    CAST(round(value * 100, 0) AS BIGINT) AS vc
      |  FROM events
      |),
      |w AS (
      |  SELECT (ts_us // 1800000000) * 1800000000 AS wstart, user_id, vc
      |  FROM e
      |  UNION ALL
      |  SELECT (ts_us // 1800000000) * 1800000000 - 1800000000, user_id, vc
      |  FROM e
      |)
      |SELECT CAST(wstart AS BIGINT) AS window_start_us,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(SUM(vc) AS BIGINT) AS sum_value_cents
      |FROM w GROUP BY 1""".stripMargin

  /** Deterministic 80/10/10 split by md5 bucket of the doc id. */
  val hashSplit: String =
    """WITH b AS (
      |  SELECT doc_id, lang, source,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 10 AS INT) AS bucket
      |  FROM documents
      |)
      |SELECT doc_id, lang, source, bucket,
      |  CASE WHEN bucket < 8 THEN 'train'
      |    WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split
      |FROM b""".stripMargin

  /** Mirrors Packing.packSequences (budget 2048, 8 shards): md5 shard
    * bucket, textStats whitespace tokenization, per-shard cumulative
    * start, greedy-by-start sequence assignment. */
  val packSequences: String =
    ws("""WITH t AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 8 AS INT) AS shard,
      |    CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
      |      ELSE CAST(len(string_split_regex(trim(text), '<WS>+'))
      |        AS BIGINT) END AS n_tokens
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM t
      |)
      |SELECT doc_id, shard, n_tokens,
      |  CAST(shard AS BIGINT) * 281474976710656 + (cum_before // 2048)
      |    AS seq_id,
      |  cum_before % 2048 AS seq_offset
      |FROM c""".stripMargin)

  /** Mirrors Packing.packManifest: group the packSequences assignment
    * by seq_id; spans CSV ordered by (offset, doc_id); window coverage
    * arithmetic in BIGINT with an explicit cast back from DuckDB's
    * HUGEINT sum. fill_ratio is BIGINT/BIGINT `/` (double on both
    * engines; budget is a power of two so the quotient is exact). */
  val packManifest: String =
    ws("""WITH t AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 8 AS INT) AS shard,
      |    CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
      |      ELSE CAST(len(string_split_regex(trim(text), '<WS>+'))
      |        AS BIGINT) END AS n_tokens
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM t
      |),
      |a AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(shard AS BIGINT) * 281474976710656 + (cum_before // 2048)
      |      AS seq_id,
      |    cum_before % 2048 AS seq_offset
      |  FROM c
      |)
      |SELECT seq_id,
      |  CAST(seq_id // 281474976710656 AS INT) AS shard,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(greatest(max(seq_offset + n_tokens) - 2048, 0) AS BIGINT)
      |    AS overflow_tokens,
      |  least(max(seq_offset + n_tokens), 2048) / 2048 AS fill_ratio,
      |  string_agg(doc_id || '@' || seq_offset || '+' || n_tokens, ','
      |    ORDER BY seq_offset, doc_id) AS doc_spans
      |FROM a GROUP BY seq_id""".stripMargin)

  /** Mirrors Packing.packChunks: the chunkDocuments geometry (512/64 →
    * stride 448), chunk bodies tokenized with the corpus tokenizer,
    * packed per doc-md5 shard ordered by (doc_id, chunk_idx). */
  val packChunks: String =
    ws("""WITH s1 AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(text) >= 1
      |      THEN range(1,
      |        greatest(CAST(length(text) AS BIGINT) - 64, 1) + 1, 448)
      |      ELSE CAST([] AS BIGINT[]) END AS starts
      |  FROM documents
      |),
      |e AS (
      |  SELECT doc_id, text, CAST(unnest(starts) AS BIGINT) AS cs
      |  FROM s1
      |),
      |ch AS (
      |  SELECT doc_id,
      |    CAST((cs - 1) // 448 AS INT) AS chunk_idx,
      |    substr(text, CAST(cs AS INT), 512) AS chunk_text
      |  FROM e
      |),
      |t AS (
      |  SELECT doc_id, chunk_idx,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 8 AS INT) AS shard,
      |    CASE WHEN trim(chunk_text) = '' THEN CAST(0 AS BIGINT)
      |      ELSE CAST(len(string_split_regex(trim(chunk_text), '<WS>+'))
      |        AS BIGINT) END AS n_tokens
      |  FROM ch
      |),
      |c AS (
      |  SELECT doc_id, chunk_idx, shard, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
      |      ORDER BY doc_id, chunk_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM t
      |)
      |SELECT doc_id, chunk_idx, shard, n_tokens,
      |  CAST(shard AS BIGINT) * 281474976710656 + (cum_before // 2048)
      |    AS seq_id,
      |  cum_before % 2048 AS seq_offset
      |FROM c""".stripMargin)

  /** Mirrors Packing.chunkDocuments (chunk 512, overlap 64 → stride
    * 448): 1-based starts every stride chars up to len − overlap (a
    * later window would be wholly inside the previous chunk), md5
    * digests of the substrings. chunk_idx recomputed as
    * (start−1)//stride — identical to Spark's posexplode position. */
  val chunkDocuments: String =
    """WITH s1 AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(text) >= 1
      |      THEN range(1,
      |        greatest(CAST(length(text) AS BIGINT) - 64, 1) + 1, 448)
      |      ELSE CAST([] AS BIGINT[]) END AS starts
      |  FROM documents
      |),
      |e AS (
      |  SELECT doc_id, text, CAST(unnest(starts) AS BIGINT) AS cs
      |  FROM s1
      |)
      |SELECT doc_id,
      |  CAST((cs - 1) // 448 AS INT) AS chunk_idx,
      |  CAST(cs AS INT) AS chunk_start,
      |  CAST(length(substr(text, CAST(cs AS INT), 512)) AS INT)
      |    AS chunk_len,
      |  md5(substr(text, CAST(cs AS INT), 512)) AS chunk_md5
      |FROM e""".stripMargin

  /** All-pairs simhash Hamming distance <= 7 — recomputes the md5-derived
    * 60-bit simhash from scratch and brute-forces every pair, which the
    * Spark side's 8×8-bit chunk blocking must reproduce exactly
    * (pigeonhole completeness, SimHashDedup). Token-less documents get
    * simhash 0 via the left join, matching the Spark fold over an empty
    * array. */
  val simhashPairs: String =
    ws("""WITH d AS (
      |  SELECT doc_id, lower(regexp_replace(text, '<WS>+', ' ', 'g')) AS norm
      |  FROM documents
      |),
      |t AS (
      |  SELECT doc_id, unnest(CASE WHEN trim(norm) = ''
      |    THEN CAST([] AS VARCHAR[])
      |    ELSE string_split(trim(norm), ' ') END) AS tok
      |  FROM d
      |),
      |h AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th
      |  FROM t
      |),
      |bits AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN (th >> CAST(b AS INT)) & 1 = 1
      |      THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN range(60) r(b) GROUP BY 1, 2
      |),
      |sh0 AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT))
      |      ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY 1
      |),
      |sh AS (
      |  SELECT d.doc_id, coalesce(sh0.simhash, 0) AS simhash
      |  FROM d LEFT JOIN sh0 USING (doc_id)
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 7""".stripMargin)

  /** Exact near-duplicate clusters: connected components of the all-pairs
    * "trigram Jaccard >= 0.6" graph, canonical = component-minimum doc_id.
    * The recursive CTE propagates every smaller label along edges to a
    * fixpoint; MIN over the closure is the component minimum. Mirrors
    * MinHashDedup.clusters, whose LSH candidate + exact-confirm +
    * connected-components path must reproduce the exact graph's
    * components. */
  val minhashClusters: String =
    ws("""WITH RECURSIVE d AS (
      |  SELECT doc_id, lower(regexp_replace(text, '<WS>+', ' ', 'g')) AS norm
      |  FROM documents
      |),
      |tg AS (
      |  SELECT doc_id,
      |    CASE WHEN length(norm) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, CAST(length(norm) AS INT) - 1),
      |        i -> substr(norm, CAST(i AS INT), 3)))
      |    ELSE CAST([] AS VARCHAR[]) END AS tg
      |  FROM d
      |),
      |sized AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.tg, b.tg)) AS BIGINT) AS inter,
      |    CAST(len(list_distinct(list_concat(a.tg, b.tg))) AS BIGINT) AS uni
      |  FROM tg a JOIN tg b ON a.doc_id < b.doc_id
      |),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM sized
      |  WHERE CASE WHEN uni > 0
      |    THEN round((inter::DOUBLE / uni) * 10000, 0) / 10000.0
      |    ELSE 0.0 END >= 0.6
      |),
      |e AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |),
      |reach AS (
      |  SELECT doc_id, doc_id AS lbl FROM tg
      |  UNION
      |  SELECT e.dst AS doc_id, reach.lbl
      |  FROM reach JOIN e ON e.src = reach.doc_id
      |  WHERE reach.lbl < e.dst
      |)
      |SELECT doc_id, CAST(MIN(lbl) AS BIGINT) AS canonical_id
      |FROM reach GROUP BY doc_id""".stripMargin)

  /** Mirrors MultimodalOps.mediaTable → decodeFeatures → featureStats.
    * The corpus is pure ASCII, so UTF-8 payload byte sums equal codepoint
    * sums (verified: char length == byte length for every document). */
  val multimodalFeatures: String =
    """WITH m AS (
      |  SELECT
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |      WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |    CAST(length(text) AS BIGINT) AS n_bytes,
      |    CAST(coalesce(list_sum(list_transform(
      |      range(1, CAST(length(text) AS INT) + 1),
      |      i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT)
      |      AS byte_sum
      |  FROM documents
      |),
      |agg AS (
      |  SELECT media_type, CAST(count(*) AS BIGINT) AS n_media,
      |    CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
      |    CAST(SUM(byte_sum) AS BIGINT) AS byte_sum_total
      |  FROM m GROUP BY 1
      |)
      |SELECT media_type, n_media, total_bytes,
      |  round((byte_sum_total::DOUBLE / total_bytes) * 100, 0) / 100.0
      |    AS avg_byte
      |FROM agg""".stripMargin

  val cosineNearDup: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |),
      |n0 AS (
      |  SELECT vec_id, q,
      |    CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nn
      |  FROM e
      |),
      |n AS (SELECT * FROM n0 WHERE nn > 0),
      |pairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    CAST(list_sum(list_transform(list_zip(a.q, b.q),
      |      s -> s[1] * s[2])) AS BIGINT) AS dot,
      |    a.nn AS qn, b.nn AS cn
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id
      |),
      |scored AS (
      |  SELECT vec_a, vec_b,
      |    round((dot::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(cn::DOUBLE)))
      |      * 1000000, 0) / 1000000.0 AS cosine
      |  FROM pairs
      |)
      |SELECT vec_a, vec_b, cosine FROM scored
      |WHERE cosine >= 0.4""".stripMargin

  /** Mirrors TextOps.tfIdfRetrieve: capped rational idf weights,
    * stopword-pruned postings join, integer dot products, top-k. */
  val tfIdfRetrieve: String =
    ws("""WITH d AS (
      |  SELECT doc_id, list_filter(string_split_regex(
      |    lower(trim(text)), '<WS>+'), x -> x <> '') AS toks
      |  FROM documents
      |),
      |t AS (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
      |    list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
      |      i -> array_to_string(list_slice(toks, CAST(i AS INT),
      |        CAST(i AS INT) + 2), ' '))
      |    ELSE CAST([] AS VARCHAR[]) END) AS token
      |  FROM d
      |),
      |tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM t GROUP BY 1, 2
      |),
      |dfq AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |w AS (
      |  SELECT doc_id, token,
      |    least((tf * 100 * n_docs) // df, 100000000) AS w
      |  FROM tf JOIN dfq USING (token), n
      |  WHERE df * 2 <= n_docs
      |),
      |s AS (
      |  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
      |    CAST(sum(a.w * b.w) AS BIGINT) AS score
      |  FROM w a JOIN w b USING (token)
      |  WHERE a.doc_id < 10 AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2
      |),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, neighbor_id) AS rn
      |  FROM s
      |)
      |SELECT query_id, neighbor_id, score, CAST(rn AS INT) AS rank
      |FROM r WHERE rn <= 5""".stripMargin)

  /** Mirrors RandomProjection.project: the md5-parity ±1 matrix is
    * regenerated in SQL and the integer dot products replayed. */
  val randomProjection: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |),
      |grid AS (
      |  SELECT i, j,
      |    CASE WHEN strpos('02468ace',
      |      substr(md5('rp_' || i || '_' || j), 1, 1)) > 0
      |    THEN 1 ELSE -1 END AS s
      |  FROM range(0, 16) t1(i), range(0, 64) t2(j)
      |),
      |qv AS (
      |  SELECT vec_id, j, q[CAST(j AS INT) + 1] AS qv
      |  FROM e, range(0, 64) t(j)
      |)
      |SELECT vec_id, CAST(i AS INT) AS out_dim,
      |  CAST(sum(qv * s) AS BIGINT) AS p
      |FROM qv JOIN grid USING (j)
      |GROUP BY 1, 2""".stripMargin

  /** Mirrors KnnEval.labelAccuracy: all-pairs quantized cosine, per-
    * vector argmax (cosine desc, neighbor asc), per-label accuracy. */
  val knnLabelAccuracy: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |),
      |n0 AS (
      |  SELECT vec_id, label, q,
      |    CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nn
      |  FROM e
      |),
      |n AS (SELECT * FROM n0 WHERE nn > 0),
      |scored AS (
      |  SELECT a.vec_id AS vec, a.label AS label, b.vec_id AS neighbor,
      |    b.label AS nn_label,
      |    round((CAST(list_sum(list_transform(list_zip(a.q, b.q),
      |        s -> s[1] * s[2])) AS DOUBLE)
      |      / (sqrt(a.nn::DOUBLE) * sqrt(b.nn::DOUBLE)))
      |      * 1000000, 0) / 1000000.0 AS cosine
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
      |),
      |nn1 AS (
      |  SELECT vec, label, nn_label,
      |    row_number() OVER (PARTITION BY vec
      |      ORDER BY cosine DESC, neighbor) AS rn
      |  FROM scored
      |)
      |SELECT label,
      |  CAST(count(1) AS BIGINT) AS n_vectors,
      |  CAST(sum(CASE WHEN nn_label = label THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  round((CAST(sum(CASE WHEN nn_label = label THEN 1 ELSE 0 END)
      |      AS DOUBLE) / count(1)) * 10000, 0) / 10000.0 AS accuracy
      |FROM nn1 WHERE rn = 1
      |GROUP BY label""".stripMargin

  /** Mirrors Similarity.cosineNearDupT85: the same all-pairs scoring over
    * the corpus unioned with its exactly-doubled planted copies
    * (vec_id + 1000000, q′ = 2q, n′ = 4n — integer-exact in both
    * engines). */
  val cosineNearDupT85: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |),
      |n0 AS (
      |  SELECT vec_id, q,
      |    CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nn
      |  FROM e
      |),
      |nz AS (SELECT * FROM n0 WHERE nn > 0),
      |u AS (
      |  SELECT vec_id, q, nn FROM nz
      |  UNION ALL
      |  SELECT vec_id + 1000000, list_transform(q, v -> v * 2),
      |    nn * 4 FROM nz
      |),
      |pairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    CAST(list_sum(list_transform(list_zip(a.q, b.q),
      |      s -> s[1] * s[2])) AS BIGINT) AS dot,
      |    a.nn AS qn, b.nn AS cn
      |  FROM u a JOIN u b ON a.vec_id < b.vec_id
      |),
      |scored AS (
      |  SELECT vec_a, vec_b,
      |    round((dot::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(cn::DOUBLE)))
      |      * 1000000, 0) / 1000000.0 AS cosine
      |  FROM pairs
      |)
      |SELECT vec_a, vec_b, cosine FROM scored
      |WHERE cosine >= 0.85""".stripMargin

  val cosineTopK: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |),
      |n0 AS (
      |  SELECT vec_id, q,
      |    CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nn
      |  FROM e
      |),
      |n AS (SELECT * FROM n0 WHERE nn > 0),
      |pairs AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(a.q, b.q),
      |      s -> s[1] * s[2])) AS BIGINT) AS dot,
      |    a.nn AS qn, b.nn AS cn
      |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 10
      |),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    round((dot::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(cn::DOUBLE)))
      |      * 1000000, 0) / 1000000.0 AS cosine
      |  FROM pairs
      |),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT)
      |    AS "rank"
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, cosine, "rank" FROM r
      |WHERE "rank" <= 5""".stripMargin

  /** Mirrors TextOps.regexTokens — same pattern, same leftmost-longest
    * matching in both regex engines on these disjoint alternatives. The
    * whitespace class is explicit (no `\s`): Java's \s includes \x0B,
    * RE2's does not, and both engines must share one definition. */
  val regexTokens: String =
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |    regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r\x0B]') AS toks
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, lang, source,
      |    CAST(len(toks) AS INT) AS n_bpe_tokens,
      |    CAST(len(list_filter(toks,
      |      t -> regexp_matches(t, '^[a-z]+$'))) AS INT) AS n_word_tokens,
      |    CAST(len(list_filter(toks,
      |      t -> regexp_matches(t, '^[0-9]+$'))) AS INT) AS n_num_tokens,
      |    CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens
      |  FROM t
      |)
      |SELECT doc_id, lang, source, n_bpe_tokens, n_word_tokens,
      |  n_num_tokens,
      |  n_bpe_tokens - n_word_tokens - n_num_tokens AS n_punct_tokens,
      |  n_distinct_tokens
      |FROM c""".stripMargin

  /** Mirrors EventOps.jsonPropsAgg: DuckDB's JSON extension evaluates the
    * same `$.k` path; k is non-negative so `%` matches Spark's `%`. */
  val jsonPropsAgg: String =
    """SELECT event_type,
      |  CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_value_cents
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Mirrors EventOps.rolling7dSpend: RANGE frame over integer µs. */
  val rolling7dSpend: String =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CAST(round(value * 100, 0) AS BIGINT) AS value_cents
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT user_id, event_id, ts_us, value_cents,
      |  CAST(SUM(value_cents) OVER w AS BIGINT) AS spend_7d_cents,
      |  CAST(count(*) OVER w AS BIGINT) AS n_purchases_7d
      |FROM p
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Mirrors graft.sim.LshCosine.topK: identical hyperplane literals
    * (generated from LshCosine.signs, the shared source of truth), same
    * integer bucket packing, same exact-cosine rerank as [[cosineTopK]]. */
  lazy val lshCosineTopK: String = {
    val hpRows = (for {
      t <- 0 until graft.sim.LshCosine.Tables
      j <- 0 until graft.sim.LshCosine.BitsPerTable
    } yield {
      val lits = graft.sim.LshCosine.signs(t)(j).mkString(", ")
      s"($t, $j, [$lits])"
    }).mkString(",\n      ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |n0 AS (
       |  SELECT vec_id, q,
       |    CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nn
       |  FROM e
       |),
       |n AS (SELECT * FROM n0 WHERE nn > 0),
       |hp AS (
       |  SELECT * FROM (VALUES
       |      $hpRows
       |  ) AS t(tbl, bit, s)
       |),
       |bits AS (
       |  SELECT n.vec_id, hp.tbl,
       |    CAST(SUM(CASE WHEN CAST(list_sum(list_transform(
       |        list_zip(n.q, hp.s), z -> z[1] * z[2])) AS BIGINT) >= 0
       |      THEN (1 << hp.bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n CROSS JOIN hp
       |  GROUP BY n.vec_id, hp.tbl
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM bits a JOIN bits b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10
       |),
       |pairs AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(qs.q, ns.q),
       |      z -> z[1] * z[2])) AS BIGINT) AS dot,
       |    qs.nn AS qn, ns.nn AS cn
       |  FROM cand c
       |  JOIN n qs ON qs.vec_id = c.query_id
       |  JOIN n ns ON ns.vec_id = c.neighbor_id
       |),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    round((dot::DOUBLE / (sqrt(qn::DOUBLE) * sqrt(cn::DOUBLE)))
       |      * 1000000, 0) / 1000000.0 AS cosine
       |  FROM pairs
       |),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT)
       |    AS "rank"
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cosine, "rank" FROM r
       |WHERE "rank" <= 5""".stripMargin
  }

  /** Mirrors EventOps.approxDistinctUsers: the raw HLL estimate is not
    * reproducible outside Spark, so the query's contract column
    * `within_pct` (estimate within 5% of exact) is expected literally
    * TRUE per group — the oracle verifies the full row shape, the group
    * counts, the exact distinct, and the error contract; only the
    * unportable estimate value itself stays un-compared. */
  val approxDistinctUsers: String =
    """SELECT event_type,
      |  CAST(count(1) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS within_pct
      |FROM events
      |GROUP BY event_type""".stripMargin

  /** Mirrors EventOps.sketchHllWau: the exact DAU/WAU twins are fully
    * verified (the dauWau computation); the HLL-union estimates are
    * engine-specific, so their 5% contract columns are expected
    * literally TRUE per day (the approxDistinctUsers convention). */
  val sketchHllWau: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |),
      |dau AS (
      |  SELECT day, CAST(count(1) AS BIGINT) AS dau_exact
      |  FROM a GROUP BY day
      |),
      |c AS (
      |  SELECT DISTINCT user_id, day + CAST(i AS INT) AS day
      |  FROM a, range(0, 7) r(i)
      |),
      |wau AS (
      |  SELECT day, CAST(count(1) AS BIGINT) AS wau_exact
      |  FROM c GROUP BY day
      |)
      |SELECT day, dau_exact, wau_exact,
      |  TRUE AS dau_within, TRUE AS wau_within
      |FROM dau JOIN wau USING (day)""".stripMargin

  /** Mirrors EventOps.sketchMauStored: the exact 30-day MAU twin and
    * the per-window sketch-row count (`n_days` — one stored sketch row
    * per active day, fanned forward over the 30 target windows) are
    * fully verified; the stored-sketch estimate is engine-specific, so
    * its 5% contract column is expected literally TRUE per day. */
  val sketchMauStored: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |),
      |c AS (
      |  SELECT DISTINCT user_id, day + CAST(i AS INT) AS day
      |  FROM a, range(0, 30) r(i)
      |),
      |mau AS (
      |  SELECT day, CAST(count(1) AS BIGINT) AS mau_exact
      |  FROM c GROUP BY day
      |),
      |d AS (SELECT DISTINCT day FROM a),
      |w AS (
      |  SELECT day + CAST(i AS INT) AS day FROM d, range(0, 30) r(i)
      |),
      |nd AS (
      |  SELECT day, CAST(count(1) AS BIGINT) AS n_days FROM w GROUP BY day
      |)
      |SELECT day, mau_exact, n_days, TRUE AS mau_within
      |FROM mau JOIN nd USING (day)""".stripMargin

  /** Mirrors EventOps.sessionizeGap: gaps-and-islands with the same
    * (ts_us, event_id) total ordering and >= 30-minute boundary. */
  val sessionizeGap: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |    CAST(round(value * 100, 0) AS BIGINT) AS value_cents
      |  FROM events
      |),
      |f AS (
      |  SELECT *, lag(ts_us) OVER w AS prev_ts_us FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |),
      |g AS (
      |  SELECT *, CASE WHEN prev_ts_us IS NULL
      |      OR ts_us - prev_ts_us >= 1800000000 THEN 1 ELSE 0 END
      |    AS new_session
      |  FROM f
      |),
      |h AS (
      |  SELECT *, CAST(sum(new_session) OVER (
      |      PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_idx
      |  FROM g
      |)
      |SELECT user_id, session_idx,
      |  CAST(count(1) AS BIGINT) AS n_events,
      |  min(ts_us) AS start_ts_us,
      |  max(ts_us) AS end_ts_us,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
      |  CAST(sum(value_cents) AS BIGINT) AS sum_value_cents,
      |  max(ts_us) - min(ts_us) AS duration_us
      |FROM h
      |GROUP BY user_id, session_idx""".stripMargin

  /** Mirrors EventOps.funnelTransitions: lag window, same-session gap
    * filter, (from, to) aggregate; mean gap is integer sums → one IEEE
    * division rounded by the portable scale-0 rule. */
  val funnelTransitions: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events
      |),
      |f AS (
      |  SELECT *, lag(ts_us) OVER w AS prev_ts_us,
      |    lag(event_type) OVER w AS from_type
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |),
      |t AS (
      |  SELECT from_type, event_type AS to_type, user_id,
      |    ts_us - prev_ts_us AS gap_us
      |  FROM f
      |  WHERE prev_ts_us IS NOT NULL
      |    AND ts_us - prev_ts_us < 1800000000
      |)
      |SELECT from_type, to_type,
      |  CAST(count(1) AS BIGINT) AS n_transitions,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
      |  round((CAST(sum(gap_us) AS DOUBLE)
      |    / (count(1) * 1000000)) * 100, 0) / 100.0 AS mean_gap_sec
      |FROM t
      |GROUP BY from_type, to_type""".stripMargin

  /** Mirrors EventOps.cooccurrenceWebtoons: (user, day) baskets,
    * in-basket pairs, marginals, exact rational lift. */
  val cooccurrenceWebtoons: String =
    s"""WITH ${graft.oracle.Oracles.enrichedCte},
       |basket AS (
       |  SELECT DISTINCT user_id, datetime, webtoon_id FROM enriched
       |),
       |nb AS (
       |  SELECT CAST(count(1) AS BIGINT) AS n_baskets
       |  FROM (SELECT DISTINCT user_id, datetime FROM basket)
       |),
       |marg AS (
       |  SELECT webtoon_id, CAST(count(1) AS BIGINT) AS n_w
       |  FROM basket GROUP BY webtoon_id
       |),
       |pairs AS (
       |  SELECT a.webtoon_id AS webtoon_a, b.webtoon_id AS webtoon_b,
       |    CAST(count(1) AS BIGINT) AS n_ab
       |  FROM basket a JOIN basket b
       |    ON a.user_id = b.user_id AND a.datetime = b.datetime
       |    AND a.webtoon_id < b.webtoon_id
       |  GROUP BY 1, 2
       |)
       |SELECT webtoon_a, webtoon_b, n_ab,
       |  ma.n_w AS n_a, mb.n_w AS n_b,
       |  round((CAST(n_ab * n_baskets AS DOUBLE) / (ma.n_w * mb.n_w))
       |    * 10000, 0) / 10000.0 AS lift
       |FROM pairs
       |JOIN marg ma ON pairs.webtoon_a = ma.webtoon_id
       |JOIN marg mb ON pairs.webtoon_b = mb.webtoon_id, nb""".stripMargin

  /** Mirrors EventOps.resampleHourlyFilled: sparse hourly aggregate,
    * generated dense grid over the observed span, left join + zero
    * fill. */
  val resampleHourlyFilled: String =
    """WITH h AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2
      |),
      |span AS (SELECT min(hour_idx) AS lo, max(hour_idx) AS hi FROM h),
      |grid AS (
      |  SELECT t.event_type, CAST(g.hour_idx AS BIGINT) AS hour_idx
      |  FROM (SELECT DISTINCT event_type FROM h) t,
      |    (SELECT unnest(range(lo, hi + 1)) AS hour_idx FROM span) g
      |)
      |SELECT grid.event_type,
      |  grid.hour_idx * 3600000000 AS window_start_us,
      |  coalesce(h.n_events, 0) AS n_events,
      |  CAST(CASE WHEN coalesce(h.n_events, 0) = 0 THEN 1 ELSE 0 END
      |    AS INT) AS is_gap
      |FROM grid LEFT JOIN h
      |  ON grid.event_type = h.event_type
      |  AND grid.hour_idx = h.hour_idx""".stripMargin

  /** Mirrors EventOps.scd2UserDevice: gaps-and-islands on device
    * change over the cleansed enriched frame, run aggregate, lead for
    * valid_to. */
  val scd2UserDevice: String =
    s"""WITH ${graft.oracle.Oracles.enrichedCte},
       |f AS (
       |  SELECT user_id, ts_us, event_id, device,
       |    lag(device) OVER w AS prev_device
       |  FROM enriched
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |),
       |g AS (
       |  SELECT *, CASE WHEN prev_device IS NULL
       |      OR prev_device <> device THEN 1 ELSE 0 END AS chg
       |  FROM f
       |),
       |h AS (
       |  SELECT *, CAST(sum(chg) OVER (
       |      PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS version
       |  FROM g
       |),
       |runs AS (
       |  SELECT user_id, version, device,
       |    CAST(count(1) AS BIGINT) AS n_events,
       |    min(ts_us) AS valid_from_us
       |  FROM h GROUP BY user_id, version, device
       |)
       |SELECT user_id, version, device, valid_from_us,
       |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
       |    AS valid_to_us,
       |  n_events,
       |  CAST(CASE WHEN lead(valid_from_us) OVER (
       |      PARTITION BY user_id ORDER BY version) IS NULL
       |    THEN 1 ELSE 0 END AS INT) AS is_current
       |FROM runs""".stripMargin

  /** Mirrors EventOps.zorderKey: the identical 16-term interleave in
    * portable integer arithmetic (// and % instead of shifts). */
  val zorderKey: String = {
    val terms = (0 until 16).map { i =>
      s"(((u16 // ${1L << i}) % 2) * ${1L << (2 * i)}) + " +
        s"(((h16 // ${1L << i}) % 2) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_id, user_id,
       |    epoch_us(ts) // 3600000000 AS hour_idx,
       |    user_id % 65536 AS u16,
       |    (epoch_us(ts) // 3600000000) % 65536 AS h16
       |  FROM events
       |)
       |SELECT event_id, user_id, hour_idx,
       |  CAST($terms AS BIGINT) AS z_value
       |FROM e""".stripMargin
  }

  /** Mirrors EventOps.dauWau: contribute-to-7-target-days fan-out,
    * distinct, count — integer counts on date keys. */
  val dauWau: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |),
      |dau AS (
      |  SELECT day, CAST(count(1) AS BIGINT) AS dau FROM a GROUP BY day
      |),
      |c AS (
      |  SELECT DISTINCT user_id, day + CAST(i AS INT) AS day
      |  FROM a, range(0, 7) r(i)
      |),
      |wau AS (
      |  SELECT day, CAST(count(1) AS BIGINT) AS wau_7d FROM c GROUP BY day
      |)
      |SELECT day, dau, wau_7d FROM dau JOIN wau USING (day)""".stripMargin

  /** Mirrors EventOps.pathTopSequences: gap sessions, ordered
    * event-type path strings, top-20 by (count desc, path). */
  val pathTopSequences: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events
      |),
      |f AS (
      |  SELECT *, lag(ts_us) OVER w AS prev_ts_us FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |),
      |g AS (
      |  SELECT *, CASE WHEN prev_ts_us IS NULL
      |      OR ts_us - prev_ts_us >= 1800000000 THEN 1 ELSE 0 END
      |    AS new_session
      |  FROM f
      |),
      |h AS (
      |  SELECT *, sum(new_session) OVER (
      |      PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS session_idx
      |  FROM g
      |),
      |p AS (
      |  SELECT user_id, session_idx,
      |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
      |  FROM h GROUP BY user_id, session_idx
      |),
      |a AS (
      |  SELECT path, CAST(count(1) AS BIGINT) AS n_sessions,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |  FROM p GROUP BY path
      |)
      |SELECT path, n_sessions, n_users FROM a
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** Mirrors EventOps.dqExpectations: one aggregate per table, checks
    * unpivoted via UNION ALL — integer counts only. */
  val dqExpectations: String =
    """WITH e AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS null_user,
      |    CAST(sum(CASE WHEN value <= 0.0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nonpos_value,
      |    CAST(sum(CASE WHEN event_type NOT IN
      |      ('view', 'click', 'purchase', 'error', 'signup')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_type,
      |    CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
      |      AS dup_event_id,
      |    CAST(sum(CASE WHEN epoch_us(ts) < 1704067200000000
      |      OR epoch_us(ts) >= 1735689600000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ts_oob
      |  FROM events
      |),
      |d AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS chars_mismatch,
      |    CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS empty_text
      |  FROM documents
      |),
      |checks AS (
      |  SELECT 'events' AS table_name, n_rows,
      |    'not_null_user_id' AS check_name, null_user AS n_violations
      |    FROM e
      |  UNION ALL SELECT 'events', n_rows, 'positive_value',
      |    nonpos_value FROM e
      |  UNION ALL SELECT 'events', n_rows, 'known_event_type',
      |    bad_type FROM e
      |  UNION ALL SELECT 'events', n_rows, 'unique_event_id',
      |    dup_event_id FROM e
      |  UNION ALL SELECT 'events', n_rows, 'ts_in_ingest_year',
      |    ts_oob FROM e
      |  UNION ALL SELECT 'documents', n_rows, 'n_chars_consistent',
      |    chars_mismatch FROM d
      |  UNION ALL SELECT 'documents', n_rows, 'nonempty_text',
      |    empty_text FROM d
      |)
      |SELECT table_name, check_name, n_rows, n_violations,
      |  CAST(CASE WHEN n_violations = 0 AND n_rows > 0 THEN 1 ELSE 0 END
      |    AS INT) AS pass
      |FROM checks""".stripMargin

  /** Mirrors EventOps.anomalyHourly: integer trailing sums through the
    * 24-row frame, then the identical IEEE z expression (two divisions,
    * one sqrt, one subtraction) and scale-4 round. */
  val anomalyHourly: String =
    """WITH h AS (
      |  SELECT event_type,
      |    epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2
      |),
      |t AS (
      |  SELECT *,
      |    CAST(count(1) OVER w AS BIGINT) AS n_trail,
      |    CAST(coalesce(sum(n_events) OVER w, 0) AS BIGINT) AS sum_trail,
      |    CAST(coalesce(sum(n_events * n_events) OVER w, 0) AS BIGINT)
      |      AS sumsq_trail
      |  FROM h
      |  WINDOW w AS (PARTITION BY event_type ORDER BY window_start_us
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      |),
      |v AS (
      |  SELECT *, n_trail * sumsq_trail - sum_trail * sum_trail AS var_num
      |  FROM t
      |),
      |z AS (
      |  SELECT event_type, window_start_us, n_events, n_trail,
      |    CASE WHEN n_trail >= 8 AND var_num > 0 THEN
      |      round(((CAST(n_events AS DOUBLE)
      |        - CAST(sum_trail AS DOUBLE) / n_trail)
      |        / sqrt(CAST(var_num AS DOUBLE) / (n_trail * (n_trail - 1))))
      |        * 10000, 0) / 10000.0
      |    ELSE 0.0 END AS z_score
      |  FROM v
      |)
      |SELECT event_type, window_start_us, n_events, n_trail, z_score,
      |  CAST(CASE WHEN abs(z_score) >= 3.0 THEN 1 ELSE 0 END AS INT)
      |    AS is_anomaly
      |FROM z""".stripMargin

  /** Mirrors CoreOps.rfmSegments: customer aggregate, scalar reference
    * date, fixed-threshold CASE labels — integers and strings only. */
  val rfmSegments: String =
    """WITH ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
      |p AS (
      |  SELECT o_custkey, max(o_orderdate) AS last_order,
      |    CAST(count(1) AS BIGINT) AS f_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS m_cents
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT o_custkey,
      |  CAST(date_diff('day', last_order, ref_date) AS BIGINT) AS r_days,
      |  f_orders, m_cents,
      |  CASE
      |    WHEN date_diff('day', last_order, ref_date) <= 90
      |      AND f_orders >= 12 THEN 'champion'
      |    WHEN date_diff('day', last_order, ref_date) <= 180
      |      AND f_orders >= 10 THEN 'loyal'
      |    WHEN date_diff('day', last_order, ref_date) <= 180
      |      THEN 'active'
      |    WHEN date_diff('day', last_order, ref_date) <= 365
      |      THEN 'lapsing'
      |    ELSE 'dormant' END AS segment
      |FROM p, ref""".stripMargin

  /** Mirrors EventOps.funnelSteps: gap sessions, per-type sorted ts
    * lists, scalar step chain, three-row rollup. */
  val funnelSteps: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events
      |),
      |f AS (
      |  SELECT *, lag(ts_us) OVER w AS prev_ts_us FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |),
      |g AS (
      |  SELECT *, CASE WHEN prev_ts_us IS NULL
      |      OR ts_us - prev_ts_us >= 1800000000 THEN 1 ELSE 0 END
      |    AS new_session
      |  FROM f
      |),
      |h AS (
      |  SELECT *, sum(new_session) OVER (
      |      PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS session_idx
      |  FROM g
      |),
      |per AS (
      |  SELECT user_id, session_idx,
      |    list_sort(list(ts_us) FILTER (WHERE event_type = 'view'))
      |      AS views,
      |    list_sort(list(ts_us) FILTER (WHERE event_type = 'click'))
      |      AS clicks,
      |    list_sort(list(ts_us) FILTER (WHERE event_type = 'purchase'))
      |      AS purchases
      |  FROM h GROUP BY user_id, session_idx
      |),
      |steps AS (
      |  SELECT *, views[1] AS t1,
      |    list_filter(clicks, x -> x > views[1])[1] AS t2
      |  FROM per
      |),
      |steps2 AS (
      |  SELECT *, list_filter(purchases, x -> x > t2)[1] AS t3 FROM steps
      |),
      |tot AS (
      |  SELECT CAST(count(1) AS BIGINT) AS n_sessions,
      |    CAST(count(t1) AS BIGINT) AS s1,
      |    CAST(count(t2) AS BIGINT) AS s2,
      |    CAST(count(t3) AS BIGINT) AS s3
      |  FROM steps2
      |),
      |rows_ AS (
      |  SELECT n_sessions, 1 AS step, 'view' AS step_name,
      |    s1 AS n_reached, n_sessions AS n_prev FROM tot
      |  UNION ALL SELECT n_sessions, 2, 'view>click', s2, s1 FROM tot
      |  UNION ALL SELECT n_sessions, 3, 'view>click>purchase', s3, s2
      |    FROM tot
      |)
      |SELECT CAST(step AS INT) AS step, step_name, n_reached,
      |  CASE WHEN n_prev > 0
      |    THEN round((CAST(n_reached AS DOUBLE) / n_prev) * 10000, 0)
      |      / 10000.0 ELSE 0.0 END AS conversion_from_prev,
      |  CASE WHEN n_sessions > 0
      |    THEN round((CAST(n_reached AS DOUBLE) / n_sessions) * 10000, 0)
      |      / 10000.0 ELSE 0.0 END AS conversion_from_start
      |FROM rows_""".stripMargin

  /** Mirrors EventOps.cohortRetention: first-day cohorts, (cohort,
    * offset) distinct-user cells, rate vs the offset-0 size — integer
    * counts and one guarded scale-4 ratio. */
  val cohortRetention: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |),
      |f AS (
      |  SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id
      |),
      |c AS (
      |  SELECT cohort_day,
      |    CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
      |    CAST(count(1) AS BIGINT) AS n_active
      |  FROM a JOIN f USING (user_id)
      |  GROUP BY 1, 2
      |),
      |s AS (
      |  SELECT cohort_day, n_active AS cohort_n FROM c WHERE day_offset = 0
      |)
      |SELECT c.cohort_day, day_offset, n_active, cohort_n,
      |  round((CAST(n_active AS DOUBLE) / cohort_n) * 10000, 0) / 10000.0
      |    AS retention_rate
      |FROM c JOIN s USING (cohort_day)""".stripMargin

  /** Mirrors CoreOps.rankSpendDeciles: rank family over spend (ties
    * share ranks), ntile over the (spend, custkey) total order. */
  val rankSpendDeciles: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS spend_c,
      |    CAST(count(1) AS BIGINT) AS orders
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT o_custkey, spend_c, orders,
      |  CAST(rank() OVER v AS INT) AS spend_rank,
      |  CAST(dense_rank() OVER v AS INT) AS spend_dense_rank,
      |  percent_rank() OVER v AS spend_percent_rank,
      |  CAST(ntile(10) OVER t AS INT) AS decile
      |FROM spend
      |WINDOW v AS (ORDER BY spend_c),
      |  t AS (ORDER BY spend_c, o_custkey)""".stripMargin

  /** Mirrors CoreOps.fullOuterChurn. */
  val fullOuterChurn: String =
    """WITH a AS (
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-01-01'
      |),
      |b AS (
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01'
      |),
      |j AS (
      |  SELECT a.o_custkey AS ak, b.o_custkey AS bk
      |  FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
      |)
      |SELECT CASE WHEN ak IS NOT NULL AND bk IS NOT NULL THEN 'retained'
      |    WHEN ak IS NOT NULL THEN 'churned' ELSE 'new' END AS status,
      |  CAST(count(1) AS BIGINT) AS customers
      |FROM j GROUP BY 1""".stripMargin

  /** Mirrors CoreOps.groupingSetsPricing (same three grouping sets and
    * grouping() markers). */
  val groupingSetsPricing: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
      |  CAST(grouping(l_linestatus) AS INT) AS g_status,
      |  CAST(count(1) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), (l_linestatus))""".stripMargin

  /** Mirrors TextOps.sampleStratified (same md5 bucketing as hashSplit,
    * mod 100, per-lang keep rates). */
  val sampleStratified: String =
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 100 AS INT) AS bucket100,
      |    CAST(CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 60
      |      ELSE 90 END AS INT) AS keep_rate
      |  FROM documents
      |)
      |SELECT doc_id, lang, source, bucket100, keep_rate
      |FROM t WHERE bucket100 < keep_rate""".stripMargin

  /** Mirrors Similarity.embedCentroids: list_zip against a 1-based range
    * supplies the ordinality (DuckDB range() takes no lateral args and has
    * no WITH ORDINALITY); zz[1]/zz[2] index the zipped struct; dim is
    * 0-based to match posexplode. */
  val embedCentroids: String =
    """WITH z AS (
      |  SELECT label,
      |    unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS zz
      |  FROM embeddings
      |),
      |q AS (
      |  SELECT label, CAST(zz[2] - 1 AS INT) AS dim,
      |    CAST(round(CAST(zz[1] AS DOUBLE) * 1000000, 0)
      |      AS BIGINT) AS qv
      |  FROM z
      |),
      |a AS (
      |  SELECT label, dim, CAST(count(1) AS BIGINT) AS n_vectors,
      |    CAST(sum(qv) AS BIGINT) AS sum_q
      |  FROM q GROUP BY label, dim
      |)
      |SELECT label, dim, n_vectors, sum_q,
      |  round((CAST(sum_q AS DOUBLE) / n_vectors) * 100, 0) / 100
      |    AS mean_q
      |FROM a""".stripMargin

  /** Mirrors CorpusOps.repetitionStats: per-doc unigram/bigram mode
    * counts via unnest + two-level GROUP BY — the same shape as the
    * Spark plan, so counts and scale-0-rounded ratios match exactly. */
  val textRepetition: String =
    ws("""WITH base AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(string_split_regex(lower(trim(text)),
      |      '<WS>+'), t -> t <> '') AS toks
      |  FROM documents
      |),
      |bg AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
      |      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])
      |      AS bigrams
      |  FROM base
      |),
      |uni AS (
      |  SELECT doc_id, t, count(*) AS c
      |  FROM (SELECT doc_id, unnest(toks) AS t FROM base) GROUP BY 1, 2
      |),
      |unia AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS n_distinct,
      |    CAST(max(c) AS BIGINT) AS top_token_n
      |  FROM uni GROUP BY 1
      |),
      |bi AS (
      |  SELECT doc_id, b, count(*) AS c
      |  FROM (SELECT doc_id, unnest(bigrams) AS b FROM bg) GROUP BY 1, 2
      |),
      |bia AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    CAST(max(c) AS BIGINT) AS top_bigram_n
      |  FROM bi GROUP BY 1
      |),
      |j AS (
      |  SELECT base.doc_id, lang, source,
      |    coalesce(n_tokens, 0) AS n_tokens,
      |    coalesce(n_distinct, 0) AS n_distinct,
      |    coalesce(top_token_n, 0) AS top_token_n,
      |    coalesce(n_bigrams, 0) AS n_bigrams,
      |    coalesce(top_bigram_n, 0) AS top_bigram_n
      |  FROM base LEFT JOIN unia USING (doc_id)
      |    LEFT JOIN bia USING (doc_id)
      |),
      |r AS (
      |  SELECT *,
      |    CASE WHEN n_tokens > 0 THEN
      |      round(((n_tokens - n_distinct)::DOUBLE / n_tokens) * 10000, 0)
      |        / 10000.0 ELSE 0.0 END AS dup_word_ratio,
      |    CASE WHEN n_tokens > 0 THEN
      |      round((top_token_n::DOUBLE / n_tokens) * 10000, 0)
      |        / 10000.0 ELSE 0.0 END AS top_token_ratio,
      |    CASE WHEN n_bigrams > 0 THEN
      |      round((top_bigram_n::DOUBLE / n_bigrams) * 10000, 0)
      |        / 10000.0 ELSE 0.0 END AS top_bigram_ratio
      |  FROM j
      |)
      |SELECT doc_id, lang, source, n_tokens, n_distinct, top_token_n,
      |  n_bigrams, top_bigram_n, dup_word_ratio, top_token_ratio,
      |  top_bigram_ratio,
      |  CAST(CASE WHEN dup_word_ratio >= 0.8 OR top_token_ratio >= 0.3
      |    OR top_bigram_ratio >= 0.18 THEN 1 ELSE 0 END AS INT)
      |    AS is_repetitive
      |FROM r""".stripMargin)

  /** Mirrors CorpusOps.decontaminate. The oracle joins on gram STRINGS
    * where Spark joins on their xxhash64 values — overlap counts agree
    * unless two distinct grams of the corpus collide (~1e-11, the
    * ngramJaccard argument). */
  val textDecontaminate: String =
    ws("""WITH d AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(string_split_regex(lower(trim(text)),
      |      '<WS>+'), t -> t <> '') AS toks
      |  FROM documents
      |),
      |g AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(toks) - 4, 0) + 1),
      |      i -> array_to_string(list_slice(toks, CAST(i AS INT),
      |        CAST(i AS INT) + 4), ' '))) AS grams
      |  FROM d
      |),
      |bench AS (
      |  SELECT DISTINCT unnest(grams) AS gh FROM g WHERE source = 'src0'
      |),
      |t AS (SELECT * FROM g WHERE source <> 'src0'),
      |tg AS (SELECT doc_id, unnest(grams) AS gh FROM t),
      |hits AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
      |  FROM tg JOIN bench USING (gh) GROUP BY 1
      |)
      |SELECT t.doc_id, lang, source, CAST(len(grams) AS INT) AS n_grams,
      |  coalesce(n_contaminated, 0) AS n_contaminated,
      |  CAST(CASE WHEN coalesce(n_contaminated, 0) > 0 THEN 1 ELSE 0 END
      |    AS INT) AS is_contaminated
      |FROM t LEFT JOIN hits USING (doc_id)""".stripMargin)

  /** Mirrors TextOps.countMinTopTokens: md5-derived buckets, counter
    * table and min-probe replayed exactly. */
  val countMinTopTokens: String =
    ws("""WITH t AS (
      |  SELECT unnest(list_filter(string_split_regex(
      |    lower(trim(text)), '<WS>+'), x -> x <> '')) AS token
      |  FROM documents
      |),
      |ex AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS exact_count
      |  FROM t GROUP BY 1
      |  ORDER BY exact_count DESC, token LIMIT 20
      |),
      |rb AS (
      |  SELECT token, i,
      |    CAST(('0x' || substr(md5('cm' || i || '_' || token), 1, 8))
      |      AS BIGINT) % 1024 AS bucket
      |  FROM t, range(0, 4) r(i)
      |),
      |counters AS (
      |  SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
      |  FROM rb GROUP BY 1, 2
      |),
      |probes AS (
      |  SELECT token, exact_count, i,
      |    CAST(('0x' || substr(md5('cm' || i || '_' || token), 1, 8))
      |      AS BIGINT) % 1024 AS bucket
      |  FROM ex, range(0, 4) r(i)
      |)
      |SELECT token, exact_count,
      |  CAST(min(c) AS BIGINT) AS cm_estimate,
      |  CAST(min(c) AS BIGINT) - exact_count AS overestimate,
      |  CAST(CASE WHEN CAST(min(c) AS BIGINT) - exact_count >= 0
      |    THEN 1 ELSE 0 END AS INT) AS bound_holds
      |FROM probes JOIN counters USING (i, bucket)
      |GROUP BY token, exact_count""".stripMargin)

  /** Mirrors CorpusOps.classifierScore: md5-derived token weights,
    * per-doc integer logit sums, guarded scale-4 mean. */
  val classifierScore: String =
    ws("""WITH d AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(string_split_regex(lower(trim(text)),
      |      '<WS>+'), t -> t <> '') AS toks
      |  FROM documents
      |),
      |s AS (
      |  SELECT doc_id, lang, source,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(coalesce(list_sum(list_transform(toks, tok ->
      |      CAST(('0x' || substr(md5('qw_' || tok), 1, 2)) AS BIGINT)
      |        - 128)), 0) AS BIGINT) AS logit_sum
      |  FROM d
      |)
      |SELECT doc_id, lang, source, n_tokens, logit_sum,
      |  CASE WHEN n_tokens > 0
      |    THEN round((CAST(logit_sum AS DOUBLE) / n_tokens) * 10000, 0)
      |      / 10000.0
      |    ELSE 0.0 END AS mean_logit,
      |  CAST(CASE WHEN (CASE WHEN n_tokens > 0
      |    THEN round((CAST(logit_sum AS DOUBLE) / n_tokens) * 10000, 0)
      |      / 10000.0 ELSE 0.0 END) > 0.0 THEN 1 ELSE 0 END AS INT)
      |    AS keep
      |FROM s""".stripMargin)

  /** Mirrors CorpusOps.dupSpans (W = 8): string word-8-grams stand in
    * for the engine's xxhash64 signatures (count-identical, the
    * textDecontaminate argument); all outputs are integer counts plus
    * one guarded scale-4 ratio. */
  val dupSpanStats: String =
    ws("""WITH d AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(string_split_regex(lower(trim(text)),
      |      '<WS>+'), t -> t <> '') AS toks
      |  FROM documents
      |),
      |g AS (
      |  SELECT doc_id, lang, source,
      |    CASE WHEN len(toks) >= 8 THEN
      |      list_transform(
      |        range(1, greatest(len(toks) - 7, 0) + 1),
      |        i -> array_to_string(list_slice(toks, CAST(i AS INT),
      |          CAST(i AS INT) + 7), ' '))
      |    ELSE CAST([] AS VARCHAR[]) END AS grams
      |  FROM d
      |),
      |pos AS (SELECT doc_id, unnest(grams) AS gh FROM g),
      |pdg AS (
      |  SELECT gh, doc_id, CAST(count(*) AS BIGINT) AS c
      |  FROM pos GROUP BY 1, 2
      |),
      |dup AS (SELECT gh FROM pdg GROUP BY gh HAVING count(*) >= 2),
      |per AS (
      |  SELECT doc_id,
      |    CAST(sum(c) AS BIGINT) AS n_dup_windows,
      |    CAST(count(*) AS BIGINT) AS n_dup_grams
      |  FROM pdg JOIN dup USING (gh) GROUP BY doc_id
      |)
      |SELECT g.doc_id, lang, source,
      |  CAST(len(grams) AS BIGINT) AS n_windows,
      |  coalesce(n_dup_windows, 0) AS n_dup_windows,
      |  coalesce(n_dup_grams, 0) AS n_dup_grams,
      |  CASE WHEN len(grams) > 0
      |    THEN round((coalesce(n_dup_windows, 0)::DOUBLE / len(grams))
      |      * 10000, 0) / 10000.0
      |    ELSE 0.0 END AS dup_frac
      |FROM g LEFT JOIN per USING (doc_id)""".stripMargin)

  /** Mirrors CorpusOps.mixInterleave: per-source rank by doc_id, sorted
    * source index, arithmetic interleave key — all integers. The oracle
    * may use plain windows (it is not plan-guarded); the engine derives
    * the same ranks via range-partition stitching. */
  val mixInterleave: String =
    """WITH r AS (
      |  SELECT doc_id, lang, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
      |      AS BIGINT) AS src_pos,
      |    CAST(dense_rank() OVER (ORDER BY source) AS BIGINT) - 1
      |      AS src_idx
      |  FROM documents
      |),
      |s AS (SELECT count(DISTINCT source) AS n FROM documents)
      |SELECT doc_id, lang, source,
      |  CAST(src_idx AS INT) AS src_idx, src_pos,
      |  (src_pos - 1) * (SELECT n FROM s) + src_idx AS interleave_key
      |FROM r""".stripMargin

  /** Mirrors CorpusOps.weightedSourceSample: integer counts → one IEEE
    * sqrt/division → floor, so the derived rate is engine-exact; same
    * md5 bucketing as sampleStratified. */
  val sampleWeightedSources: String =
    """WITH counts AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_src
      |  FROM documents GROUP BY source
      |),
      |m AS (SELECT min(n_src) AS min_n FROM counts),
      |r AS (
      |  SELECT source, n_src,
      |    greatest(1, CAST(floor(100 * sqrt(min_n::DOUBLE / n_src))
      |      AS INT)) AS keep_rate_pct
      |  FROM counts, m
      |),
      |t AS (
      |  SELECT doc_id, lang, source,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 100 AS INT) AS bucket100
      |  FROM documents
      |)
      |SELECT doc_id, lang, t.source, n_src, keep_rate_pct, bucket100
      |FROM t JOIN r ON t.source = r.source
      |WHERE bucket100 < keep_rate_pct""".stripMargin

  /** Mirrors CorpusOps.piiMask — identical patterns (explicit classes
    * only, no engine-dependent shorthands), identical mask order. */
  val piiMask: String =
    """SELECT doc_id, lang, source,
      |  CAST(len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(text,
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT)
      |    AS n_ipv4,
      |  CAST(len(regexp_extract_all(text,
      |    '\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -][0-9]{3,4}'))
      |    AS INT) AS n_phones,
      |  CAST(length(
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
      |      'g'),
      |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>',
      |      'g'),
      |      '\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -][0-9]{3,4}',
      |      '<PHONE>', 'g')) AS INT) AS masked_len,
      |  CAST(CASE WHEN len(regexp_extract_all(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |    + len(regexp_extract_all(text,
      |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
      |    + len(regexp_extract_all(text,
      |      '\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -][0-9]{3,4}'))
      |    = 0 THEN 1 ELSE 0 END AS INT) AS is_clean
      |FROM documents""".stripMargin

  /** Mirrors CorpusOps.corpusClean by composing the component oracles as
    * derived tables (each gate keyed by doc_id, training = non-src0). */
  def pipelineCorpusClean: String =
    s"""WITH q AS (SELECT doc_id FROM ($qualityFilter)),
       |can AS (SELECT canonical_doc_id AS doc_id FROM ($dedupExact)),
       |rep AS (SELECT doc_id, is_repetitive FROM ($textRepetition)),
       |cont AS (SELECT doc_id, is_contaminated
       |  FROM ($textDecontaminate)),
       |base AS (
       |  SELECT doc_id, lang, source FROM documents WHERE source <> 'src0'
       |)
       |SELECT base.doc_id, lang, source,
       |  CAST(1 AS INT) AS pass_quality, CAST(1 AS INT) AS is_canonical,
       |  rep.is_repetitive, cont.is_contaminated
       |FROM base JOIN q USING (doc_id) JOIN can USING (doc_id)
       |  JOIN rep USING (doc_id) JOIN cont USING (doc_id)
       |WHERE is_repetitive = 0 AND is_contaminated = 0""".stripMargin

  /** Mirrors TextOps.containment (string-trigram form; hashed-set counts
    * equal string-set counts modulo the ~1e-11 collision argument). */
  val containment: String =
    ws("""WITH d AS (
      |  SELECT doc_id, lang, source,
      |    lower(regexp_replace(text, '<WS>+', ' ', 'g')) AS norm
      |  FROM documents
      |),
      |tg AS (
      |  SELECT doc_id, lang, source,
      |    CASE WHEN length(norm) >= 3 THEN
      |      list_distinct(list_transform(
      |        range(1, CAST(length(norm) AS INT) - 1),
      |        i -> substr(norm, CAST(i AS INT), 3)))
      |    ELSE CAST([] AS VARCHAR[]) END AS tg
      |  FROM d
      |),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.tg, b.tg)) AS BIGINT) AS inter,
      |    CAST(len(a.tg) AS BIGINT) AS sz_a
      |  FROM tg a JOIN tg b
      |    ON a.lang = b.lang AND a.source = b.source
      |    AND a.doc_id <> b.doc_id
      |),
      |c AS (
      |  SELECT doc_a, doc_b,
      |    CASE WHEN sz_a > 0
      |      THEN round((inter::DOUBLE / sz_a) * 10000, 0) / 10000.0
      |      ELSE 0.0 END AS containment
      |  FROM pairs
      |)
      |SELECT doc_a, doc_b, containment FROM c
      |WHERE containment >= 0.7""".stripMargin)

  /** Mirrors EventOps.approxPercentileSpend: exact quantiles are
    * bit-identical (integer cents + one IEEE interpolation — the
    * percentile_spend precedent); the GK contract columns must be
    * literally TRUE. */
  val approxPercentileSpend: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(round(value * 100, 0) AS BIGINT) AS value_cents
      |  FROM events
      |)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  quantile_cont(value_cents, 0.5) AS p50_exact,
      |  quantile_cont(value_cents, 0.9) AS p90_exact,
      |  TRUE AS p50_within, TRUE AS p90_within
      |FROM e GROUP BY event_type""".stripMargin

  /** Mirrors ops.Features.userPitFeatures: daily snapshots become
    * servable at the NEXT midnight (leakage-free point-in-time
    * semantics), attached with DuckDB's native ASOF LEFT JOIN — the
    * independent formulation of the union+window as-of plan. */
  val featuresUserPit: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
      |    CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
      |    CAST(date_trunc('day', ts) AS DATE) AS event_date
      |  FROM events
      |),
      |daily AS (
      |  SELECT user_id, event_date,
      |    CAST(count(*) AS BIGINT) AS n_events_day,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN value_cents
      |      ELSE 0 END) AS BIGINT) AS spend_day_cents
      |  FROM e GROUP BY 1, 2
      |),
      |snaps AS (
      |  SELECT user_id, event_date AS feat_date,
      |    epoch_us(CAST(event_date + INTERVAL 1 DAY AS TIMESTAMP))
      |      AS snap_ts_us,
      |    n_events_day, spend_day_cents,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY event_date) AS INT) AS days_active_to_date,
      |    CAST(SUM(spend_day_cents) OVER (PARTITION BY user_id
      |      ORDER BY event_date
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS spend_to_date_cents
      |  FROM daily
      |),
      |labels AS (
      |  SELECT user_id, event_id AS purchase_event_id, ts_us, value_cents
      |  FROM e WHERE event_type = 'purchase'
      |)
      |SELECT l.user_id, l.purchase_event_id, l.ts_us, l.value_cents,
      |  s.feat_date, s.snap_ts_us, s.n_events_day, s.spend_day_cents,
      |  s.days_active_to_date, s.spend_to_date_cents
      |FROM labels l ASOF LEFT JOIN snaps s
      |  ON l.user_id = s.user_id AND l.ts_us >= s.snap_ts_us""".stripMargin

  /** Mirrors sim.SemDedup.dedup(k = 8, iters = 1, tau = 0.80): replays
    * the [[embedKmeans]] assignment verbatim (CTEs e..a), then joins
    * same-cluster pairs, keeps pairs whose quantized cosine rounds to
    * ≥ 0.80, and drops every vector dominated by a near-dup with a
    * lexicographically lower (centroid-cosine, vec_id). Exact for the
    * same reason embedKmeans is: integers end-to-end plus correctly
    * rounded IEEE sqrt/÷ at the compare. */
  val semDedup: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |),
      |n0 AS (
      |  SELECT vec_id, label, q,
      |    CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nn
      |  FROM e
      |),
      |n AS (SELECT * FROM n0 WHERE nn > 0),
      |c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
      |    AS cluster, q AS cq, nn AS cn
      |  FROM (SELECT * FROM n ORDER BY vec_id LIMIT 8)
      |),
      |p0 AS (
      |  SELECT n.vec_id, c0.cluster,
      |    round((CAST(list_sum(list_transform(list_zip(n.q, c0.cq),
      |      s -> s[1] * s[2])) AS BIGINT)::DOUBLE
      |      / (sqrt(n.nn::DOUBLE) * sqrt(c0.cn::DOUBLE))) * 1000000, 0)
      |      / 1000000.0 AS cosine
      |  FROM n, c0
      |),
      |a0 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rk
      |    FROM p0)
      |  WHERE rk = 1
      |),
      |mem AS (
      |  SELECT a0.cluster,
      |    unnest(list_zip(n.q, range(1, len(n.q) + 1))) AS zz
      |  FROM a0 JOIN n USING (vec_id)
      |),
      |upd AS (
      |  SELECT cluster, CAST(zz[2] AS INT) AS dim,
      |    CAST(round(CAST(sum(zz[1]) AS DOUBLE) / count(*), 0) AS BIGINT)
      |      AS mq
      |  FROM mem GROUP BY 1, 2
      |),
      |c1a AS (
      |  SELECT cluster, list(mq ORDER BY dim) AS cq FROM upd
      |  GROUP BY cluster
      |),
      |c1 AS (
      |  SELECT cluster, cq,
      |    CAST(list_sum(list_transform(cq, v -> v * v)) AS BIGINT) AS cn
      |  FROM c1a
      |),
      |p1 AS (
      |  SELECT n.vec_id, n.label, c1.cluster,
      |    round((CAST(list_sum(list_transform(list_zip(n.q, c1.cq),
      |      s -> s[1] * s[2])) AS BIGINT)::DOUBLE
      |      / (sqrt(n.nn::DOUBLE) * sqrt(c1.cn::DOUBLE))) * 1000000, 0)
      |      / 1000000.0 AS cosine
      |  FROM n, c1 WHERE c1.cn > 0
      |),
      |a AS (
      |  SELECT vec_id, label, cluster, cosine FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rk
      |    FROM p1)
      |  WHERE rk = 1
      |),
      |m AS (
      |  SELECT a.vec_id, a.label, a.cluster, a.cosine, n.q, n.nn
      |  FROM a JOIN n USING (vec_id)
      |),
      |dropped AS (
      |  SELECT DISTINCT x.vec_id
      |  FROM m x JOIN m y ON x.cluster = y.cluster
      |    AND (y.cosine < x.cosine
      |      OR (y.cosine = x.cosine AND y.vec_id < x.vec_id))
      |  WHERE round((CAST(list_sum(list_transform(list_zip(x.q, y.q),
      |      s -> s[1] * s[2])) AS BIGINT)::DOUBLE
      |      / (sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE))) * 1000000, 0)
      |      / 1000000.0 >= 0.80
      |)
      |SELECT m.vec_id, m.label, m.cluster,
      |  (d.vec_id IS NULL) AS keep
      |FROM m LEFT JOIN dropped d ON m.vec_id = d.vec_id""".stripMargin

  /** Mirrors sim.KMeans.fit(k = 8, iters = 1): deterministic seed (the
    * FIRST 8 nonzero vectors by vec_id, clusters = seed ranks — the
    * engine's order-by-limit formulation, which equals `vec_id < 8` on
    * this dense 0-based corpus but also holds on sparse id spaces),
    * quantized-cosine argmax (ties → lowest cluster), one integer-mean
    * Lloyd update, final assignment. Every intermediate is integer or a
    * correctly-rounded IEEE op, so the replay is exact. */
  val embedKmeans: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |),
      |n0 AS (
      |  SELECT vec_id, label, q,
      |    CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nn
      |  FROM e
      |),
      |n AS (SELECT * FROM n0 WHERE nn > 0),
      |c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
      |    AS cluster, q AS cq, nn AS cn
      |  FROM (SELECT * FROM n ORDER BY vec_id LIMIT 8)
      |),
      |p0 AS (
      |  SELECT n.vec_id, c0.cluster,
      |    round((CAST(list_sum(list_transform(list_zip(n.q, c0.cq),
      |      s -> s[1] * s[2])) AS BIGINT)::DOUBLE
      |      / (sqrt(n.nn::DOUBLE) * sqrt(c0.cn::DOUBLE))) * 1000000, 0)
      |      / 1000000.0 AS cosine
      |  FROM n, c0
      |),
      |a0 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rk
      |    FROM p0)
      |  WHERE rk = 1
      |),
      |mem AS (
      |  SELECT a0.cluster,
      |    unnest(list_zip(n.q, range(1, len(n.q) + 1))) AS zz
      |  FROM a0 JOIN n USING (vec_id)
      |),
      |upd AS (
      |  SELECT cluster, CAST(zz[2] AS INT) AS dim,
      |    CAST(round(CAST(sum(zz[1]) AS DOUBLE) / count(*), 0) AS BIGINT)
      |      AS mq
      |  FROM mem GROUP BY 1, 2
      |),
      |c1a AS (
      |  SELECT cluster, list(mq ORDER BY dim) AS cq FROM upd
      |  GROUP BY cluster
      |),
      |c1 AS (
      |  SELECT cluster, cq,
      |    CAST(list_sum(list_transform(cq, v -> v * v)) AS BIGINT) AS cn
      |  FROM c1a
      |),
      |p1 AS (
      |  SELECT n.vec_id, n.label, c1.cluster,
      |    round((CAST(list_sum(list_transform(list_zip(n.q, c1.cq),
      |      s -> s[1] * s[2])) AS BIGINT)::DOUBLE
      |      / (sqrt(n.nn::DOUBLE) * sqrt(c1.cn::DOUBLE))) * 1000000, 0)
      |      / 1000000.0 AS cosine
      |  FROM n, c1 WHERE c1.cn > 0
      |)
      |SELECT vec_id, label, cluster, cosine FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY cosine DESC, cluster) AS rk
      |  FROM p1)
      |WHERE rk = 1""".stripMargin

  /** Mirrors sim.ProductQuantizer.topK (M=8 subspaces x SubDim=8, K=16
    * codes, one integer-mean Lloyd step from the vec_id<16 seed, ADC
    * scoring). Every quantity is an exact integer (squared-L2 via dots,
    * integer-mean re-quantization) -- no float ever enters the compare. */
  val pqTopK: String =
    """WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |),
      |e AS (SELECT * FROM e0 WHERE len(q) = 64),
      |sub AS (
      |  SELECT vec_id, CAST(t.s AS INT) AS s,
      |    list_slice(q, CAST(t.s AS INT) * 8 + 1,
      |      CAST(t.s AS INT) * 8 + 8) AS sv
      |  FROM e, range(0, 8) t(s)
      |),
      |subn AS (
      |  SELECT vec_id, s, sv,
      |    CAST(list_sum(list_transform(sv, v -> v * v)) AS BIGINT) AS svn
      |  FROM sub
      |),
      |seedids AS (
      |  SELECT vec_id,
      |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
      |  FROM (SELECT DISTINCT vec_id FROM sub ORDER BY vec_id LIMIT 16)
      |),
      |c0 AS (
      |  SELECT sub.s, seedids.code, sub.sv AS cv,
      |    CAST(list_sum(list_transform(sub.sv, v -> v * v)) AS BIGINT)
      |      AS cvn
      |  FROM sub JOIN seedids USING (vec_id)
      |),
      |a0p AS (
      |  SELECT subn.vec_id, subn.s, c0.code,
      |    subn.svn - 2 * CAST(list_sum(list_transform(
      |      list_zip(subn.sv, c0.cv), z -> z[1] * z[2])) AS BIGINT)
      |      + c0.cvn AS d2
      |  FROM subn JOIN c0 ON subn.s = c0.s
      |),
      |a0 AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id, s ORDER BY d2, code) AS rk FROM a0p)
      |  WHERE rk = 1
      |),
      |mem AS (
      |  SELECT a0.s, a0.code,
      |    unnest(list_zip(subn.sv, range(1, len(subn.sv) + 1))) AS zz
      |  FROM a0 JOIN subn ON a0.vec_id = subn.vec_id AND a0.s = subn.s
      |),
      |upd AS (
      |  SELECT s, code, CAST(zz[2] AS INT) AS dim,
      |    CAST(round(CAST(sum(zz[1]) AS DOUBLE) / count(*), 0) AS BIGINT)
      |      AS mx
      |  FROM mem GROUP BY 1, 2, 3
      |),
      |c1a AS (
      |  SELECT s, code, list(mx ORDER BY dim) AS cv FROM upd
      |  GROUP BY s, code
      |),
      |c1 AS (
      |  SELECT s, code, cv,
      |    CAST(list_sum(list_transform(cv, v -> v * v)) AS BIGINT) AS cvn
      |  FROM c1a
      |),
      |encp AS (
      |  SELECT subn.vec_id, subn.s, c1.code,
      |    subn.svn - 2 * CAST(list_sum(list_transform(
      |      list_zip(subn.sv, c1.cv), z -> z[1] * z[2])) AS BIGINT)
      |      + c1.cvn AS d2
      |  FROM subn JOIN c1 ON subn.s = c1.s
      |),
      |enc AS (
      |  SELECT vec_id AS neighbor_id, s, code FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id, s ORDER BY d2, code) AS rk FROM encp)
      |  WHERE rk = 1
      |),
      |qt AS (
      |  SELECT vec_id AS query_id, s, code, d2 AS qd FROM encp
      |  WHERE vec_id < 10
      |),
      |adc AS (
      |  SELECT qt.query_id, enc.neighbor_id,
      |    CAST(SUM(qt.qd) AS BIGINT) AS approx_d2
      |  FROM enc JOIN qt ON enc.s = qt.s AND enc.code = qt.code
      |  WHERE enc.neighbor_id <> qt.query_id
      |  GROUP BY 1, 2
      |)
      |SELECT query_id, neighbor_id, approx_d2, "rank" FROM (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS INT)
      |    AS "rank"
      |  FROM adc)
      |WHERE "rank" <= 5""".stripMargin

  /** Mirrors sim.IvfPq.topKIndexed (nlist=16 integer-L2 coarse
    * quantizer — seeds = first 16 vec_ids, one integer-mean Lloyd step,
    * the SAME recipe as the PQ codebooks at full dimension — composed
    * with the pqTopK codebooks/codes/ADC, candidates restricted to each
    * query's nprobe=4 nearest coarse lists). The contract is the
    * deterministic INDEX's output (the sim_lsh_topk / sim_pq_topk
    * pattern): every quantity is an exact integer, so the replay is
    * cell-exact — recall vs exhaustive ADC is a measured property
    * (AnnIndexSpec pins nprobe=16 == plain PQ). */
  val ivfPqTopK: String =
    """WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |),
      |e AS (SELECT * FROM e0 WHERE len(q) = 64),
      |en AS (
      |  SELECT vec_id, q,
      |    CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS qn
      |  FROM e
      |),
      |sub AS (
      |  SELECT vec_id, CAST(t.s AS INT) AS s,
      |    list_slice(q, CAST(t.s AS INT) * 8 + 1,
      |      CAST(t.s AS INT) * 8 + 8) AS sv
      |  FROM e, range(0, 8) t(s)
      |),
      |subn AS (
      |  SELECT vec_id, s, sv,
      |    CAST(list_sum(list_transform(sv, v -> v * v)) AS BIGINT) AS svn
      |  FROM sub
      |),
      |seedids AS (
      |  SELECT vec_id,
      |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
      |  FROM (SELECT DISTINCT vec_id FROM sub ORDER BY vec_id LIMIT 16)
      |),
      |c0 AS (
      |  SELECT sub.s, seedids.code, sub.sv AS cv,
      |    CAST(list_sum(list_transform(sub.sv, v -> v * v)) AS BIGINT)
      |      AS cvn
      |  FROM sub JOIN seedids USING (vec_id)
      |),
      |a0p AS (
      |  SELECT subn.vec_id, subn.s, c0.code,
      |    subn.svn - 2 * CAST(list_sum(list_transform(
      |      list_zip(subn.sv, c0.cv), z -> z[1] * z[2])) AS BIGINT)
      |      + c0.cvn AS d2
      |  FROM subn JOIN c0 ON subn.s = c0.s
      |),
      |a0 AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id, s ORDER BY d2, code) AS rk FROM a0p)
      |  WHERE rk = 1
      |),
      |mem AS (
      |  SELECT a0.s, a0.code,
      |    unnest(list_zip(subn.sv, range(1, len(subn.sv) + 1))) AS zz
      |  FROM a0 JOIN subn ON a0.vec_id = subn.vec_id AND a0.s = subn.s
      |),
      |upd AS (
      |  SELECT s, code, CAST(zz[2] AS INT) AS dim,
      |    CAST(round(CAST(sum(zz[1]) AS DOUBLE) / count(*), 0) AS BIGINT)
      |      AS mx
      |  FROM mem GROUP BY 1, 2, 3
      |),
      |c1a AS (
      |  SELECT s, code, list(mx ORDER BY dim) AS cv FROM upd
      |  GROUP BY s, code
      |),
      |c1 AS (
      |  SELECT s, code, cv,
      |    CAST(list_sum(list_transform(cv, v -> v * v)) AS BIGINT) AS cvn
      |  FROM c1a
      |),
      |encp AS (
      |  SELECT subn.vec_id, subn.s, c1.code,
      |    subn.svn - 2 * CAST(list_sum(list_transform(
      |      list_zip(subn.sv, c1.cv), z -> z[1] * z[2])) AS BIGINT)
      |      + c1.cvn AS d2
      |  FROM subn JOIN c1 ON subn.s = c1.s
      |),
      |enc AS (
      |  SELECT vec_id AS neighbor_id, s, code FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id, s ORDER BY d2, code) AS rk FROM encp)
      |  WHERE rk = 1
      |),
      |cseed AS (
      |  SELECT vec_id,
      |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
      |  FROM (SELECT DISTINCT vec_id FROM e ORDER BY vec_id LIMIT 16)
      |),
      |cc0 AS (
      |  SELECT cseed.cluster, en.q AS cv, en.qn AS cvn
      |  FROM en JOIN cseed USING (vec_id)
      |),
      |ca0p AS (
      |  SELECT en.vec_id, cc0.cluster,
      |    en.qn - 2 * CAST(list_sum(list_transform(
      |      list_zip(en.q, cc0.cv), z -> z[1] * z[2])) AS BIGINT)
      |      + cc0.cvn AS d2
      |  FROM en, cc0
      |),
      |ca0 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d2, cluster) AS rk FROM ca0p)
      |  WHERE rk = 1
      |),
      |cmem AS (
      |  SELECT ca0.cluster,
      |    unnest(list_zip(en.q, range(1, len(en.q) + 1))) AS zz
      |  FROM ca0 JOIN en USING (vec_id)
      |),
      |cupd AS (
      |  SELECT cluster, CAST(zz[2] AS INT) AS dim,
      |    CAST(round(CAST(sum(zz[1]) AS DOUBLE) / count(*), 0) AS BIGINT)
      |      AS mx
      |  FROM cmem GROUP BY 1, 2
      |),
      |cc1a AS (
      |  SELECT cluster, list(mx ORDER BY dim) AS cv FROM cupd
      |  GROUP BY cluster
      |),
      |cc1 AS (
      |  SELECT cluster, cv,
      |    CAST(list_sum(list_transform(cv, v -> v * v)) AS BIGINT) AS cvn
      |  FROM cc1a
      |),
      |cd2 AS (
      |  SELECT en.vec_id, cc1.cluster,
      |    en.qn - 2 * CAST(list_sum(list_transform(
      |      list_zip(en.q, cc1.cv), z -> z[1] * z[2])) AS BIGINT)
      |      + cc1.cvn AS d2
      |  FROM en, cc1
      |),
      |cassign AS (
      |  SELECT vec_id AS neighbor_id, cluster FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d2, cluster) AS rk FROM cd2)
      |  WHERE rk = 1
      |),
      |probes AS (
      |  SELECT vec_id AS query_id, cluster FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d2, cluster) AS rk FROM cd2
      |    WHERE vec_id < 10)
      |  WHERE rk <= 4
      |),
      |qt AS (
      |  SELECT vec_id AS query_id, s, code, d2 AS qd FROM encp
      |  WHERE vec_id < 10
      |),
      |adc AS (
      |  SELECT qt.query_id, enc.neighbor_id,
      |    CAST(SUM(qt.qd) AS BIGINT) AS approx_d2
      |  FROM enc
      |  JOIN cassign USING (neighbor_id)
      |  JOIN probes ON probes.cluster = cassign.cluster
      |  JOIN qt ON enc.s = qt.s AND enc.code = qt.code
      |    AND qt.query_id = probes.query_id
      |  WHERE enc.neighbor_id <> qt.query_id
      |  GROUP BY 1, 2
      |)
      |SELECT query_id, neighbor_id, approx_d2, "rank" FROM (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS INT)
      |    AS "rank"
      |  FROM adc)
      |WHERE "rank" <= 5""".stripMargin

  /** Mirrors ops.IntervalJoin.concurrentSessions: session envelopes,
    * naive overlap self-join (the oracle may be quadratic; the engine
    * may not), per-session concurrency count. */
  val concurrentSessions: String =
    s"""WITH ${graft.oracle.Oracles.enrichedCte},
       |${graft.oracle.Oracles.sessionsCte("enriched")},
       |sess AS (
       |  SELECT session_id, MIN(start_us) AS s, MAX(end_us) AS e
       |  FROM sessions GROUP BY 1
       |)
       |SELECT a.session_id, a.s AS start_us, a.e AS end_us,
       |  CAST(count(b.session_id) AS BIGINT) AS n_concurrent
       |FROM sess a LEFT JOIN sess b
       |  ON a.session_id <> b.session_id
       |  AND a.s <= b.e AND b.s <= a.e
       |GROUP BY 1, 2, 3""".stripMargin

  /** Mirrors CorpusOps.heavyTokens: the exact guaranteed-heavy token
    * set (cnt·k > n, integer form) with the SpaceSaving contract
    * booleans literally TRUE — the guarantees hold under any merge
    * order, so TRUE is the deterministic expectation. */
  val heavyTokens: String =
    ws(s"""WITH t AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
      |    '<WS>+'), x -> x <> '')) AS token
      |  FROM documents
      |),
      |exact AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS n_exact
      |  FROM t GROUP BY 1
      |),
      |nn AS (
      |  SELECT CAST(coalesce(sum(n_exact), 0) AS BIGINT) AS n FROM exact
      |)
      |SELECT token, n_exact,
      |  TRUE AS in_sketch, TRUE AS est_ge_true, TRUE AS err_within_bound
      |FROM exact, nn
      |WHERE n_exact * ${graft.text.CorpusOps.HeavyK} > nn.n"""
      .stripMargin)

  /** Mirrors ops.PageRank.episodePageRank: the 5 fixed-point-integer
    * damping rounds unroll as CTEs — every op is an exact integer op on
    * both engines, so the replay is cell-for-cell. */
  /** Mirrors Reachability.episodeReachability: the same bounded-hop
    * WITH RECURSIVE over the same distinct transition edges (the
    * episodePageRank edge preamble, deduplicated). */
  val episodeReachability: String =
    s"""WITH RECURSIVE ${graft.oracle.Oracles.enrichedCte},
       |t AS (
       |  SELECT user_id, ts_us, event_id, episode_id,
       |    lag(ts_us) OVER w AS prev_ts_us,
       |    lag(episode_id) OVER w AS src
       |  FROM enriched
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |),
       |edg AS (
       |  SELECT DISTINCT src, episode_id AS dst
       |  FROM t
       |  WHERE prev_ts_us IS NOT NULL
       |    AND ts_us - prev_ts_us < 1800000000
       |    AND src <> episode_id
       |),
       |reach AS (
       |  SELECT src, dst, 1 AS hops FROM edg
       |  UNION ALL
       |  SELECT r.src, e.dst AS dst, r.hops + 1 AS hops
       |  FROM reach r JOIN edg e ON r.dst = e.src
       |  WHERE r.hops < ${graft.ops.Reachability.MaxHops}
       |)
       |SELECT src, dst, CAST(min(hops) AS INT) AS min_hops,
       |  CAST(count(1) AS BIGINT) AS n_paths
       |FROM reach GROUP BY src, dst""".stripMargin

  val episodePageRank: String = {
    val iters = (1 to graft.ops.PageRank.Iterations).map { k =>
      s"""r$k AS (
         |  SELECT nodes.id,
         |    (SELECT CAST(((1000000000 // n) * 15) // 100 AS BIGINT)
         |       FROM nn)
         |      + (85 * COALESCE(c.s, 0)) // 100 AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS id,
         |      CAST(SUM((r.rank * e.w) // o.out_w) AS BIGINT) AS s
         |    FROM e JOIN ow o ON e.src = o.src
         |    JOIN r${k - 1} r ON r.id = e.src
         |    GROUP BY 1) c ON c.id = nodes.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${graft.oracle.Oracles.enrichedCte},
       |t AS (
       |  SELECT user_id, ts_us, event_id, episode_id,
       |    lag(ts_us) OVER w AS prev_ts_us,
       |    lag(episode_id) OVER w AS src
       |  FROM enriched
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |),
       |e AS (
       |  SELECT src, episode_id AS dst, CAST(count(*) AS BIGINT) AS w
       |  FROM t
       |  WHERE prev_ts_us IS NOT NULL
       |    AND ts_us - prev_ts_us < 1800000000
       |    AND src <> episode_id
       |  GROUP BY 1, 2
       |),
       |nodes AS (SELECT DISTINCT episode_id AS id FROM enriched),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w
       |       FROM e GROUP BY 1),
       |iw AS (SELECT dst AS id, CAST(SUM(w) AS BIGINT) AS in_w
       |       FROM e GROUP BY 1),
       |r0 AS (SELECT id,
       |         (SELECT CAST(1000000000 // n AS BIGINT) FROM nn) AS rank
       |       FROM nodes),
       |$iters
       |SELECT nodes.id AS episode_id, r${graft.ops.PageRank.Iterations}.rank,
       |  COALESCE(o.out_w, 0) AS out_w, COALESCE(i.in_w, 0) AS in_w
       |FROM nodes
       |JOIN r${graft.ops.PageRank.Iterations}
       |  ON r${graft.ops.PageRank.Iterations}.id = nodes.id
       |LEFT JOIN ow o ON o.src = nodes.id
       |LEFT JOIN iw i ON i.id = nodes.id""".stripMargin
  }

  /** Mirrors ops.Binning.equiDepthBins: the flat row_number total order
    * over (price, l_orderkey, l_linenumber) equals the engine's
    * two-level stratified rank (the stratum id is monotone in price);
    * bin = (rank−1)·10 div n; sums compare as exact cent BIGINTs. */
  val equiDepthBins: String =
    """WITH r AS (
      |  SELECT l_extendedprice AS price,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
      |    row_number() OVER (
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk,
      |    count(*) OVER () AS n
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL)
      |SELECT CAST(((rk - 1) * 10) // n AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  min(price) AS price_lo,
      |  max(price) AS price_hi,
      |  CAST(sum(cents) AS BIGINT) AS cents_sum
      |FROM r
      |GROUP BY 1""".stripMargin

  /** Mirrors JoinOps.q7NationVolume: same bilateral-pair disjunction,
    * same integer hundredths-of-cents revenue. */
  val q7NationVolume: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
      |  round((CAST(CAST(sum(
      |      CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
      |    AS BIGINT) AS DOUBLE) / 10000) * 100, 0) / 100.0 AS revenue
      |FROM lineitem l
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
      |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') OR
      |       (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |GROUP BY 1, 2, 3""".stripMargin

  /** Mirrors JoinOps.q9ProductProfit: the signed
    * `rev − retail·qty·100` profit in hundredths-of-cents. */
  val q9ProductProfit: String =
    """SELECT n.n_name AS nation,
      |  CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
      |  round((CAST(CAST(sum(
      |      CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)) -
      |      CAST(round(p.p_retailprice * 100, 0) AS BIGINT) *
      |      CAST(round(l.l_quantity, 0) AS BIGINT) * 100)
      |    AS BIGINT) AS DOUBLE) / 10000) * 100, 0) / 100.0 AS profit
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |  AND p.p_name LIKE '%widget%'
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** Mirrors JoinOps.q10ReturnedRevenue: exact integer revenue with the
    * custkey tiebreak makes the top-20 frontier deterministic. */
  val q10ReturnedRevenue: String =
    """SELECT c.c_custkey, c.c_name,
      |  round((CAST(CAST(sum(
      |      CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
      |    AS BIGINT) AS DOUBLE) / 10000) * 100, 0) / 100.0 AS revenue,
      |  c.c_acctbal, n.n_name
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-04-01'
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |WHERE l.l_returnflag = 'R'
      |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
      |ORDER BY CAST(sum(
      |    CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) *
      |    (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
      |  AS BIGINT) DESC, c.c_custkey
      |LIMIT 20""".stripMargin

  /** Mirrors JoinOps.q14PromoShare: one conditional aggregate, the
    * share ratio divided once from two exact bigints. */
  val q14PromoShare: String =
    """WITH m AS (
      |  SELECT CASE WHEN p.p_type = 'PROMO' THEN
      |      CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))
      |    ELSE 0 END AS promo_i,
      |    CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)) AS rev_i
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      |    AND l.l_shipdate < TIMESTAMP '1997-10-01')
      |SELECT
      |  round((CAST(CAST(sum(promo_i) AS BIGINT) * 100 AS DOUBLE) /
      |    CAST(sum(rev_i) AS BIGINT)) * 10000, 0) / 10000.0
      |    AS promo_share_pct,
      |  round((CAST(CAST(sum(rev_i) AS BIGINT) AS DOUBLE) / 10000)
      |    * 100, 0) / 100.0 AS total_revenue
      |FROM m""".stripMargin

  /** Mirrors SubqueryOps.q11ImportantParts: literal scalar subquery in
    * HAVING, bigint cross-multiplied threshold. */
  val q11ImportantParts: String =
    """SELECT l.l_partkey,
      |  CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS value_cents
      |FROM lineitem l
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |WHERE s.s_nationkey = 3
      |GROUP BY l.l_partkey
      |HAVING CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
      |    AS BIGINT) * 500 > (
      |  SELECT CAST(sum(CAST(round(l2.l_extendedprice * 100, 0)
      |    AS BIGINT)) AS BIGINT)
      |  FROM lineitem l2
      |  JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      |  WHERE s2.s_nationkey = 3)""".stripMargin

  /** Mirrors SubqueryOps.q20DominantShippers: the nested IN + correlated
    * HAVING scalar, quantity share as bigint cross-multiplication. */
  val q20DominantShippers: String =
    """SELECT s.s_name, s.s_suppkey
      |FROM supplier s
      |WHERE s.s_suppkey IN (
      |  SELECT l1.l_suppkey FROM lineitem l1
      |  WHERE l1.l_partkey IN (
      |      SELECT p.p_partkey FROM part p
      |      WHERE p.p_name LIKE 'small%')
      |    AND l1.l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l1.l_shipdate < TIMESTAMP '1998-01-01'
      |  GROUP BY l1.l_suppkey, l1.l_partkey
      |  HAVING CAST(sum(CAST(round(l1.l_quantity, 0) AS BIGINT))
      |      AS BIGINT) * 3 > (
      |    SELECT CAST(sum(CAST(round(l2.l_quantity, 0) AS BIGINT))
      |      AS BIGINT)
      |    FROM lineitem l2
      |    WHERE l2.l_partkey = l1.l_partkey
      |      AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
      |      AND l2.l_shipdate < TIMESTAMP '1998-01-01'))""".stripMargin

  /** Mirrors AggExtOps.listAggNations: DuckDB's ordered string_agg is
    * the same deterministic WITHIN-GROUP contract. */
  val listAggNations: String =
    """SELECT segment,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  CAST(count(1) AS BIGINT) AS n_nations
      |FROM (
      |  SELECT DISTINCT c.c_mktsegment AS segment, n.n_name
      |  FROM customer c
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey) t
      |GROUP BY segment""".stripMargin

  /** Mirrors AggExtOps.unpivotPricing: same wide aggregate melted by
    * the standard UNPIVOT clause. */
  val unpivotPricing: String =
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
      |      AS sum_qty,
      |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS base_cents,
      |    CAST(count(1) AS BIGINT) AS n_items
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, metric, value
      |FROM w UNPIVOT (value FOR metric IN (sum_qty, base_cents,
      |  n_items))""".stripMargin

  /** Mirrors TableDiff.ordersQuarterDiff: the same two derived
    * snapshots, full-outer joined, with IS DISTINCT FROM as the
    * null-safe cell comparison Spark's `<=>` negation expresses. */
  val ordersQuarterDiff: String =
    """WITH o AS (
      |  SELECT * FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-10-01'
      |),
      |n AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    o_orderdate,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1997-07-01'
      |        AND o_orderdate < TIMESTAMP '1997-10-01'
      |        AND o_orderpriority = '5-LOW' THEN '3-MEDIUM'
      |      ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-09-01'
      |      AND o_orderdate < TIMESTAMP '1997-10-01')
      |),
      |j AS (
      |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
      |    (o.o_orderkey IS NULL) AS is_added,
      |    (n.o_orderkey IS NULL) AS is_removed,
      |    CAST(o.o_custkey IS DISTINCT FROM n.o_custkey AS INT) +
      |    CAST(o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS INT) +
      |    CAST(o.o_totalprice IS DISTINCT FROM n.o_totalprice AS INT) +
      |    CAST(o.o_orderdate IS DISTINCT FROM n.o_orderdate AS INT) +
      |    CAST(o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
      |      AS INT) AS n_changed
      |  FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey
      |)
      |SELECT
      |  CASE WHEN is_added THEN 'added' WHEN is_removed THEN 'removed'
      |    WHEN n_changed > 0 THEN 'changed'
      |    ELSE 'unchanged' END AS diff_status,
      |  CAST(count(1) AS BIGINT) AS n_rows,
      |  min(k) AS min_key, max(k) AS max_key,
      |  CAST(sum(n_changed) AS BIGINT) AS n_changed_cells
      |FROM j GROUP BY 1""".stripMargin

  /** Mirrors CdcFaces `cdc_orders_net`: the accumulated three-batch
    * change log must collapse to the ENDPOINT diff state0 → state3 —
    * computed here independently (the intermediate Sep-1997 add-then-
    * remove and the 1996 change-then-revert must net out to nothing).
    * `unchanged` is excluded: the log only carries changes. */
  val ordersChangeLogNet: String =
    """WITH o AS (
      |  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
      |),
      |n AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    o_orderdate,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |        AND o_orderdate < TIMESTAMP '1997-10-01'
      |        AND o_orderpriority = '5-LOW' THEN '3-MEDIUM'
      |      ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-06-01'
      |      AND o_orderdate < TIMESTAMP '1997-07-01')
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-09-01'
      |      AND o_orderdate < TIMESTAMP '1997-10-01')
      |),
      |j AS (
      |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
      |    (o.o_orderkey IS NULL) AS is_added,
      |    (n.o_orderkey IS NULL) AS is_removed,
      |    CAST(o.o_custkey IS DISTINCT FROM n.o_custkey AS INT) +
      |    CAST(o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS INT) +
      |    CAST(o.o_totalprice IS DISTINCT FROM n.o_totalprice AS INT) +
      |    CAST(o.o_orderdate IS DISTINCT FROM n.o_orderdate AS INT) +
      |    CAST(o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
      |      AS INT) AS n_changed
      |  FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey
      |)
      |SELECT
      |  CASE WHEN is_added THEN 'added' WHEN is_removed THEN 'removed'
      |    ELSE 'changed' END AS diff_status,
      |  CAST(count(1) AS BIGINT) AS n_rows,
      |  min(k) AS min_key, max(k) AS max_key,
      |  CAST(sum(n_changed) AS BIGINT) AS n_changed_cells
      |FROM j
      |WHERE is_added OR is_removed OR n_changed > 0
      |GROUP BY 1""".stripMargin

  /** Mirrors CdcFaces `cdc_orders_replay`: replay(state0, log) must
    * reproduce the ENDPOINT state3 — computed here directly from the
    * source with the same deterministic transforms (the Spark side
    * instead re-derives state0 and applies the accumulated change
    * log). Summarized per priority class with integer-exact
    * aggregates. */
  val ordersChangeLogReplay: String =
    """WITH n AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |        AND o_orderdate < TIMESTAMP '1997-10-01'
      |        AND o_orderpriority = '5-LOW' THEN '3-MEDIUM'
      |      ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-06-01'
      |      AND o_orderdate < TIMESTAMP '1997-07-01')
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-09-01'
      |      AND o_orderdate < TIMESTAMP '1997-10-01')
      |)
      |SELECT o_orderpriority,
      |  CAST(count(1) AS BIGINT) AS n_rows,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM n
      |GROUP BY 1""".stripMargin

  /** Mirrors CdcFaces `cdc_view_orders_priority`: the log-driven
    * incremental view must equal the from-scratch endpoint recompute —
    * same integer-cents measure on both sides. */
  val ordersPriorityViewMaintained: String =
    """WITH n AS (
      |  SELECT o_orderkey, o_totalprice,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |        AND o_orderdate < TIMESTAMP '1997-10-01'
      |        AND o_orderpriority = '5-LOW' THEN '3-MEDIUM'
      |      ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-06-01'
      |      AND o_orderdate < TIMESTAMP '1997-07-01')
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-09-01'
      |      AND o_orderdate < TIMESTAMP '1997-10-01')
      |)
      |SELECT o_orderpriority,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  CAST(count(1) AS BIGINT) AS n_rows
      |FROM n
      |GROUP BY 1""".stripMargin

  /** Mirrors CdcFaces `cdc_minmax_orders_priority`: the endpoint
    * per-priority MIN/MAX recomputed from scratch — the engine side
    * serves the touched-group-recompute-refreshed persisted view, so
    * a deletion that removed an extreme must have resurfaced the
    * runner-up exactly. Same endpoint CTE as the sum view. */
  val ordersPriorityMinMax: String =
    """WITH n AS (
      |  SELECT o_orderkey, o_totalprice,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |        AND o_orderdate < TIMESTAMP '1997-10-01'
      |        AND o_orderpriority = '5-LOW' THEN '3-MEDIUM'
      |      ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-06-01'
      |      AND o_orderdate < TIMESTAMP '1997-07-01')
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-09-01'
      |      AND o_orderdate < TIMESTAMP '1997-10-01')
      |)
      |SELECT o_orderpriority,
      |  CAST(MIN(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS min_cents,
      |  CAST(MAX(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS max_cents,
      |  CAST(count(1) AS BIGINT) AS n_rows
      |FROM n
      |GROUP BY 1""".stripMargin

  /** Mirrors CdcFaces `cdc_scd2_orders`: the SCD2 intervals the
    * engine builds from the change log, re-derived here WITHOUT a log
    * — the four deterministic states are materialized, laid on a
    * key × state presence grid, change points detected with lag
    * (priority is the only value column the history mutates, so the
    * image comparison reduces to it), and versions intervalized with
    * lead over the open/tombstone event sequence. Engine and oracle
    * must agree on every interval boundary: the baseline's
    * still-current majority (0 → -1), versions tombstone-closed by
    * the NOT-SPECIFIED drops, and the 1996 change-then-revert triple
    * (0 → 2, 2 → 3, 3 → -1 on the same keys). */
  val ordersScd2: String =
    """WITH src AS (
      |  SELECT o_orderkey AS k, o_totalprice AS tp, o_orderdate AS d,
      |    o_orderpriority AS p
      |  FROM orders
      |),
      |s0 AS (SELECT k, p, tp FROM src WHERE d < TIMESTAMP '1997-07-01'),
      |s1 AS (SELECT k, p, tp FROM src WHERE d < TIMESTAMP '1997-10-01'),
      |s2 AS (
      |  SELECT k,
      |    CASE WHEN d >= TIMESTAMP '1997-01-01'
      |          AND d < TIMESTAMP '1997-10-01' AND p = '5-LOW'
      |          THEN '3-MEDIUM'
      |         WHEN d >= TIMESTAMP '1996-01-01'
      |          AND d < TIMESTAMP '1996-04-01' AND p = '5-LOW'
      |          THEN '3-MEDIUM'
      |         ELSE p END AS p, tp
      |  FROM src
      |  WHERE d < TIMESTAMP '1997-10-01'
      |    AND NOT (p = '4-NOT SPECIFIED'
      |      AND d >= TIMESTAMP '1997-06-01' AND d < TIMESTAMP '1997-07-01')
      |    AND NOT (p = '4-NOT SPECIFIED'
      |      AND d >= TIMESTAMP '1997-09-01' AND d < TIMESTAMP '1997-10-01')
      |),
      |s3 AS (
      |  SELECT k,
      |    CASE WHEN d >= TIMESTAMP '1997-01-01'
      |          AND d < TIMESTAMP '1997-10-01' AND p = '5-LOW'
      |          THEN '3-MEDIUM'
      |         ELSE p END AS p, tp
      |  FROM src
      |  WHERE d < TIMESTAMP '1998-01-01'
      |    AND NOT (p = '4-NOT SPECIFIED'
      |      AND d >= TIMESTAMP '1997-06-01' AND d < TIMESTAMP '1997-07-01')
      |    AND NOT (p = '4-NOT SPECIFIED'
      |      AND d >= TIMESTAMP '1997-09-01' AND d < TIMESTAMP '1997-10-01')
      |),
      |states AS (
      |  SELECT CAST(0 AS BIGINT) AS b, * FROM s0
      |  UNION ALL SELECT CAST(1 AS BIGINT), * FROM s1
      |  UNION ALL SELECT CAST(2 AS BIGINT), * FROM s2
      |  UNION ALL SELECT CAST(3 AS BIGINT), * FROM s3
      |),
      |ks AS (SELECT DISTINCT k FROM states),
      |grid AS (
      |  SELECT ks.k, bb.b FROM ks
      |  CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)),
      |    (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT))) bb(b)
      |),
      |g AS (
      |  SELECT grid.k, grid.b, states.p, states.tp,
      |    states.k IS NOT NULL AS present
      |  FROM grid LEFT JOIN states
      |    ON grid.k = states.k AND grid.b = states.b
      |),
      |ev AS (
      |  SELECT k, b, p, tp, present,
      |    lag(present, 1, FALSE) OVER w AS prev_present,
      |    lag(p) OVER w AS prev_p
      |  FROM g WINDOW w AS (PARTITION BY k ORDER BY b)
      |),
      |events AS (
      |  SELECT k, b, p, tp, TRUE AS is_open FROM ev
      |  WHERE present
      |    AND (NOT prev_present OR p IS DISTINCT FROM prev_p)
      |  UNION ALL
      |  SELECT k, b, NULL, NULL, FALSE FROM ev
      |  WHERE (NOT present) AND prev_present
      |),
      |vers AS (
      |  SELECT k, p, tp, b AS valid_from,
      |    lead(b) OVER (PARTITION BY k ORDER BY b) AS valid_to, is_open
      |  FROM events
      |)
      |SELECT p AS o_orderpriority, valid_from,
      |  coalesce(valid_to, CAST(-1 AS BIGINT)) AS valid_to_c,
      |  CAST(count(1) AS BIGINT) AS n_versions,
      |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
      |  CAST(sum(CAST(round(tp * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  min(k) AS min_key, max(k) AS max_key
      |FROM vers WHERE is_open
      |GROUP BY 1, 2, 3""".stripMargin

  /** Mirrors CdcFaces `cdc_scd2_asof`: every key probed at every
    * position must attach the priority of the STATE at that position
    * — keys not yet added or already dropped attach NULL. The oracle
    * skips the intervals entirely and reads each state directly,
    * so the engine's as-of-through-the-dimension plan must agree
    * with ground truth, not with its own interval bookkeeping. */
  val ordersScd2AsOf: String =
    """WITH src AS (
      |  SELECT o_orderkey AS k, o_orderdate AS d, o_orderpriority AS p
      |  FROM orders
      |),
      |s0 AS (SELECT k, p FROM src WHERE d < TIMESTAMP '1997-07-01'),
      |s1 AS (SELECT k, p FROM src WHERE d < TIMESTAMP '1997-10-01'),
      |s2 AS (
      |  SELECT k,
      |    CASE WHEN d >= TIMESTAMP '1997-01-01'
      |          AND d < TIMESTAMP '1997-10-01' AND p = '5-LOW'
      |          THEN '3-MEDIUM'
      |         WHEN d >= TIMESTAMP '1996-01-01'
      |          AND d < TIMESTAMP '1996-04-01' AND p = '5-LOW'
      |          THEN '3-MEDIUM'
      |         ELSE p END AS p
      |  FROM src
      |  WHERE d < TIMESTAMP '1997-10-01'
      |    AND NOT (p = '4-NOT SPECIFIED'
      |      AND d >= TIMESTAMP '1997-06-01' AND d < TIMESTAMP '1997-07-01')
      |    AND NOT (p = '4-NOT SPECIFIED'
      |      AND d >= TIMESTAMP '1997-09-01' AND d < TIMESTAMP '1997-10-01')
      |),
      |s3 AS (
      |  SELECT k,
      |    CASE WHEN d >= TIMESTAMP '1997-01-01'
      |          AND d < TIMESTAMP '1997-10-01' AND p = '5-LOW'
      |          THEN '3-MEDIUM'
      |         ELSE p END AS p
      |  FROM src
      |  WHERE d < TIMESTAMP '1998-01-01'
      |    AND NOT (p = '4-NOT SPECIFIED'
      |      AND d >= TIMESTAMP '1997-06-01' AND d < TIMESTAMP '1997-07-01')
      |    AND NOT (p = '4-NOT SPECIFIED'
      |      AND d >= TIMESTAMP '1997-09-01' AND d < TIMESTAMP '1997-10-01')
      |),
      |states AS (
      |  SELECT CAST(0 AS BIGINT) AS b, * FROM s0
      |  UNION ALL SELECT CAST(1 AS BIGINT), * FROM s1
      |  UNION ALL SELECT CAST(2 AS BIGINT), * FROM s2
      |  UNION ALL SELECT CAST(3 AS BIGINT), * FROM s3
      |),
      |allk AS (
      |  SELECT k FROM src WHERE d < TIMESTAMP '1998-01-01'
      |),
      |f AS (
      |  SELECT allk.k, bb.b FROM allk
      |  CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)),
      |    (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT))) bb(b)
      |),
      |j AS (
      |  SELECT f.b AS pos, states.p, f.k
      |  FROM f LEFT JOIN states ON f.k = states.k AND f.b = states.b
      |)
      |SELECT pos, p AS o_orderpriority,
      |  CAST(count(1) AS BIGINT) AS n_keys,
      |  min(k) AS min_key, max(k) AS max_key
      |FROM j GROUP BY 1, 2""".stripMargin

  /** Mirrors CdcFaces `cdc_changes_between_orders`: the bounded-window
    * net change (1, 2] — state1 vs state2 diffed independently. The
    * 1996 change-then-revert keys DO appear here (the reverting batch
    * 3 sits outside the window) — the window bound itself is what the
    * full-span net query cannot check. */
  val ordersChangesBetween1And2: String =
    """WITH o AS (
      |  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-10-01'
      |),
      |n AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    o_orderdate,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |        AND o_orderdate < TIMESTAMP '1997-10-01'
      |        AND o_orderpriority = '5-LOW' THEN '3-MEDIUM'
      |      WHEN o_orderdate >= TIMESTAMP '1996-01-01'
      |        AND o_orderdate < TIMESTAMP '1996-04-01'
      |        AND o_orderpriority = '5-LOW' THEN '3-MEDIUM'
      |      ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-10-01'
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-06-01'
      |      AND o_orderdate < TIMESTAMP '1997-07-01')
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-09-01'
      |      AND o_orderdate < TIMESTAMP '1997-10-01')
      |),
      |j AS (
      |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
      |    (o.o_orderkey IS NULL) AS is_added,
      |    (n.o_orderkey IS NULL) AS is_removed,
      |    CAST(o.o_custkey IS DISTINCT FROM n.o_custkey AS INT) +
      |    CAST(o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS INT) +
      |    CAST(o.o_totalprice IS DISTINCT FROM n.o_totalprice AS INT) +
      |    CAST(o.o_orderdate IS DISTINCT FROM n.o_orderdate AS INT) +
      |    CAST(o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
      |      AS INT) AS n_changed
      |  FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey
      |)
      |SELECT
      |  CASE WHEN is_added THEN 'added' WHEN is_removed THEN 'removed'
      |    ELSE 'changed' END AS diff_status,
      |  CAST(count(1) AS BIGINT) AS n_rows,
      |  min(k) AS min_key, max(k) AS max_key,
      |  CAST(sum(n_changed) AS BIGINT) AS n_changed_cells
      |FROM j
      |WHERE is_added OR is_removed OR n_changed > 0
      |GROUP BY 1""".stripMargin

  /** Mirrors CdcFaces `cdc_joinview_orders_mkt`: the endpoint
    * orders ⋈ customer per-segment revenue recomputed from scratch —
    * the engine instead applies the orders log's signed join delta to
    * the state0 seed, so every add/remove/re-prioritization must
    * reach the right segment THROUGH the join. */
  val ordersJoinViewMaintained: String =
    """WITH n AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-06-01'
      |      AND o_orderdate < TIMESTAMP '1997-07-01')
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-09-01'
      |      AND o_orderdate < TIMESTAMP '1997-10-01')
      |)
      |SELECT c.c_mktsegment,
      |  CAST(sum(CAST(round(n.o_totalprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  CAST(count(1) AS BIGINT) AS n_rows
      |FROM n JOIN customer c ON n.o_custkey = c.c_custkey
      |GROUP BY 1""".stripMargin

  /** Mirrors CdcFaces `cdc_joinview_persisted`: the endpoint A₂ ⋈ B₂
    * per-segment revenue recomputed from the source tables — the
    * engine instead maintains the PERSISTED two-log join view
    * (runtime/StarJoinView, one dim) across the interleaved history
    * (A adds, A price bumps, B segment flips, B row removals),
    * committing the position PAIR atomically with the data, so a hash
    * match proves every signed contribution of both logs landed
    * exactly once. */
  val ordersJoinViewPersisted: String =
    """WITH a AS (
      |  SELECT o_custkey,
      |    o_totalprice
      |      + CASE WHEN o_orderkey % 7 = 0 THEN 1.0 ELSE 0.0 END
      |      AS price
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-10-01'
      |), b AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 3 THEN 'FLIPPED'
      |         ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer
      |  WHERE NOT (c_custkey % 17 = 5)
      |)
      |SELECT b.c_mktsegment,
      |  CAST(sum(CAST(round(a.price * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  CAST(count(1) AS BIGINT) AS n_rows
      |FROM a JOIN b ON a.o_custkey = b.c_custkey
      |GROUP BY 1""".stripMargin

  /** Mirrors Vacuum.sweepHealthFace: the restored partition's row
    * count recomputed from source (the planted between-renames crash
    * moved exactly the 1-URGENT partition of the pre-1997-07 orders
    * slice out to its backup), plus the sweep's action accounting —
    * 2 table-sweep actions (the restore + the staging drop), 1
    * recluster-backup drop, 1 recluster-staging drop, and a
    * second-pass count of 0 (idempotence). Honesty note: only
    * `restored_rows` is recomputed from source; the four action-count
    * columns are deterministic CONTRACT PINS derived from the planted
    * fixture (the face plants exactly these four crash shapes), not
    * independently recomputed facts. */
  val vacuumSweepHealth: String =
    """-- restored_rows is source-recomputed; the four action counts are
      |-- fixture-derived contract pins (the face plants exactly these
      |-- crash shapes), not independently recomputed facts.
      |SELECT CAST(count(1) AS BIGINT) AS restored_rows,
      |  CAST(2 AS BIGINT) AS table_sweep_actions,
      |  CAST(1 AS BIGINT) AS recluster_backup_drops,
      |  CAST(1 AS BIGINT) AS recluster_staging_drops,
      |  CAST(0 AS BIGINT) AS second_pass_actions
      |FROM orders
      |WHERE o_orderdate < TIMESTAMP '1997-07-01'
      |  AND o_orderpriority = '1-URGENT'""".stripMargin

  /** Mirrors CdcFaces `cdc_leftjoinview_persisted` (and its
    * partitioned twin): the endpoint A₂ ⟕ B₂ recomputed from source —
    * the engine instead MAINTAINS the left-outer view across a
    * history where B keys appear (the %13 customers the seed lacked)
    * and disappear (the %17 drop left for serve-time catch-up), so
    * both zero-crossing directions of the count-augmented outer
    * delta must land exactly: unmatched orders live in the
    * NULL-segment group, and the B-side measure reads
    * COALESCE(SUM(c_nationkey), 0) — the view's stated NULL-as-0
    * measure contract. */
  val ordersLeftJoinViewPersisted: String =
    """WITH a AS (
      |  SELECT o_custkey, o_orderpriority,
      |    o_totalprice
      |      + CASE WHEN o_orderkey % 7 = 0 THEN 1.0 ELSE 0.0 END
      |      AS price
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-10-01'
      |), b AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 3 THEN 'FLIPPED'
      |         ELSE c_mktsegment END AS c_mktsegment,
      |    c_nationkey
      |  FROM customer
      |  WHERE NOT (c_custkey % 17 = 5)
      |)
      |SELECT b.c_mktsegment, a.o_orderpriority,
      |  CAST(sum(CAST(round(a.price * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  CAST(COALESCE(sum(b.c_nationkey), 0) AS BIGINT) AS nation_sum,
      |  CAST(count(1) AS BIGINT) AS n_rows
      |FROM a LEFT JOIN b ON a.o_custkey = b.c_custkey
      |GROUP BY 1, 2""".stripMargin

  /** Mirrors CdcFaces `cdc_distinct_view_orders`: the endpoint
    * per-priority COUNT(DISTINCT custkey) recomputed from scratch over
    * the same deterministic endpoint state as the min/max twin — the
    * engine maintains it by touched-group recompute from the log's
    * named groups. */
  val ordersPriorityDistinct: String =
    """WITH n AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |        AND o_orderdate < TIMESTAMP '1997-10-01'
      |        AND o_orderpriority = '5-LOW' THEN '3-MEDIUM'
      |      ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-06-01'
      |      AND o_orderdate < TIMESTAMP '1997-07-01')
      |    AND NOT (o_orderpriority = '4-NOT SPECIFIED'
      |      AND o_orderdate >= TIMESTAMP '1997-09-01'
      |      AND o_orderdate < TIMESTAMP '1997-10-01')
      |)
      |SELECT o_orderpriority,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
      |  CAST(count(1) AS BIGINT) AS n_rows
      |FROM n
      |GROUP BY 1""".stripMargin

  /** Mirrors CdcFaces `cdc_leftstarview_persisted`: the endpoint
    * F₁ ⟕ C₁ ⟕ P₂ chained left star recomputed from source. The
    * endpoint customer dim is COMPLETE (the %13 keys appeared at
    * batch 1), so no NULL-segment group may survive — the mass
    * retraction is part of what the hash proves; the batch-2
    * priority-dim drop leaves its facts in the NULL-class group
    * (prio_class IS NULL) instead of removing them as the inner twin
    * does. COALESCE(SUM, 0) mirrors the view's NULL-as-0 measure
    * contract. */
  val ordersLeftStarViewPersisted: String =
    """WITH f AS (
      |  SELECT o_custkey, o_orderpriority, o_totalprice
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-10-01'
      |), c AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 3 THEN 'FLIPPED'
      |         ELSE c_mktsegment END AS c_mktsegment,
      |    c_nationkey
      |  FROM customer
      |), p AS (
      |  SELECT DISTINCT o_orderpriority,
      |    CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
      |         THEN 'fast' ELSE 'slow' END AS prio_class
      |  FROM orders
      |  WHERE o_orderpriority <> '4-NOT SPECIFIED'
      |)
      |SELECT c.c_mktsegment, p.prio_class,
      |  CAST(sum(CAST(round(f.o_totalprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  CAST(COALESCE(sum(c.c_nationkey), 0) AS BIGINT) AS nation_sum,
      |  CAST(count(1) AS BIGINT) AS n_rows
      |FROM f
      |LEFT JOIN c ON f.o_custkey = c.c_custkey
      |LEFT JOIN p ON f.o_orderpriority = p.o_orderpriority
      |GROUP BY 1, 2""".stripMargin

  /** Mirrors CdcFaces `cdc_leftstarview_partitioned`: the same
    * endpoint left star at the finer (priority × segment × class)
    * grain — the partition dim must be fact-side (never null). */
  val ordersLeftStarViewPartitioned: String =
    """WITH f AS (
      |  SELECT o_custkey, o_orderpriority, o_totalprice
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-10-01'
      |), c AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 3 THEN 'FLIPPED'
      |         ELSE c_mktsegment END AS c_mktsegment,
      |    c_nationkey
      |  FROM customer
      |), p AS (
      |  SELECT DISTINCT o_orderpriority,
      |    CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
      |         THEN 'fast' ELSE 'slow' END AS prio_class
      |  FROM orders
      |  WHERE o_orderpriority <> '4-NOT SPECIFIED'
      |)
      |SELECT f.o_orderpriority, c.c_mktsegment, p.prio_class,
      |  CAST(sum(CAST(round(f.o_totalprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  CAST(COALESCE(sum(c.c_nationkey), 0) AS BIGINT) AS nation_sum,
      |  CAST(count(1) AS BIGINT) AS n_rows
      |FROM f
      |LEFT JOIN c ON f.o_custkey = c.c_custkey
      |LEFT JOIN p ON f.o_orderpriority = p.o_orderpriority
      |GROUP BY 1, 2, 3""".stripMargin

  /** Mirrors CdcFaces `cdc_starview_persisted`: the endpoint
    * F₁ ⋈ C₁ ⋈ P₂ three-way star recomputed from source — fact at its
    * widened horizon, the customer dim with its deterministic segment
    * flip, the priority dim re-derived with the batch-1 reclass and
    * the batch-2 '4-NOT SPECIFIED' removal applied. */
  val ordersStarViewPersisted: String =
    """WITH f AS (
      |  SELECT o_custkey, o_orderpriority, o_totalprice
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-10-01'
      |), c AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 3 THEN 'FLIPPED'
      |         ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer
      |), p AS (
      |  SELECT DISTINCT o_orderpriority,
      |    CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
      |         THEN 'fast' ELSE 'slow' END AS prio_class
      |  FROM orders
      |  WHERE o_orderpriority <> '4-NOT SPECIFIED'
      |)
      |SELECT c.c_mktsegment, p.prio_class,
      |  CAST(sum(CAST(round(f.o_totalprice * 100, 0) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  CAST(count(1) AS BIGINT) AS n_rows
      |FROM f
      |JOIN c ON f.o_custkey = c.c_custkey
      |JOIN p ON f.o_orderpriority = p.o_orderpriority
      |GROUP BY 1, 2""".stripMargin

  /** Mirrors CdcFaces `cdc_snapshot_at_orders`: the time-travel
    * reconstruction of position 1 — state1 is simply the source
    * filtered to its date horizon (no transforms had happened yet),
    * computed here directly; the engine must UNWIND batches 2 and 3
    * from the current table using only the log's pre-images. */
  val ordersSnapshotAt1: String =
    """SELECT o_orderpriority,
      |  CAST(count(1) AS BIGINT) AS n_rows,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM orders
      |WHERE o_orderdate < TIMESTAMP '1997-10-01'
      |GROUP BY 1""".stripMargin

  /** Mirrors SubqueryOps.scalarCountBug: the literal correlated scalar
    * COUNT — DuckDB's decorrelation must make the same 0-not-NULL
    * empty-input patch. */
  val scalarCountBug: String =
    """SELECT c.c_custkey,
      |  (SELECT CAST(count(1) AS BIGINT) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey
      |     AND o.o_orderpriority = '1-URGENT'
      |     AND o.o_orderdate >= TIMESTAMP '1997-06-01'
      |     AND o.o_orderdate < TIMESTAMP '1997-09-01')
      |    AS n_urgent_q3
      |FROM customer c
      |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin

  /** Mirrors SubqueryOps.lateralTopOrders: DuckDB's LATERAL with the
    * identical deterministic (price DESC, orderkey) frontier. */
  val lateralTopOrders: String =
    """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.totalprice_c
      |FROM customer c, LATERAL (
      |  SELECT o.o_orderkey,
      |    CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS totalprice_c
      |  FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY CAST(round(o.o_totalprice * 100, 0) AS BIGINT) DESC,
      |    o.o_orderkey
      |  LIMIT 3) t""".stripMargin

  /** Mirrors CoreOps.q6ForecastRevenue: same pushable double-literal
    * band, same integer hundredths-of-cents product sum. */
  val q6ForecastRevenue: String =
    """SELECT
      |  round((CAST(CAST(sum(
      |      CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
      |      CAST(round(l_discount * 100, 0) AS BIGINT))
      |    AS BIGINT) AS DOUBLE) / 10000) * 100, 0) / 100.0 AS revenue,
      |  CAST(count(1) AS BIGINT) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount >= CAST(0.05 AS DOUBLE)
      |  AND l_discount <= CAST(0.07 AS DOUBLE)
      |  AND l_quantity < 24""".stripMargin

  /** Mirrors JoinOps.q12LatePriority: same cross-table lag residual,
    * same one-pass two-way conditional count. */
  val q12LatePriority: String =
    """SELECT l.l_returnflag,
      |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
      |GROUP BY 1""".stripMargin

  /** Mirrors AggExtOps.corrRegression: identical exact-bigint
    * sufficient statistics, identical IEEE double tree. */
  val corrRegression: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(count(1) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
      |      AS sx,
      |    CAST(sum(CAST(round(l_extendedprice, 0) AS BIGINT)) AS BIGINT)
      |      AS sy,
      |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT) *
      |      CAST(round(l_extendedprice, 0) AS BIGINT)) AS BIGINT) AS sxy,
      |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT) *
      |      CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sxx,
      |    CAST(sum(CAST(round(l_extendedprice, 0) AS BIGINT) *
      |      CAST(round(l_extendedprice, 0) AS BIGINT)) AS BIGINT) AS syy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |      sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
      |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
      |    * 1000000, 0) / 1000000.0 AS corr_qty_price,
      |  round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      |    * 1000000, 0) / 1000000.0 AS slope,
      |  round(((CAST(sy AS DOUBLE) -
      |      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |      CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
      |    * 1000000, 0) / 1000000.0 AS intercept
      |FROM s""".stripMargin

  /** Mirrors CdcFaces `cdc_view_sessions_country`: the per-country
    * view maintained purely from the SILVER change log must equal the
    * from-scratch per-country aggregate of the endpoint sessionization
    * (the incremental chain is exact, so the endpoint silver is the
    * full recompute — same CTE stack as the silver_sessions oracle). */
  val sessionsCountryView: String =
    s"""WITH ${Oracles.enrichedCte},
       |${Oracles.dedupCte},
       |${Oracles.sessionsCte("dedup")}
       |SELECT country,
       |  CAST(sum(n_events) AS BIGINT) AS n_events,
       |  CAST(sum(sum_value_cents) AS BIGINT) AS sum_value_cents,
       |  CAST(count(1) AS BIGINT) AS n_rows
       |FROM sessions GROUP BY 1""".stripMargin
}
