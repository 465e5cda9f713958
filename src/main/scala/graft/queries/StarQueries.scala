package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-surface certification (SURVEY.md §2.4 note, §7.2-M2):
  * joins (inner/left/semi/anti/broadcast), aggregation (distinct, rollup,
  * cube), window functions (rank/lag/frames), sort/limit/top-k, set
  * operations, scalar string/date/math expressions — each registered in
  * certs.Rel with a DuckDB oracle.
  *
  * Scale notes (100 TB):
  *  - Dimensions (region/nation, and customer where it qualifies) are
  *    broadcast; the fact tables (lineitem/orders) shuffle at most once
  *    per aggregation key.
  *  - Aggregates are declarative `groupBy().agg()` ⇒ map-side partial
  *    aggregation + AQE partition coalescing for free.
  *  - Filters appear before joins so Catalyst pushes them into the
  *    parquet scans (PushedFilters), and projections are minimal so
  *    ReadSchema stays narrow.
  *  - Floating-point aggregates are rounded at the output edge only
  *    (display contract), never mid-plan.
  */
object StarQueries {

  /** TPC-H Q1-shaped pricing summary: wide aggregate over the biggest
    * fact table; one shuffle on a 6-value grouping key. */
  def q1PricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-shaped: selective dimension filter → join → top-k revenue.
    * customer(BUILDING) is small after the filter ⇒ broadcast to the
    * orders⋈lineitem side; top-k is a single global sort-limit. */
  def q3TopRevenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame, k: Int): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)

  /** TPC-H Q5-shaped: five-way join, revenue per nation within a region.
    * region/nation/supplier broadcast; lineitem shuffles once on the
    * grouping key. */
  def q5RegionRevenue(
      region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))

  /** Full TPC-H Q5 shape including the local-supplier condition: lineitem
    * joins supplier on BOTH l_suppkey and the customer's nation — the
    * classic multi-equi-join the optimizer must order well. supplier/
    * nation/region broadcast; lineitem shuffles once for the aggregate. */
  def q5LocalSupplier(
      region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame, supplier: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))

  /** TPC-H Q4-shaped EXISTS through the SQL TEXT surface: the point is
    * not the semi-join (rel_join_semi certifies that) but Catalyst's
    * RewritePredicateSubquery — a correlated EXISTS written as SQL must
    * decorrelate into the same left-semi plan a DataFrame author would
    * hand-build. lineitem's correlated scan keeps its returnflag filter
    * pushed below the semi-join. */
  def q4PriorityExists(spark: SparkSession, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("q4_orders")
    lineitem.createOrReplaceTempView("q4_lineitem")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM q4_orders
        |WHERE EXISTS (SELECT 1 FROM q4_lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q17-shaped correlated SCALAR subquery: per-part average
    * quantity threshold — Catalyst decorrelates the aggregate subquery
    * into a per-key aggregate joined back (one extra shuffle on
    * l_partkey, not one subquery execution per outer row, which at
    * 100 TB is the difference between a plan and a timeout).
    * l_quantity is integer-valued, so sum/avg are IEEE-exact and the
    * threshold comparison is engine-stable with no quantization. */
  def q17SmallQuantity(spark: SparkSession, part: DataFrame, lineitem: DataFrame): DataFrame = {
    part.createOrReplaceTempView("q17_part")
    lineitem.createOrReplaceTempView("q17_lineitem")
    spark.sql(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM q17_lineitem JOIN q17_part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM q17_lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  /** TPC-H Q22-shaped: uncorrelated scalar subquery (global average
    * balance threshold) + correlated NOT EXISTS (never placed a large
    * order — every customer has SOME order in this data, so the plain
    * no-orders predicate would certify an empty result), both in one
    * SQL text. The scalar average is float-quantized in BOTH engines'
    * texts — a row-order-dependent double sum used as a comparison
    * threshold is the one place aggregate noise could flip a row
    * across engines. */
  def q22IdleCustomers(spark: SparkSession, customer: DataFrame, orders: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("q22_customer")
    orders.createOrReplaceTempView("q22_orders")
    spark.sql(
      """SELECT c_mktsegment, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
        |FROM q22_customer
        |WHERE c_acctbal > (SELECT CAST(CAST(avg(c_acctbal) AS FLOAT) AS DOUBLE)
        |                   FROM q22_customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM q22_orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_mktsegment""".stripMargin)
  }

  /** TPC-H Q7-shaped: bidirectional nation-pair volume by ship year —
    * a five-way star join whose nation filter broadcasts through BOTH
    * dimension arms before the fact joins, with the symmetric pair
    * predicate as a residual OR. Revenue terms are 4-decimal exact in
    * double (2-dec price x 2-dec discount), so the per-(pair, year)
    * sums are order-independent and the output rounding is cosmetic. */
  def q7NationVolume(
      spark: SparkSession, supplier: DataFrame, lineitem: DataFrame,
      orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("q7_supplier")
    lineitem.createOrReplaceTempView("q7_lineitem")
    orders.createOrReplaceTempView("q7_orders")
    customer.createOrReplaceTempView("q7_customer")
    nation.createOrReplaceTempView("q7_nation")
    spark.sql(
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             CAST(year(l_shipdate) AS INT) AS l_year,
        |             l_extendedprice * (1 - l_discount) AS volume
        |      FROM q7_supplier, q7_lineitem, q7_orders, q7_customer,
        |           q7_nation n1, q7_nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey
        |        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  /** TPC-H Q10-shaped: top returned-revenue customers in a year — the
    * classic fact-filtered star with a total-ordered top-k (rounded
    * exact revenue desc, custkey tiebreak). */
  def q10ReturnedRevenue(
      spark: SparkSession, customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, nation: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("q10_customer")
    orders.createOrReplaceTempView("q10_orders")
    lineitem.createOrReplaceTempView("q10_lineitem")
    nation.createOrReplaceTempView("q10_nation")
    spark.sql(
      """SELECT c_custkey, c_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM q10_customer, q10_orders, q10_lineitem, q10_nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
  }

  /** TPC-H Q13-shaped: customer order-count distribution — LEFT join
    * with an extra ON-clause predicate (zero-order customers must
    * survive into the c_count = 0 bucket), then a histogram over the
    * per-customer counts. */
  def q13OrderHistogram(
      spark: SparkSession, customer: DataFrame, orders: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("q13_customer")
    orders.createOrReplaceTempView("q13_orders")
    spark.sql(
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM q13_customer LEFT JOIN q13_orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }

  /** TPC-H Q14-shaped: promo revenue share in one ship month — the
    * conditional-aggregate ratio; both sums are exact in double so
    * the division is engine-identical before the output rounding. */
  def q14PromoShare(
      spark: SparkSession, lineitem: DataFrame, part: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("q14_lineitem")
    part.createOrReplaceTempView("q14_part")
    spark.sql(
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                  THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
        |FROM q14_lineitem JOIN q14_part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'""".stripMargin)
  }

  /** Recursive CTE (Spark 4.x `WITH RECURSIVE`): walk the synthetic
    * management tree parent(k) = k div 10 rooted at custkeys < 10,
    * accumulating the root-to-node balance along each path. The
    * recursion is the one relational shape the engine's fixed
    * DataFrame pipelines cannot express statically (depth is data-
    * dependent); Catalyst plans it as an iterative union loop — each
    * iteration is ONE equi-join of the frontier against the (small,
    * broadcastable) customer dimension, so a D-level hierarchy costs
    * D joins, not D scans of the fact side. Path sums accumulate in
    * exact integer cents along the UNIQUE root path (one parent per
    * node), so the per-depth totals are order-free and engine-
    * portable. The `c_custkey >= 10` guard excludes key 0, whose
    * div-10 parent is itself — without it the loop never converges
    * (the recursive-CTE analog of the fuzzyPred re-fire hazard in
    * plans/JoinRewriteGuard). */
  def recursivePathSum(spark: SparkSession, customer: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("rec_customer")
    spark.sql(
      """WITH RECURSIVE tree AS (
        |  SELECT c_custkey, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS path_cents,
        |         0 AS depth
        |  FROM rec_customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey,
        |         t.path_cents + CAST(round(c.c_acctbal * 100, 0) AS BIGINT),
        |         t.depth + 1
        |  FROM rec_customer c JOIN tree t
        |    ON c.c_custkey div 10 = t.c_custkey AND c.c_custkey >= 10
        |)
        |SELECT depth, count(*) AS n_nodes, sum(path_cents) AS total_path_cents
        |FROM tree GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** TPC-H Q21-shaped: correlated EXISTS and NOT EXISTS against the
    * SAME fact table at once — suppliers in two nations who were the
    * SOLE at-fault supplier (l_returnflag = 'R', standing in for
    * Q21's receipt-after-commit predicate, absent from this trimmed
    * lineitem schema) on finalized multi-supplier orders. Catalyst
    * decorrelates both subqueries into one left-semi and one
    * left-anti join on l_orderkey, each with the `l_suppkey <>`
    * disequality as residual join condition — three shuffles of the
    * fact table keyed on the SAME column, which AQE coalesces and a
    * l_orderkey-bucketed layout (sources.Bucketing) plans entirely
    * exchange-free. The nation filter broadcasts through the
    * supplier dimension before the fact join, so only matching
    * suppliers' lineitems survive into the heavy subquery joins.
    * Top-10 by (numwait desc, s_name) is total-ordered. */
  def q21LoneFaultSupplier(
      spark: SparkSession, supplier: DataFrame, lineitem: DataFrame,
      orders: DataFrame, nation: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("q21_supplier")
    lineitem.createOrReplaceTempView("q21_lineitem")
    orders.createOrReplaceTempView("q21_orders")
    nation.createOrReplaceTempView("q21_nation")
    spark.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM q21_supplier, q21_lineitem l1, q21_orders, q21_nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND l1.l_returnflag = 'R' AND o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM q21_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey AND n_name IN ('NATION_3', 'NATION_7')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin)
  }

  /** TPC-H Q6-shaped forecast-revenue change: the canonical no-join
    * scan-aggregate — every predicate (shipdate range, discount band,
    * quantity cap) pushes into the parquet scan (PushedFilters), the
    * ReadSchema is 4 columns, and the single global sum needs no
    * shuffle at all (partial-agg → one-row final). At 100 TB this is
    * the query whose cost IS the IO, so the only thing that matters
    * is that nothing blocks pushdown — no casts or arithmetic on the
    * filtered columns before the filter. */
  def q6ForecastRevenue(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(
        col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  /** TPC-H Q8-shaped national market share: the 8-way join (both
    * nation arms + region) with a conditional-share aggregate. The
    * share numerator/denominator are computed in EXACT integer cents
    * (price is 2-dec, discount is a 2-dec fraction, so
    * round(price*100) * round((1-disc)*100) is an exact BIGINT) —
    * a ratio of two order-dependent double sums rounded to 4 decimals
    * is precisely the place engine-noise could flip the last digit.
    * All dimensions broadcast; lineitem shuffles once on o_year. */
  def q8MarketShare(
      spark: SparkSession, part: DataFrame, supplier: DataFrame,
      lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    part.createOrReplaceTempView("q8_part")
    supplier.createOrReplaceTempView("q8_supplier")
    lineitem.createOrReplaceTempView("q8_lineitem")
    orders.createOrReplaceTempView("q8_orders")
    customer.createOrReplaceTempView("q8_customer")
    nation.createOrReplaceTempView("q8_nation")
    region.createOrReplaceTempView("q8_region")
    spark.sql(
      """SELECT o_year,
        |       round(CAST(sum(CASE WHEN nation = 'NATION_9' THEN volume_cents ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(volume_cents) AS DOUBLE), 4) AS mkt_share
        |FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |               * CAST(round((1 - l_discount) * 100, 0) AS BIGINT) AS volume_cents,
        |             n2.n_name AS nation
        |      FROM q8_part, q8_supplier, q8_lineitem, q8_orders, q8_customer,
        |           q8_nation n1, q8_nation n2, q8_region
        |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        |        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |        AND p_type = 'ECONOMY') all_nations
        |GROUP BY o_year ORDER BY o_year""".stripMargin)
  }

  /** TPC-H Q9-shaped product-type profit. The reference schema has no
    * partsupp, so ps_supplycost is proxied by 10% of p_retailprice per
    * unit — the SHAPE (substring part filter, five-way join, per-
    * (nation, year) profit rollup) is what's certified. Profit
    * accumulates in EXACT 1e-4-dollar integer units (revenue =
    * cents x cent-fraction; cost = retail-cents x qty x 10) — the
    * first cut of this query summed doubles and the sf0.01 oracle
    * diff landed EXACTLY on a half-cent boundary (…5.845 vs …5.85),
    * the concrete demonstration of why per-group money sums are
    * integers in this codebase. */
  def q9ProfitByNation(
      spark: SparkSession, part: DataFrame, supplier: DataFrame,
      lineitem: DataFrame, orders: DataFrame, nation: DataFrame): DataFrame = {
    part.createOrReplaceTempView("q9_part")
    supplier.createOrReplaceTempView("q9_supplier")
    lineitem.createOrReplaceTempView("q9_lineitem")
    orders.createOrReplaceTempView("q9_orders")
    nation.createOrReplaceTempView("q9_nation")
    spark.sql(
      """SELECT nation, o_year,
        |       round(CAST(sum(amount_e4) AS DOUBLE) / 10000.0, 2) AS sum_profit
        |FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |               * CAST(round((1 - l_discount) * 100, 0) AS BIGINT)
        |               - CAST(round(p_retailprice * 100, 0) AS BIGINT)
        |                 * CAST(l_quantity AS BIGINT) * 10 AS amount_e4
        |      FROM q9_part, q9_supplier, q9_lineitem, q9_orders, q9_nation
        |      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |        AND p_name LIKE '%widget%') profit
        |GROUP BY nation, o_year ORDER BY nation, o_year""".stripMargin)
  }

  /** TPC-H Q11-shaped important stock. partsupp is reconstructed from
    * the fact table itself (distinct (l_partkey, l_suppkey) with
    * sum(l_quantity) as availqty — quantities are integer-valued so
    * the sum is exact), and stock value is availqty x retail-cents —
    * all-BIGINT arithmetic, so the HAVING-above-global-fraction
    * threshold (the query's point: a grouped aggregate filtered by an
    * uncorrelated scalar subquery over the SAME derived table) is an
    * exact comparison both engines resolve identically. The derived
    * supply table is built once in a CTE; Catalyst plans the two
    * consumers as two scans of the same shuffle output. */
  def q11ImportantStock(
      spark: SparkSession, lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame, nation: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("q11_lineitem")
    part.createOrReplaceTempView("q11_part")
    supplier.createOrReplaceTempView("q11_supplier")
    nation.createOrReplaceTempView("q11_nation")
    spark.sql(
      """WITH supply AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         CAST(sum(l_quantity) AS BIGINT) AS ps_availqty
        |  FROM q11_lineitem GROUP BY l_partkey, l_suppkey),
        |value AS (
        |  SELECT ps_partkey,
        |         CAST(sum(ps_availqty * CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS value_cents
        |  FROM supply, q11_part, q11_supplier, q11_nation
        |  WHERE ps_partkey = p_partkey AND ps_suppkey = s_suppkey
        |    AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |  GROUP BY ps_partkey)
        |SELECT ps_partkey, value_cents FROM value
        |WHERE value_cents > (SELECT CAST(sum(value_cents) AS DOUBLE) * 0.002 FROM value)
        |ORDER BY value_cents DESC, ps_partkey""".stripMargin)
  }

  /** TPC-H Q12-shaped shipping-priority audit. The reference lineitem
    * carries no shipmode/commitdate/receiptdate, so "late" is proxied
    * by ship-lag > 60 days and the mode axis by l_linestatus — the
    * SHAPE (fact-fact equi-join, disjunction-free CASE-sum pivot on
    * the priority class) is what's certified. Exact integer counts. */
  def q12LatePriorityCounts(
      spark: SparkSession, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("q12_orders")
    lineitem.createOrReplaceTempView("q12_lineitem")
    spark.sql(
      """SELECT l_linestatus,
        |       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS high_line_count,
        |       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS low_line_count
        |FROM q12_orders JOIN q12_lineitem ON o_orderkey = l_orderkey
        |WHERE datediff(l_shipdate, o_orderdate) > 60
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
  }

  /** TPC-H Q15 top supplier: the revenue view consumed twice — once
    * grouped, once under max() — with equality-to-the-max membership.
    * Revenue accumulates in EXACT integer cents (see q8) so the
    * max-equality cannot be flipped by summation order on either
    * engine; the display value divides back to currency at the edge.
    * Catalyst evaluates the uncorrelated scalar max once (one extra
    * reduction over the same shuffle), not per row. */
  def q15TopSupplier(
      spark: SparkSession, supplier: DataFrame, lineitem: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("q15_supplier")
    lineitem.createOrReplaceTempView("q15_lineitem")
    spark.sql(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |                   * CAST(round((1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS total_cents
        |  FROM q15_lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, round(CAST(total_cents AS DOUBLE) / 10000.0, 2) AS total_revenue
        |FROM q15_supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_cents = (SELECT max(total_cents) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** TPC-H Q16-shaped parts/supplier relationship: supplier counts per
    * (brand, type, size) bucket with a NOT IN exclusion subquery
    * (negative-balance suppliers standing in for Q16's complaint
    * filter; supply pairs reconstructed from lineitem as in q11).
    * Catalyst plans the NOT IN as a null-aware anti join — keys are
    * non-null here so it degenerates to the plain anti join — and the
    * count(DISTINCT) goes through the two-phase distinct expansion. */
  def q16SupplierCounts(
      spark: SparkSession, lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("q16_lineitem")
    part.createOrReplaceTempView("q16_part")
    supplier.createOrReplaceTempView("q16_supplier")
    spark.sql(
      """SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |      FROM q16_lineitem) supply, q16_part
        |WHERE p_partkey = ps_partkey
        |  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM q16_supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
  }

  /** TPC-H Q18 large-volume customers: the IN-subquery over a grouped
    * HAVING (orders whose total quantity clears a threshold) joined
    * back through customer — Catalyst decorrelates the IN into a
    * left-semi join against the aggregated subquery, so the fact
    * table is aggregated ONCE, not re-scanned per outer row.
    * l_quantity is integer-valued ⇒ the HAVING threshold is exact. */
  def q18LargeOrders(
      spark: SparkSession, customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("q18_customer")
    orders.createOrReplaceTempView("q18_orders")
    lineitem.createOrReplaceTempView("q18_lineitem")
    spark.sql(
      """SELECT c_name, c_custkey, o_orderkey,
        |       CAST(o_orderdate AS DATE) AS orderdate, o_totalprice,
        |       CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |FROM q18_customer, q18_orders, q18_lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM q18_lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
  }

  /** TPC-H Q19 discounted revenue: the disjunction-of-conjunctions
    * join predicate, written faithfully with the p_partkey = l_partkey
    * equality INSIDE each disjunct. The point is optimizer behavior:
    * BooleanSimplification factors the common equality out of the OR
    * (`(a && b) || (a && c)` → `a && (b || c)`), ExtractEquiJoinKeys
    * then sees an equi-join and plans a broadcast/shuffle HASH join
    * with the residual disjunction as its filter — NOT the O(n x m)
    * nested-loop a literal reading would give, which at 100 TB is the
    * difference between a scan and a non-plan. BenchSpec pins the
    * factored plan shape. */
  def q19DisjunctiveRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    def arm(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
      col("p_partkey") === col("l_partkey") &&
        col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qLo, qHi)
    lineitem
      .join(broadcast(part),
        arm("Brand#1", 15, 1, 11) || arm("Brand#2", 25, 10, 20) || arm("Brand#3", 35, 20, 30))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** TPC-H Q20-shaped part promotion: nested IN-subqueries — suppliers
    * who shipped a meaningful volume (grouped HAVING over an exact
    * integer quantity sum) of name-filtered parts in a year, cut to
    * one nation. Decorrelates to a semi-join chain over ONE aggregate
    * of the fact table. */
  def q20PartPromotion(
      spark: SparkSession, supplier: DataFrame, nation: DataFrame,
      lineitem: DataFrame, part: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("q20_supplier")
    nation.createOrReplaceTempView("q20_nation")
    lineitem.createOrReplaceTempView("q20_lineitem")
    part.createOrReplaceTempView("q20_part")
    spark.sql(
      """SELECT s_name, s_suppkey
        |FROM q20_supplier JOIN q20_nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_2'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM q20_lineitem JOIN q20_part ON l_partkey = p_partkey
        |    WHERE p_name LIKE 'red%'
        |      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 30)
        |ORDER BY s_name""".stripMargin)
  }

  /** TPC-H Q2-shaped minimum-cost supplier: the correlated scalar-min
    * subquery over a derived offer table (unit price = extendedprice /
    * quantity from lineitem — both engines evaluate the identical
    * IEEE division over the identical rows, and min() is order-free,
    * so equality-with-the-min membership is engine-exact without any
    * quantization). Catalyst decorrelates the per-part min into one
    * aggregate joined back (Q17's discipline); region/nation/supplier
    * broadcast around it. */
  def q2MinCostSupplier(
      spark: SparkSession, part: DataFrame, supplier: DataFrame,
      lineitem: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    part.createOrReplaceTempView("q2_part")
    supplier.createOrReplaceTempView("q2_supplier")
    lineitem.createOrReplaceTempView("q2_lineitem")
    nation.createOrReplaceTempView("q2_nation")
    region.createOrReplaceTempView("q2_region")
    spark.sql(
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_price
        |  FROM q2_lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       round(unit_price, 4) AS best_price
        |FROM q2_part, offers, q2_supplier, q2_nation, q2_region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND unit_price = (SELECT min(o2.unit_price)
        |                    FROM offers o2, q2_supplier s2, q2_nation n2, q2_region r2
        |                    WHERE o2.l_partkey = p_partkey AND s2.s_suppkey = o2.l_suppkey
        |                      AND s2.s_nationkey = n2.n_nationkey
        |                      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)
  }

  /** Extended window-function surface: ntile quartiles, percent_rank,
    * first_value over the default frame. */
  def windowExtras(customer: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    customer.select(
      col("c_mktsegment"), col("c_custkey"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 4).as("pct_rank"),
      first(col("c_custkey")).over(w).as("segment_top"))
  }

  /** left_semi — customers that have at least one order (EXISTS). */
  def customersWithOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))

  /** left_anti — customers with no orders (NOT EXISTS). */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"))

  /** full_outer — per-nation rich-customer vs cheap-supplier counts.
    * The two filtered aggregates leave each side missing some nations,
    * so both null-extension directions are genuinely exercised; the
    * join key count is tiny (≤ nations) and AQE plans it local. */
  def nationActivityFullOuter(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.filter(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_rich_customers"))
    val s = supplier.filter(col("s_acctbal") < 0)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_poor_suppliers"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_rich_customers"), lit(0L)).as("n_rich_customers"),
        coalesce(col("n_poor_suppliers"), lit(0L)).as("n_poor_suppliers"))
  }

  /** Broadcast dimension enrichment: customer ⋈ nation ⋈ region with both
    * dims broadcast — zero shuffle before the aggregate. */
  def customersPerRegion(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_acctbal"))

  /** Exact distinct aggregation (count + countDistinct in one pass). */
  def segmentStats(customer: DataFrame): DataFrame =
    customer
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        round(avg(col("c_acctbal")), 2).as("avg_acctbal"))

  /** ROLLUP over (region, nation); rolled-up groups surfaced as 'ALL'
    * (sentinel instead of NULL so ordering semantics are engine-neutral). */
  def acctbalRollup(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("total_acctbal"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_customers"), col("total_acctbal"))

  /** CUBE over (mktsegment, orderpriority). */
  def orderCube(customer: DataFrame, orders: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"))

  /** Window functions: row_number / rank / dense_rank / lag over a
    * deterministic per-segment ordering; top-3 per segment. */
  def topCustomersPerSegment(customer: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    customer
      .select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        lag(col("c_acctbal"), 1).over(w).as("prev_acctbal"))
      .filter(col("rn") <= k)
  }

  /** Running total (ROWS UNBOUNDED PRECEDING frame) of order value per
    * customer in date order. */
  def runningOrderTotal(orders: DataFrame, maxCustkey: Int): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .filter(col("o_custkey") <= maxCustkey)
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("orderdate"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
  }

  /** Global sort + limit top-k. */
  def topOrders(orders: DataFrame, k: Int): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)

  /** Set operations: buyers (distinct o_custkey) vs positive-balance
    * customers — union / intersect / except cardinalities. */
  def setOps(customer: DataFrame, orders: DataFrame): DataFrame = {
    val buyers = orders.select(col("o_custkey").as("custkey")).distinct()
    val positive = customer.filter(col("c_acctbal") > 0).select(col("c_custkey").as("custkey"))
    val u = buyers.union(positive).distinct().agg(count(lit(1)).as("n")).select(lit("union").as("op"), col("n"))
    val i = buyers.intersect(positive).agg(count(lit(1)).as("n")).select(lit("intersect").as("op"), col("n"))
    val e = buyers.except(positive).agg(count(lit(1)).as("n")).select(lit("except").as("op"), col("n"))
    u.unionAll(i).unionAll(e)
  }

  /** Scalar string/math expression surface over `part`. */
  def scalarStringMath(part: DataFrame): DataFrame =
    part.select(
      col("p_partkey"),
      upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
      length(col("p_name")).as("name_len"),
      replace(col("p_type"), lit(" "), lit("_")).as("type_slug"),
      (col("p_size") % 5).as("size_mod"),
      round(col("p_retailprice") * 1.1, 2).as("uplifted"),
      concat_ws(":", col("p_brand"), col("p_size")).as("brand_size"))

  /** Market-basket association mining: top-k part pairs co-ordered
    * more often than independence predicts (lift =
    * P(a,b) / (P(a)·P(b)), the classic "beer and diapers" statistic).
    * The pair generator is a SELF-JOIN ON THE ORDER KEY — candidate
    * pairs share a basket, never the catalog² cross — so pair volume
    * is Σ_orders C(items, 2), bounded by the basket-size cap (TPC-H:
    * ≤ 7 lines), linear in orders at any scale. Lift is integer
    * products (n_ab·N over n_a·n_b) with ONE final division; the
    * support floor prunes before ranking, and the rank window runs on
    * the surviving pair frame. */
  def basketLift(lineitem: DataFrame, minSupport: Int, k: Int): DataFrame = {
    val li = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val nOrders = li.select(countDistinct(col("ok")).as("n_orders"))
    val perPart = li.groupBy(col("pk")).agg(count(lit(1)).as("n_p"))
    val pairs = li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val w = Window.partitionBy(pmod(hash(col("lift")), lit(1)))
      .orderBy(col("lift").desc, col("pa"), col("pb"))
    pairs
      .join(perPart.select(col("pk").as("pa"), col("n_p").as("n_a")), Seq("pa"))
      .join(perPart.select(col("pk").as("pb"), col("n_p").as("n_b")), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("n_ab"),
        round((col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Scalar date expression surface over `orders`. */
  def scalarDates(orders: DataFrame): DataFrame = {
    val d = col("o_orderdate").cast("date")
    orders.select(
      col("o_orderkey"),
      d.as("orderdate"),
      year(d).as("y"),
      month(d).as("m"),
      dayofmonth(d).as("d"),
      quarter(d).as("q"),
      date_add(d, 30).as("due_date"),
      last_day(d).as("month_end"),
      datediff(lit(java.sql.Date.valueOf("2026-01-01")), d).as("age_days"))
  }
}
