package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Sources

/** Composite multi-join analytic queries — the TPC-H-shaped workloads a
  * warehouse user actually runs, as opposed to the single-operator rows of
  * SURVEY.md §2.3 (J1-J9 each isolate one join kind). These exist to prove
  * the *composition* story: with the whole pipeline declared as one
  * DataFrame plan, Catalyst gets to reorder the joins, broadcast every
  * dimension, push every filter into the parquet scan, and leave exactly
  * one shuffle join (the fact-fact `lineitem ⋈ orders` edge) — which is
  * the plan you want at 100 TB, where the dims still fit in memory but the
  * facts never do. `AnalyticsSpec` pins that shape (dims broadcast, no
  * cartesian, bounded exchange count) so a refactor can't silently turn a
  * dimension join into a second fact shuffle.
  *
  * Reference anchor: the reference README describes a one-shot relational
  * migration (`/root/reference/README.md:5-19`) with no analytic tier; this
  * module is part of the beyond-reference warehouse surface, kept
  * hash-verifiable against DuckDB like every other tier.
  *
  * Scale conventions follow [[Relational]]: DECIMAL(12,2) before any money
  * aggregation (partition-count-independent sums), explicit `broadcast()`
  * on dimension sides, a total ORDER BY, and LIMIT ties broken by a unique
  * key so top-k is deterministic in both engines.
  */
object Analytics {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Sources.table(s, dir, n)

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  private def rnd(c: Column): Column = round(c.cast(DoubleType), 4)

  /** Revenue expression shared by all three composites (TPC-H's
    * `l_extendedprice * (1 - l_discount)`), decimal-exact.
    */
  private def revenue: Column =
    sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))

  // ---------------------------------------------------------------- Q1

  /** Pricing summary (TPC-H Q1 shape) — THE canonical scan-heavy
    * aggregate: one pass over lineitem, four decimal-exact sums, three
    * derived averages, grouped by the 2×2 flag/status cells. No joins;
    * the whole query is a partial+final hash aggregate over a pushed
    * date filter — at 100 TB this is a pure scan-bandwidth benchmark,
    * which is exactly why TPC-H leads with it. Averages divide the
    * exact decimal sums in DOUBLE through [[Num.r4]] (division-derived
    * → portable rounding); scale-6 sum_charge also goes through r4
    * (beyond the scale-4 exactness bound plain `round` relies on).
    */
  private def qTpchQ1(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-09-02").cast(TimestampType)
    val cnt = count(lit(1))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= cutoff)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        rnd(sum(dec(col("l_quantity")))).as("sum_qty"),
        rnd(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        rnd(revenue).as("sum_disc_price"),
        Num.r4(sum(dec(col("l_extendedprice"))
            * (lit(1) - dec(col("l_discount")))
            * (lit(1) + dec(col("l_tax")))).cast(DoubleType))
          .as("sum_charge"),
        Num.r4(sum(dec(col("l_quantity"))).cast(DoubleType) / cnt)
          .as("avg_qty"),
        Num.r4(sum(dec(col("l_extendedprice"))).cast(DoubleType) / cnt)
          .as("avg_price"),
        Num.r4(sum(dec(col("l_discount"))).cast(DoubleType) / cnt)
          .as("avg_disc"),
        cnt.as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------- Q3

  /** Shipping-priority (TPC-H Q3 shape): top 10 unshipped orders by
    * revenue for one market segment. Three-way join where the only
    * fact-fact edge is lineitem ⋈ orders; the segment-filtered customer
    * side is a broadcast dim. Filters sit directly on the scans so
    * parquet gets `PushedFilters` on segment and both date bounds.
    */
  private def qTpchQ3(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-07-01").cast(TimestampType)
    val c = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast(DateType).as("orderdate"))
      .agg(rnd(revenue).as("revenue"))
      .select("l_orderkey", "revenue", "orderdate")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // ---------------------------------------------------------------- Q5

  /** Local-supplier volume (TPC-H Q5 shape): revenue per nation from
    * orders where the customer and the line's supplier share a nation,
    * restricted to one region and one order-date year. Six tables; four
    * of them (region, nation, customer, supplier) are broadcast dims, so
    * the plan's only shuffle join is again lineitem ⋈ orders. The
    * same-nation constraint (`c_nationkey = s_nationkey`) rides the
    * supplier broadcast join as a second equi-key — no extra exchange.
    */
  private def qTpchQ5(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast(TimestampType)
    val hi = lit("1997-01-01").cast(TimestampType)
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val c = t(s, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey", "n_name")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val l = t(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(rnd(revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // --------------------------------------------------------------- Q10

  /** Returned-item reporting (TPC-H Q10 shape): top 20 customers by
    * revenue lost to returns in one quarter-year window. lineitem ⋈
    * orders is the shuffle edge; customer and nation broadcast. The
    * group-by carries the customer attributes through the aggregate
    * (they are functionally dependent on c_custkey) so no second join
    * is needed after the aggregation.
    */
  private def qTpchQ10(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast(TimestampType)
    val hi = lit("1996-07-01").cast(TimestampType)
    val c = t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val n = t(s, dir, "nation").select("n_nationkey", "n_name")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val l = t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(rnd(revenue).as("revenue"))
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  // --------------------------------------------------------------- Q18

  /** Large-volume customers (TPC-H Q18 shape): orders whose total line
    * quantity exceeds a threshold, with their customer. The classic
    * HAVING-subquery becomes a first-class aggregate → filter → join
    * chain, and because the per-order sum IS the output column, the
    * second lineitem scan TPC-H's literal SQL implies is gone entirely.
    *
    * Scale shape: the lineitem aggregate is the one fact-sized shuffle;
    * its output comes out hash-partitioned by `l_orderkey`, so the join
    * with orders adds an exchange on the ORDERS side only (the aggregate
    * side reuses its partitioning — pinned in `AnalyticsSpec`). The
    * filtered big-order set is NOT broadcast on purpose: at a 1 %
    * survivor rate and 100 TB it is still fact-sized, and the co-
    * partitioned SMJ is the plan that survives the scale-up. Customer
    * broadcasts as usual.
    */
  private def qTpchQ18(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast(LongType).as("total_qty"))
      .filter(col("total_qty") > 270)
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = t(s, dir, "customer").select("c_custkey", "c_name")
    o.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("orderdate"),
        round(col("o_totalprice"), 2).as("totalprice"),
        col("total_qty"))
      .orderBy(col("totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  // --------------------------------------------------------------- Q21

  /** Suppliers-who-kept-orders-waiting (TPC-H Q21 shape): the
    * correlated-subquery stress test — a quadruple join plus a
    * correlated EXISTS (another supplier contributed to the same order)
    * and a correlated NOT EXISTS (no OTHER supplier was also at fault).
    * The synthetic lineitem has no receipt/commit dates, so
    * `l_returnflag = 'R'` stands in for the late-delivery fault
    * predicate; the subquery structure — self-correlation on
    * `l_orderkey` with a `<>` anti-correlation on `l_suppkey` — is
    * q21's, verbatim.
    *
    * Deliberately written as SQL, not DataFrame joins: the point of this
    * tier row (round-14 VERDICT #7) is asserting CATALYST'S DECORRELATION
    * at benchmark scale — RewriteCorrelatedScalarSubquery/
    * RewritePredicateSubquery turn the EXISTS into a left-semi and the
    * NOT EXISTS into a left-anti hash/merge join on `l_orderkey` (the
    * `<>` rides as a join-side condition), never a per-row nested-loop
    * re-scan of lineitem. `AnalyticsSpec` pins exactly that: semi + anti
    * joins present, zero nested-loop/cartesian operators. At 100 TB the
    * decorrelated shape is three lineitem instances co-shuffled on
    * `l_orderkey` — Spark reuses one exchange for identically-scanned
    * instances — versus the nested form's unboundable O(rows × probes).
    */
  private def qTpchQ21(s: SparkSession, dir: String): DataFrame = {
    // per-query view names: temp views are session-global, so plain
    // `lineitem` would leak across registry keys sharing the session
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q21_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("graft_q21_orders")
    t(s, dir, "supplier").createOrReplaceTempView("graft_q21_supplier")
    t(s, dir, "nation").createOrReplaceTempView("graft_q21_nation")
    s.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM graft_q21_supplier, graft_q21_lineitem l1,
        |     graft_q21_orders, graft_q21_nation
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM graft_q21_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q21_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey
        |  AND n_name LIKE 'NATION_1%'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)
  }

  // --------------------------------------------------------------- Q17

  /** Small-quantity-order revenue (TPC-H Q17 shape): the CORRELATED
    * SCALAR subquery stress test — each brand-filtered lineitem row
    * compares its quantity against a threshold derived from the
    * per-part average over the WHOLE lineitem table. Complements
    * [[qTpchQ21]]'s EXISTS/NOT EXISTS rows: this exercises Catalyst's
    * RewriteCorrelatedScalarSubquery, which turns the per-row subquery
    * into ONE grouped aggregate over lineitem joined back on
    * `l_partkey` — never a per-row re-aggregation (O(rows × parts) at
    * 100 TB). The synthetic `part` has no container column, so the
    * brand filter alone plays the selective-dimension role, and the
    * threshold uses 0.5 · avg (0.2 would select almost nothing from
    * uniform synthetic quantities).
    *
    * Determinism: the average is derived from an EXACT decimal sum
    * divided in double — identical IEEE ops in both engines, so the
    * threshold comparison cannot flip on aggregation order; the final
    * division-derived money value goes through the portable floor
    * rounding ([[Num.r4]]'s SQL form, inlined so the Spark and DuckDB
    * texts are identical).
    */
  private def qTpchQ17(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q17_lineitem")
    t(s, dir, "part").createOrReplaceTempView("graft_q17_part")
    s.sql(
      """SELECT floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
        |    AS DOUBLE) / 7.0) * 10000 + 0.5) / 10000 AS avg_yearly
        |FROM graft_q17_lineitem, graft_q17_part
        |WHERE p_partkey = l_partkey
        |  AND p_brand = 'Brand#1'
        |  AND l_quantity < (
        |    SELECT 0.5 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2)))
        |        AS DOUBLE) / count(l2.l_quantity))
        |    FROM graft_q17_lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  // ---------------------------------------------------------------- Q6

  /** Forecasting-revenue-change (TPC-H Q6 shape): the pure
    * scan-filter-aggregate — no joins, no groups, three pushable
    * predicates and one decimal-exact product sum. The point of the
    * row is the SCAN: all three filters must reach the parquet reader
    * (`PushedFilters`, plan-pinned), so at 100 TB the query is bounded
    * by row groups whose stats intersect the brackets, not by the
    * table. The discount bracket compares double-to-double-literal —
    * identical IEEE in both engines.
    */
  private def qTpchQ6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
        col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24)
      .agg(rnd(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))))
        .as("revenue"))

  // ---------------------------------------------------------------- Q4

  /** Order-priority checking (TPC-H Q4 shape): the EXISTS-only row of
    * the subquery matrix — a quarter of orders counted by priority when
    * at least one of their lines is at fault (the synthetic lineitem has
    * no commit/receipt dates, so `l_returnflag = 'R'` stands in for the
    * late-line predicate, as in [[qTpchQ21]]). Catalyst's
    * RewritePredicateSubquery must turn the EXISTS into ONE left-semi
    * join on `l_orderkey` (plan-pinned) — the nested form re-scans
    * lineitem per order row, O(orders × probe) at 100 TB; the
    * decorrelated form is one co-shuffled semi edge whose lineitem side
    * carries the pushed returnflag filter.
    */
  private def qTpchQ4(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_q4_orders")
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q4_lineitem")
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM graft_q4_orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM graft_q4_lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  // ---------------------------------------------------------------- Q7

  /** Volume-shipping (TPC-H Q7 shape): revenue between two nations by
    * year, the NATION DIM SELF-JOINED twice (supplier's n1, customer's
    * n2) with the symmetric pair disjunction riding the broadcast
    * sides. The fact-fact lineitem ⋈ orders edge stays the plan's only
    * shuffle join; year() buckets the decimal-exact volume.
    */
  private def qTpchQ7(s: SparkSession, dir: String): DataFrame = {
    for (t0 <- Seq("supplier", "lineitem", "orders", "customer", "nation"))
      t(s, dir, t0).createOrReplaceTempView(s"graft_q7_$t0")
    s.sql(
      """SELECT supp_nation, cust_nation, l_year,
        |  round(CAST(sum(volume) AS DOUBLE), 4) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |        CAST(l_extendedprice AS DECIMAL(12,2)) *
        |          (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
        |      FROM graft_q7_supplier, graft_q7_lineitem, graft_q7_orders,
        |           graft_q7_customer, graft_q7_nation n1, graft_q7_nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |        AND c_nationkey = n2.n_nationkey
        |        AND ((n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12')
        |          OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11'))
        |        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
        |          AND TIMESTAMP '1997-12-31') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  // ---------------------------------------------------------------- Q8

  /** National-market-share (TPC-H Q8 shape): the widest join in the
    * suite — seven tables — reduced to a per-year CASE-ratio (one
    * nation's volume share), the division through the portable floor
    * form. Every dimension broadcasts; lineitem ⋈ orders stays the one
    * shuffle edge.
    */
  private def qTpchQ8(s: SparkSession, dir: String): DataFrame = {
    for (t0 <- Seq("part", "supplier", "lineitem", "orders", "customer",
        "nation", "region"))
      t(s, dir, t0).createOrReplaceTempView(s"graft_q8_$t0")
    s.sql(
      """SELECT o_year,
        |  floor((CAST(sum(CASE WHEN nationkey = 1 THEN volume ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(sum(volume) AS DOUBLE)) * 10000 + 0.5) / 10000
        |    AS mkt_share
        |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |        CAST(l_extendedprice AS DECIMAL(12,2)) *
        |          (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume,
        |        s_nationkey AS nationkey
        |      FROM graft_q8_part, graft_q8_supplier, graft_q8_lineitem,
        |           graft_q8_orders, graft_q8_customer, graft_q8_nation,
        |           graft_q8_region
        |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |        AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |        AND r_name = 'ASIA' AND p_type = 'PROMO'
        |        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
        |          AND TIMESTAMP '1997-12-31') all_nations
        |GROUP BY o_year ORDER BY o_year""".stripMargin)
  }

  // --------------------------------------------------------------- Q11

  /** Important-stock (TPC-H Q11 shape): the HAVING-vs-global-scalar row
    * — per-part value within one nation's suppliers, kept only when it
    * exceeds a FRACTION of the total (a scalar subquery re-running the
    * same join-aggregate globally). Both sides are EXACT decimal sums,
    * and the threshold multiply stays decimal, so the HAVING comparison
    * cannot flip on aggregation order; only the emitted value rounds.
    * The synthetic schema has no partsupp, so lineitem plays the
    * stock-holding relation — the q11 structure (group, global scalar,
    * fraction threshold) is intact.
    */
  private def qTpchQ11(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q11_lineitem")
    t(s, dir, "supplier").createOrReplaceTempView("graft_q11_supplier")
    s.sql(
      """SELECT l_partkey,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 4) AS value
        |FROM graft_q11_lineitem, graft_q11_supplier
        |WHERE l_suppkey = s_suppkey AND s_nationkey = 12
        |GROUP BY l_partkey
        |HAVING sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(l_quantity AS DECIMAL(12,2))) > (
        |  SELECT sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      CAST(l_quantity AS DECIMAL(12,2))) * 0.001
        |  FROM graft_q11_lineitem, graft_q11_supplier
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = 12)
        |ORDER BY value DESC, l_partkey""".stripMargin)
  }

  // --------------------------------------------------------------- Q12

  /** Shipping-mode priority (TPC-H Q12 shape): the dual-CASE count row
    * — high/low-priority line counts per class over the fact-fact join
    * (the synthetic lineitem has no shipmode, so `l_returnflag` plays
    * the class column; the structure — join + two complementary CASE
    * sums per group — is q12's).
    */
  private def qTpchQ12(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_q12_orders")
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q12_lineitem")
    s.sql(
      """SELECT l_returnflag,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS low_line_count
        |FROM graft_q12_orders, graft_q12_lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  // --------------------------------------------------------------- Q13

  /** Customer-order-distribution (TPC-H Q13 shape): the LEFT OUTER
    * with an ON-CLAUSE filter (orders excluded by predicate must still
    * leave their customer counted at zero — moving the filter to WHERE
    * would silently drop those customers, the classic outer-join trap)
    * followed by a histogram of the per-customer counts — a DOUBLE
    * aggregation. The synthetic orders has no comment column, so the
    * priority predicate plays the NOT-LIKE role.
    */
  private def qTpchQ13(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("graft_q13_customer")
    t(s, dir, "orders").createOrReplaceTempView("graft_q13_orders")
    s.sql(
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM graft_q13_customer LEFT OUTER JOIN graft_q13_orders
        |        ON c_custkey = o_custkey
        |        AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }

  // --------------------------------------------------------------- Q14

  /** Promotion-effect (TPC-H Q14 shape): the CASE-ratio aggregate — one
    * month's promo revenue share, both sums decimal-exact over the same
    * join, the division in double through the shared floor-rounding
    * form (inlined so the Spark and DuckDB texts are identical — the
    * [[Num.r4]] SQL device). Part broadcasts; one scan of the
    * date-filtered lineitem feeds both CASE branches.
    */
  private def qTpchQ14(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q14_lineitem")
    t(s, dir, "part").createOrReplaceTempView("graft_q14_part")
    s.sql(
      """SELECT floor((100.0 *
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
        |        (1 - CAST(l_discount AS DECIMAL(12,2))) ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE))
        |    * 10000 + 0.5) / 10000 AS promo_revenue
        |FROM graft_q14_lineitem, graft_q14_part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin)
  }

  // --------------------------------------------------------------- Q19

  /** Discounted-revenue (TPC-H Q19 shape): the DISJUNCTIVE-bracket
    * predicate — three (brand, size-range, quantity-range) OR-arms over
    * the part⋈lineitem join. The optimizer test: Catalyst must extract
    * the COMMON `p_partkey = l_partkey` conjunct from the disjunction
    * (one equi-join, the residual OR as a post-join filter), and push
    * the derivable per-side envelopes into the scans — the naive plan
    * is a cartesian with the whole disjunction as its condition, which
    * is the plan-pinned forbidden shape.
    */
  private def qTpchQ19(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q19_lineitem")
    t(s, dir, "part").createOrReplaceTempView("graft_q19_part")
    s.sql(
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4)
        |  AS revenue
        |FROM graft_q19_lineitem, graft_q19_part
        |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#1'
        |       AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_partkey = l_partkey AND p_brand = 'Brand#2'
        |       AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_partkey = l_partkey AND p_brand = 'Brand#3'
        |       AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"""
        .stripMargin)
  }

  // --------------------------------------------------------------- Q20

  /** Potential-part-promotion (TPC-H Q20 shape): the NESTED-IN row —
    * suppliers whose shipped volume of a part class crosses a threshold,
    * as `s_suppkey IN (grouped-HAVING subquery over lineitem whose
    * l_partkey IN (filtered part subquery))`. The synthetic schema has
    * no partsupp, so the availqty comparison becomes the HAVING sum —
    * the structure under test (IN containing an aggregate containing
    * another IN) is q20's. Both INs must decorrelate to semi joins
    * (plan-pinned): the inner one rides the lineitem scan as a
    * broadcast semi against the filtered part keys, the outer one
    * semi-joins supplier against the HAVING survivors — never a per-row
    * re-aggregation. The quantity sum is decimal-exact so the HAVING
    * threshold cannot flip on aggregation order.
    */
  private def qTpchQ20(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "supplier").createOrReplaceTempView("graft_q20_supplier")
    t(s, dir, "nation").createOrReplaceTempView("graft_q20_nation")
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q20_lineitem")
    t(s, dir, "part").createOrReplaceTempView("graft_q20_part")
    s.sql(
      """SELECT s_name, s_suppkey
        |FROM graft_q20_supplier, graft_q20_nation
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM graft_q20_lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM graft_q20_part
        |                        WHERE p_type = 'PROMO')
        |      AND l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01'
        |    GROUP BY l_suppkey
        |    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 50)
        |  AND s_nationkey = n_nationkey
        |  AND n_name LIKE 'NATION_1%'
        |ORDER BY s_name, s_suppkey""".stripMargin)
  }

  // --------------------------------------------------------------- Q22

  /** Global-sales-opportunity (TPC-H Q22 shape): the NOT-EXISTS +
    * uncorrelated-scalar row — above-average-balance customers with no
    * urgent order, counted per nation (the synthetic customer has no
    * phone, so `c_nationkey` plays the country-code role; every
    * customer has SOME order, so the anti probe filters on priority to
    * keep the anti join non-degenerate). The average is derived from an
    * exact decimal sum divided in double — identical IEEE ops in both
    * engines, so the balance comparison cannot flip on aggregation
    * order — and the scalar subquery must plan as ONE aggregate whose
    * result broadcasts into the filter, while the NOT EXISTS
    * decorrelates to a left-anti join on `c_custkey` (plan-pinned).
    */
  private def qTpchQ22(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("graft_q22_customer")
    t(s, dir, "orders").createOrReplaceTempView("graft_q22_orders")
    s.sql(
      """SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
        |  count(*) AS numcust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 4)
        |    AS totacctbal
        |FROM graft_q22_customer
        |WHERE c_acctbal > (
        |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |      / count(*)
        |    FROM graft_q22_customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q22_orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY cntrycode""".stripMargin)
  }

  // --------------------------------------------------------------- Q15

  /** Top-supplier-by-revenue (TPC-H Q15 shape): the AGGREGATE-VIEW +
    * uncorrelated-scalar-max row — a revenue-per-supplier view consumed
    * twice, once joined to supplier and once reduced to its max, with
    * the equality filter selecting the winner(s). The revenue totals
    * are decimal-exact then portably rounded, so the max-equality
    * cannot flip on aggregation order. Plan: the scalar subquery runs
    * the view's aggregate once and broadcasts one value into the
    * filter — a nested-loop re-aggregation per row is the shape that
    * dies at 100 TB (plan-pinned absent).
    */
  private def qTpchQ15(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q15_lineitem")
    t(s, dir, "supplier").createOrReplaceTempView("graft_q15_supplier")
    s.sql(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4)
        |      AS total_revenue
        |  FROM graft_q15_lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM graft_q15_supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)
  }

  // --------------------------------------------------------------- Q16

  /** Parts-supplier-relationship (TPC-H Q16 shape): the NOT-IN row —
    * distinct supplier counts per part class, excluding suppliers from
    * a filtered subquery. NOT IN is the null-aware case of anti-join
    * decorrelation: `x NOT IN (subq)` is three-valued (any NULL in the
    * subquery empties the result), so Catalyst must plan a NULL-AWARE
    * anti join (broadcast NAAJ) — semantically distinct from q21's NOT
    * EXISTS left-anti, which is why this row exists. The plan pin
    * asserts an anti join is present and no cartesian/plain
    * nested-loop probe of supplier per lineitem row.
    */
  private def qTpchQ16(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part").createOrReplaceTempView("graft_q16_part")
    t(s, dir, "lineitem").createOrReplaceTempView("graft_q16_lineitem")
    t(s, dir, "supplier").createOrReplaceTempView("graft_q16_supplier")
    s.sql(
      """SELECT p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM graft_q16_part, graft_q16_lineitem
        |WHERE p_partkey = l_partkey
        |  AND p_size IN (1, 4, 7)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM graft_q16_supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_type
        |ORDER BY supplier_cnt DESC, p_type""".stripMargin)
  }

  // ---------------------------------------------------------------- Q2

  /** Minimum-cost-supplier (TPC-H Q2 shape): the CORRELATED-MIN row —
    * the last open cell of the subquery matrix (q17 covered correlated
    * scalar AVG, q4/q21/q22 EXISTS forms, q16/q20 the IN forms). The
    * outer five-way join keeps only (part, supplier, price) rows whose
    * price equals a scalar subquery's MIN over the SAME region-filtered
    * join re-anchored on the outer part — Catalyst must decorrelate
    * that to one grouped min-aggregate joined back on
    * `(p_partkey, price)`, never a per-row re-execution (plan-pinned:
    * one aggregate, no nested-loop/cartesian). The synthetic schema has
    * no partsupp, so lineitem plays the offer relation and
    * `l_extendedprice` the supply cost — MIN is aggregation-order-exact
    * over doubles, so the equality predicate cannot flip between
    * engines. DISTINCT collapses repeat offers at the min price, and
    * the sort key (acctbal, nation, supplier, part) is unique per
    * surviving row, so the LIMIT boundary is deterministic.
    *
    * Scale: nation/region/part broadcast; the min-aggregate groups on
    * `l_partkey` (the natural key, no skew beyond part popularity); the
    * join-back is partkey-to-partkey — at 100 TB the only heavy edges
    * are two lineitem scans, both filter-pushed on the region's
    * suppliers.
    */
  private def qTpchQ2(s: SparkSession, dir: String): DataFrame = {
    for (t0 <- Seq("part", "lineitem", "supplier", "nation", "region"))
      t(s, dir, t0).createOrReplaceTempView(s"graft_q2_$t0")
    s.sql(
      """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  round(CAST(l_extendedprice AS DOUBLE), 4) AS supply_cost
        |FROM graft_q2_part, graft_q2_lineitem, graft_q2_supplier,
        |     graft_q2_nation, graft_q2_region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size BETWEEN 10 AND 20
        |  AND p_type LIKE '%O%'
        |  AND l_extendedprice = (
        |    SELECT min(l2.l_extendedprice)
        |    FROM graft_q2_lineitem l2, graft_q2_supplier s2,
        |         graft_q2_nation n2, graft_q2_region r2
        |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)
  }

  // ---------------------------------------------------------------- Q9

  /** Product-type-profit (TPC-H Q9 shape): the MIXED-ARITHMETIC
    * aggregate — profit per (supplier nation, order year) where each
    * line's amount subtracts a DIMENSION-priced cost from the fact
    * revenue, under a LIKE filter on the part name. The synthetic
    * schema has no partsupp, so `p_retailprice` plays the supply cost;
    * the structure under test — five-way join, substring part filter,
    * per-line `revenue − cost·qty` in exact decimal, nation×year
    * grouping — is q9's. All decimal arithmetic stays exact through the
    * sum (scale-4 products, order-independent); only the emitted total
    * rounds through the portable double form.
    *
    * Scale: part/supplier/nation broadcast after the LIKE prunes part;
    * lineitem ⋈ orders is the one shuffle edge; the group cardinality
    * is nations × years — tiny — so the final aggregate is all
    * map-side partials.
    */
  private def qTpchQ9(s: SparkSession, dir: String): DataFrame = {
    for (t0 <- Seq("part", "supplier", "lineitem", "orders", "nation"))
      t(s, dir, t0).createOrReplaceTempView(s"graft_q9_$t0")
    s.sql(
      """SELECT n_name AS nation, o_year,
        |  round(CAST(sum(amount) AS DOUBLE), 4) AS sum_profit
        |FROM (SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |        CAST(l_extendedprice AS DECIMAL(12,2)) *
        |          (1 - CAST(l_discount AS DECIMAL(12,2))) -
        |          CAST(p_retailprice AS DECIMAL(12,2)) *
        |          CAST(l_quantity AS DECIMAL(12,2)) AS amount
        |      FROM graft_q9_part, graft_q9_supplier, graft_q9_lineitem,
        |           graft_q9_orders, graft_q9_nation
        |      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |        AND p_name LIKE '%widget%') profit
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin)
  }

  // ------------------------------------------------------- Q5 under CBO

  /** TPC-H Q5 over FORMAT-BACKED tables with cost-based optimization
    * end-to-end (round-17 VERDICT #6): the six tables land as graft
    * tables whose manifests carry row accounts, zone maps, and NDV
    * sketches on every join key — recorded AT WRITE TIME, so the
    * optimizer's `rowCount`/`distinctCount`/min-max all come from
    * manifest metadata with ZERO `ANALYZE TABLE` scans
    * ([[graft.io.ManifestStats]]). The SQL is the worst-practice
    * SYNTACTIC order (customer × orders × lineitem × supplier × nation
    * × region, left-deep); CBO + join reorder must recover the
    * one-fact-edge shape — lineitem ⋈ orders the only shuffle join,
    * every dimension broadcast — which `NdvStatsSpec` pins on the
    * physical plan. Planning is FORCED inside the conf window (plans
    * are lazy; restoring the conf first would optimize without CBO).
    */
  private def landedCboTables(s: SparkSession, dir: String): Unit =
    graft.Memo.session("cbo5_tables", s, dir) {
      def land(name: String, stats: Seq[String], ndv: Seq[String]): Unit = {
        val root = graft.Memo.tempRoot(s"cbo5_$name") + "/t"
        // histograms on the NDV columns (r19): equi-join cardinality
        // and skewed-filter selectivity estimate off the real value
        // distribution; unsupported types skip inside
        graft.io.TableFormat.append(t(s, dir, name), root,
          statsCols = stats, ndvCols = ndv, histCols = ndv)
        graft.io.TableFormat.registerSql(s, root, s"graft_cbo5_$name")
      }
      land("region", Seq("r_regionkey"), Seq("r_regionkey"))
      land("nation", Seq("n_nationkey"), Seq("n_nationkey", "n_regionkey"))
      land("customer", Seq("c_custkey"), Seq("c_custkey", "c_nationkey"))
      land("supplier", Seq("s_suppkey"), Seq("s_suppkey", "s_nationkey"))
      land("orders", Seq("o_orderkey", "o_orderdate"),
        Seq("o_orderkey", "o_custkey"))
      land("lineitem", Seq("l_orderkey", "l_shipdate"),
        Seq("l_orderkey", "l_suppkey", "l_partkey"))
      land("part", Seq("p_partkey"), Seq("p_partkey"))
    }

  /** Fixture doorway for [[graft.SparkEntry.prepare]] (r18 VERDICT
    * nit): landing the 7 format-backed CBO tables is one-time layout,
    * so the bench's first pass measures the queries, not the landing.
    * Idempotent; every `q_tpch_*_cbo` also lands lazily.
    */
  private[graft] def prepareCboTables(s: SparkSession, dir: String): Unit =
    landedCboTables(s, dir)

  /** Evaluate `body` with CBO + join reorder ON, planning FORCED inside
    * the conf window (plans are lazy; restoring the conf first would
    * optimize without CBO).
    */
  private def withCbo(s: SparkSession)(body: => DataFrame): DataFrame = {
    val prevCbo = s.conf.get("spark.sql.cbo.enabled", "false")
    val prevReorder = s.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val df = body
      df.queryExecution.executedPlan // force planning under CBO
      df
    } finally {
      s.conf.set("spark.sql.cbo.enabled", prevCbo)
      s.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  /** The FULL TPC-H tier under manifest-fed CBO (r19 — the r18
    * VERDICT's #4 gap): every base `q_tpch_qN` gains a `_cbo` twin
    * whose SQL re-targets the format-backed `graft_cbo5_*` views (the
    * tables hold exactly the raw parquet rows, so the base oracle text
    * applies verbatim to the twin) and plans under cbo + joinReorder
    * with row counts / NDVs / bounds from the MANIFESTS alone — zero
    * ANALYZE scans. The base keys stay registered as raw-parquet,
    * hand-ordered A/B twins; `CboReorderSpec` pins the join-heaviest
    * three (q2, q8, q21) to plans no worse than the hand-ordered form
    * (shuffle-exchange count). The rewrite is a word-boundary table-
    * name substitution — column spellings (`o_orderkey`,
    * `supp_nation`) never match a `\b<table>\b` pattern.
    */
  private val CboTableName =
    "\\b(region|nation|customer|supplier|orders|lineitem|part)\\b".r

  private[graft] def cboSqlOf(baseKey: String): String =
    CboTableName.replaceAllIn(oracleSql(baseKey),
      m => s"graft_cbo5_${m.group(1)}")

  private def qTpchCbo(baseKey: String)(s: SparkSession,
      dir: String): DataFrame = {
    landedCboTables(s, dir)
    withCbo(s)(s.sql(cboSqlOf(baseKey)))
  }

  /** Base keys twinned generically (q5/q9 keep their hand-written
    * worst-practice-order twins above).
    */
  private[graft] val CboTwinBases: Seq[String] =
    Seq(1, 2, 3, 4, 6, 7, 8, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
      20, 21, 22).map(n => s"q_tpch_q$n")

  private[graft] val Q5CboSql: String =
    """SELECT n_name,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4)
      |    AS revenue
      |FROM graft_cbo5_customer, graft_cbo5_orders, graft_cbo5_lineitem,
      |     graft_cbo5_supplier, graft_cbo5_nation, graft_cbo5_region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q9 (the repo's partsupp-less adaptation) under the same
    * manifest-fed CBO end-to-end contract as [[qTpchQ5Cbo]]: worst-
    * practice syntactic order (part first, fact tables last), profit
    * aggregated per nation × year across EVERY order date — no date
    * filter, so unlike q5 the optimizer cannot lean on a selective
    * fact predicate and must order the joins off the manifest row
    * counts and join-key NDVs alone. The pinned shape: lineitem ⋈
    * orders the one shuffle edge, part/supplier/nation broadcast.
    */
  private[graft] val Q9CboSql: String =
    """SELECT n_name AS nation, o_year,
      |  round(CAST(sum(amount) AS DOUBLE), 4) AS sum_profit
      |FROM (SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |        CAST(l_extendedprice AS DECIMAL(12,2)) *
      |          (1 - CAST(l_discount AS DECIMAL(12,2))) -
      |          CAST(p_retailprice AS DECIMAL(12,2)) *
      |          CAST(l_quantity AS DECIMAL(12,2)) AS amount
      |      FROM graft_cbo5_part, graft_cbo5_supplier, graft_cbo5_lineitem,
      |           graft_cbo5_orders, graft_cbo5_nation
      |      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |        AND p_name LIKE '%widget%') profit
      |GROUP BY n_name, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  private[graft] def qTpchQ9Cbo(s: SparkSession, dir: String): DataFrame = {
    landedCboTables(s, dir)
    val prevCbo = s.conf.get("spark.sql.cbo.enabled", "false")
    val prevReorder = s.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val df = s.sql(Q9CboSql)
      df.queryExecution.executedPlan // force planning under CBO
      df
    } finally {
      s.conf.set("spark.sql.cbo.enabled", prevCbo)
      s.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  private[graft] def qTpchQ5Cbo(s: SparkSession, dir: String): DataFrame = {
    landedCboTables(s, dir)
    val prevCbo = s.conf.get("spark.sql.cbo.enabled", "false")
    val prevReorder = s.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val df = s.sql(Q5CboSql)
      df.queryExecution.executedPlan // force planning under CBO
      df
    } finally {
      s.conf.set("spark.sql.cbo.enabled", prevCbo)
      s.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = (Map(
    "q_tpch_q5_cbo" -> qTpchQ5Cbo,
    "q_tpch_q9_cbo" -> qTpchQ9Cbo,
    "q_tpch_q2" -> qTpchQ2,
    "q_tpch_q9" -> qTpchQ9,
    "q_tpch_q1" -> qTpchQ1,
    "q_tpch_q6" -> qTpchQ6,
    "q_tpch_q7" -> qTpchQ7,
    "q_tpch_q8" -> qTpchQ8,
    "q_tpch_q11" -> qTpchQ11,
    "q_tpch_q12" -> qTpchQ12,
    "q_tpch_q13" -> qTpchQ13,
    "q_tpch_q14" -> qTpchQ14,
    "q_tpch_q15" -> qTpchQ15,
    "q_tpch_q16" -> qTpchQ16,
    "q_tpch_q19" -> qTpchQ19,
    "q_tpch_q4" -> qTpchQ4,
    "q_tpch_q20" -> qTpchQ20,
    "q_tpch_q22" -> qTpchQ22,
    "q_tpch_q17" -> qTpchQ17,
    "q_tpch_q21" -> qTpchQ21,
    "q_tpch_q3" -> qTpchQ3,
    "q_tpch_q5" -> qTpchQ5,
    "q_tpch_q10" -> qTpchQ10,
    "q_tpch_q18" -> qTpchQ18)
      : Map[String, (SparkSession, String) => DataFrame]) ++
    CboTwinBases.map(k => s"${k}_cbo" ->
      ((s: SparkSession, dir: String) => qTpchCbo(k)(s, dir)))

  /** The `_cbo` twins read the same rows, so each base oracle text
    * applies verbatim (appended after the literal below).
    */
  val oracleSql: Map[String, String] = baseOracleSql ++
    CboTwinBases.map(k => s"${k}_cbo" -> baseOracleSql(k))

  private lazy val baseOracleSql: Map[String, String] = Map(
    // the format-backed CBO twin holds exactly the raw tables' rows, so
    // the q5 oracle text applies verbatim
    "q_tpch_q5_cbo" ->
      """SELECT n_name,
        |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch_q2" ->
      """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  round(CAST(l_extendedprice AS DOUBLE), 4) AS supply_cost
        |FROM part, lineitem, supplier, nation, region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size BETWEEN 10 AND 20
        |  AND p_type LIKE '%O%'
        |  AND l_extendedprice = (
        |    SELECT min(l2.l_extendedprice)
        |    FROM lineitem l2, supplier s2, nation n2, region r2
        |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    // the format-backed CBO twin holds exactly the raw tables' rows, so
    // the q9 oracle text applies verbatim
    "q_tpch_q9_cbo" ->
      """SELECT n_name AS nation, o_year,
        |  round(CAST(sum(amount) AS DOUBLE), 4) AS sum_profit
        |FROM (SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |        CAST(l_extendedprice AS DECIMAL(12,2)) *
        |          (1 - CAST(l_discount AS DECIMAL(12,2))) -
        |          CAST(p_retailprice AS DECIMAL(12,2)) *
        |          CAST(l_quantity AS DECIMAL(12,2)) AS amount
        |      FROM part, supplier, lineitem, orders, nation
        |      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |        AND p_name LIKE '%widget%') profit
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q_tpch_q9" ->
      """SELECT n_name AS nation, o_year,
        |  round(CAST(sum(amount) AS DOUBLE), 4) AS sum_profit
        |FROM (SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |        CAST(l_extendedprice AS DECIMAL(12,2)) *
        |          (1 - CAST(l_discount AS DECIMAL(12,2))) -
        |          CAST(p_retailprice AS DECIMAL(12,2)) *
        |          CAST(l_quantity AS DECIMAL(12,2)) AS amount
        |      FROM part, supplier, lineitem, orders, nation
        |      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |        AND p_name LIKE '%widget%') profit
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  round(CAST(sum(volume) AS DOUBLE), 4) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |        CAST(l_extendedprice AS DECIMAL(12,2)) *
        |          (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
        |      FROM supplier, lineitem, orders, customer,
        |           nation n1, nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |        AND c_nationkey = n2.n_nationkey
        |        AND ((n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12')
        |          OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11'))
        |        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
        |          AND TIMESTAMP '1997-12-31') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q_tpch_q8" ->
      """SELECT o_year,
        |  floor((CAST(sum(CASE WHEN nationkey = 1 THEN volume ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(sum(volume) AS DOUBLE)) * 10000 + 0.5) / 10000
        |    AS mkt_share
        |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |        CAST(l_extendedprice AS DECIMAL(12,2)) *
        |          (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume,
        |        s_nationkey AS nationkey
        |      FROM part, supplier, lineitem, orders, customer,
        |           nation, region
        |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |        AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |        AND r_name = 'ASIA' AND p_type = 'PROMO'
        |        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
        |          AND TIMESTAMP '1997-12-31') all_nations
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_tpch_q11" ->
      """SELECT l_partkey,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 4) AS value
        |FROM lineitem, supplier
        |WHERE l_suppkey = s_suppkey AND s_nationkey = 12
        |GROUP BY l_partkey
        |HAVING sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(l_quantity AS DECIMAL(12,2))) > (
        |  SELECT sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      CAST(l_quantity AS DECIMAL(12,2))) * 0.001
        |  FROM lineitem, supplier
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = 12)
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey
        |        AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_q6" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 24""".stripMargin,
    "q_tpch_q14" ->
      """SELECT floor((100.0 *
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
        |        (1 - CAST(l_discount AS DECIMAL(12,2))) ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE))
        |    * 10000 + 0.5) / 10000 AS promo_revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    "q_tpch_q19" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4)
        |  AS revenue
        |FROM lineitem, part
        |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#1'
        |       AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_partkey = l_partkey AND p_brand = 'Brand#2'
        |       AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_partkey = l_partkey AND p_brand = 'Brand#3'
        |       AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"""
        .stripMargin,
    "q_tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q16" ->
      """SELECT p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT)
        |  AS supplier_cnt
        |FROM part, lineitem
        |WHERE p_partkey = l_partkey
        |  AND p_size IN (1, 4, 7)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_type
        |ORDER BY supplier_cnt DESC, p_type""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_q20" ->
      """SELECT s_name, s_suppkey
        |FROM supplier, nation
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_type = 'PROMO')
        |      AND l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01'
        |    GROUP BY l_suppkey
        |    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 50)
        |  AND s_nationkey = n_nationkey
        |  AND n_name LIKE 'NATION_1%'
        |ORDER BY s_name, s_suppkey""".stripMargin,
    "q_tpch_q22" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
        |  count(*) AS numcust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 4)
        |    AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |      / count(*)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY cntrycode""".stripMargin,
    "q_tpch_q17" ->
      """SELECT floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
        |    AS DOUBLE) / 7.0) * 10000 + 0.5) / 10000 AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand = 'Brand#1'
        |  AND l_quantity < (
        |    SELECT 0.5 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2)))
        |        AS DOUBLE) / count(l2.l_quantity))
        |    FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey
        |  AND n_name LIKE 'NATION_1%'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 4)
        |  AS sum_qty,
        |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 4)
        |  AS sum_base_price,
        |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4)
        |  AS sum_disc_price,
        |floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  (1 - CAST(l_discount AS DECIMAL(12,2))) *
        |  (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE)) * 10000 + 0.5)
        |  / 10000 AS sum_charge,
        |floor((CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |  / count(*)) * 10000 + 0.5) / 10000 AS avg_qty,
        |floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |  / count(*)) * 10000 + 0.5) / 10000 AS avg_price,
        |floor((CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
        |  / count(*)) * 10000 + 0.5) / 10000 AS avg_disc,
        |CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
        |CAST(o_orderdate AS DATE) AS orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
        |c_acctbal, n_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |CAST(o_orderdate AS DATE) AS orderdate,
        |round(o_totalprice, 2) AS totalprice,
        |CAST(total_qty AS BIGINT) AS total_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(l_quantity) > 270) big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin)
}
