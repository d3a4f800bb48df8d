package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.engine.Catalog
import graft.ops.Relational.{avgExact, sumExact, sumExactScaled}

/** TPC-H-shaped flagship pipelines adapted to the driver's schema — the
  * multi-join + aggregate + sort workloads a relational engine is judged on.
  * All money sums go through exact DECIMAL accumulation (order-independent
  * under partial aggregation), and every output is totally ordered. */
object Flagship {

  /** Session-scoped bucketed layout of the two fact tables, hash-clustered
    * by the orderkey ([[graft.ops.Bucketing.sessionLayout]] — bucket-count
    * and one-file-per-bucket rules live there): the layout shuffle is paid
    * ONCE, and every orderkey join/aggregation over these tables then plans
    * with zero hash Exchange. The 100× ScaleSweep measured q18/q21 paying 3
    * and 7 exchanges at sf10 — this is the workload-level answer. */
  private val shared = new graft.ops.SharedBuilds

  private val bucketedOrderkeyLayout = shared("bucketed_orderkey_layout") { (s, dir) =>
    graft.ops.Bucketing.sessionLayout(s, dir, "orderkey", Seq(
      ("graft_b_orders", "orders", "o_orderkey"),
      ("graft_b_lineitem", "lineitem", "l_orderkey")))
  }

  /** Named builder for bench attribution (see DedupQ.pipelines). */
  def pipelines: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] =
    shared.pipelines

  /** Q21's oracle — shared with the bucketed-layout variant, whose results
    * must be identical (bucketing is a pure reorganization). */
  private val q21Oracle =
    """WITH late AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_shipdate > o_orderdate + INTERVAL 120 DAY)
      |SELECT s.l_suppkey AS suppkey, COUNT(*) AS numwait
      |FROM late s
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = s.l_orderkey
      |                AND l2.l_suppkey <> s.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late t
      |                  WHERE t.l_orderkey = s.l_orderkey
      |                    AND t.l_suppkey <> s.l_suppkey)
      |GROUP BY s.l_suppkey
      |ORDER BY numwait DESC, suppkey ASC LIMIT 10""".stripMargin

  /** Q18's oracle — shared with the bucketed-layout variant, whose results
    * must be identical (bucketing is a pure reorganization). */
  private val q18Oracle =
    """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150)
      |GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin

  val all: Seq[Q] = Seq(

    // Q3-shape: top unshipped orders by revenue within a market segment.
    Q("tpch_q3_shipping_priority",
      (s, dir) => {
        val c = Catalog.load(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = Catalog.load(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
        val l = Catalog.load(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
             |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin)),

    // Q5-shape: revenue by nation where customer and supplier share the
    // nation, within one region.
    Q("tpch_q5_local_supplier",
      (s, dir) => {
        val r = Catalog.load(s, dir, "region").filter(col("r_name") === "ASIA")
        val n = Catalog.load(s, dir, "nation")
        val c = Catalog.load(s, dir, "customer")
        val o = Catalog.load(s, dir, "orders")
        val l = Catalog.load(s, dir, "lineitem")
        val su = Catalog.load(s, dir, "supplier")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, l("l_suppkey") === su("s_suppkey") &&
            c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name").asc)
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation   ON s_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin)),

    // Q10-shape: customers who returned items, ranked by lost revenue.
    Q("tpch_q10_returned_items",
      (s, dir) => {
        val c = Catalog.load(s, dir, "customer")
        val o = Catalog.load(s, dir, "orders")
        val l = Catalog.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val n = Catalog.load(s, dir, "nation")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |GROUP BY c_custkey, c_name, c_acctbal, n_name
             |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin)),

    // Q1-shape full version (a3 covers the partial-agg skeleton): all five
    // aggregates per (returnflag, linestatus) after a date cutoff.
    Q("tpch_q1_pricing_summary",
      (s, dir) =>
        Catalog.load(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("2000-09-01").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sumExact(col("l_quantity")).as("sum_qty"),
            sumExact(col("l_extendedprice")).as("sum_base_price"),
            sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
            sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
            avgExact(col("l_quantity")).as("avg_qty"),
            avgExact(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
             |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
             |  COUNT(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Q4-shape: order-priority checking via correlated EXISTS (the testdata
    // has no l_commitdate/l_receiptdate, so "late" = shipped more than 90
    // days after the order date). Catalyst decorrelates the EXISTS into a
    // left-semi hash join; only (orderkey, shipdate) are scanned.
    Q("tpch_q4_priority_check",
      (s, dir) => {
        val o = Catalog.load(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val l = Catalog.load(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        o.join(l, l("l_orderkey") === o("o_orderkey") &&
            l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders o
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey
             |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Q6-shape: single-table forecast-revenue — every predicate reaches the
    // parquet reader (PushedFilters), global agg is partial+final.
    Q("tpch_q6_forecast_revenue",
      (s, dir) =>
        Catalog.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
          .agg(sumExactScaled(col("l_extendedprice") * col("l_discount"), 4).as("revenue")),
      Some("""SELECT
             |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // Q12-shape: conditional (CASE) counts after a fact-dimension join —
    // integer sums are exact under any aggregation order. (The testdata has
    // no l_shipmode; order-priority classes play its role.)
    Q("tpch_q12_priority_lines",
      (s, dir) => {
        val o = Catalog.load(s, dir, "orders")
        val l = Catalog.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Q14-shape: promo revenue ratio. Both operands accumulate as exact
    // DECIMAL, cast to DOUBLE, then one IEEE division+multiply — identical
    // bits in any engine (never divide decimals: result scale is
    // engine-defined).
    Q("tpch_q14_promo_revenue",
      (s, dir) => {
        val p = Catalog.load(s, dir, "part")
        val l = Catalog.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .agg((lit(100.0) *
            sumExactScaled(when(col("p_type") === "PROMO", rev).otherwise(lit(0)), 4) /
            sumExactScaled(rev, 4)).as("promo_revenue"))
      },
      Some("""SELECT 100.0 *
             |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
             |       THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(28,4))) AS DOUBLE) /
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
             |  AS promo_revenue
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin)),

    // Q18-shape: large-volume orders — the IN subquery is itself a grouped
    // HAVING aggregate; Spark plans it as an aggregate + semi join.
    Q("tpch_q18_large_orders",
      (s, dir) => {
        val c = Catalog.load(s, dir, "customer")
        val o = Catalog.load(s, dir, "orders")
        val l = Catalog.load(s, dir, "lineitem")
        val big = l.groupBy(col("l_orderkey"))
          .agg(sumExact(col("l_quantity")).as("q"))
          .filter(col("q") > 150)
          .select(col("l_orderkey").as("big_orderkey"))
        o.join(big, o("o_orderkey") === col("big_orderkey"), "left_semi")
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"))
          .agg(sumExact(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(20)
      },
      Some(q18Oracle)),

    // Q18 over the bucketed-by-orderkey layout: identical semantics and
    // oracle — the layout is a pure reorganization — but the big-orders
    // aggregate, the semi join, the fact join AND the final grouped
    // aggregate all inherit the bucket distribution, so the whole query
    // plans with ZERO hash Exchange (pinned in PlanShapeSpec). The merge
    // hints keep the co-located sort-merge path (a broadcast would hide
    // the co-location at toy scale); customer broadcasts as the one
    // genuine dimension.
    Q("tpch_q18_bucketed",
      (s, dir) => {
        bucketedOrderkeyLayout(s, dir)
        val c = Catalog.load(s, dir, "customer")
        val o = s.table("graft_b_orders")
        val l = s.table("graft_b_lineitem")
        val big = l.groupBy(col("l_orderkey"))
          .agg(sumExact(col("l_quantity")).as("q"))
          .filter(col("q") > 150)
          .select(col("l_orderkey").as("big_orderkey"))
        o.hint("merge").join(big, o("o_orderkey") === col("big_orderkey"), "left_semi")
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"))
          .agg(sumExact(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(20)
      },
      Some(q18Oracle),
      servesLayout = Some("orderkey")),

    // Q19-shape: disjunction of brand/size/quantity conjuncts — the OR-tree
    // the reference's conjunctive-only dialect cannot express (SURVEY §2.2
    // grammar note). Catalyst extracts the common join key and pushes
    // p_brand IN (...) + ranges to both scans.
    Q("tpch_q19_disjunctive_rev",
      (s, dir) => {
        val p = Catalog.load(s, dir, "part")
        val l = Catalog.load(s, dir, "lineitem")
        val j = l.join(p, l("l_partkey") === p("p_partkey"))
        val pred =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 25) &&
            col("l_quantity").between(20, 40))
        j.filter(pred)
          .agg(sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      },
      Some("""SELECT
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
             |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
             |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 40)""".stripMargin)),

    // Q7-shape: bilateral trade volume between two nations by ship year —
    // the same dimension (nation) joined twice under different roles, plus
    // date-part extraction feeding the grouping key. Both nation joins
    // broadcast; the disjunctive pair filter prunes before aggregation.
    Q("tpch_q7_nation_volume",
      (s, dir) => {
        val l = Catalog.load(s, dir, "lineitem")
        val o = Catalog.load(s, dir, "orders")
        val c = Catalog.load(s, dir, "customer")
        val su = Catalog.load(s, dir, "supplier")
        // The pair disjunction implies each side ∈ {N1, N2} individually —
        // a constraint Catalyst cannot derive across tables, so pre-filter
        // both (broadcast, 2-row) dimensions: the inner joins then prune
        // lineitem/customer rows by nation BEFORE the big fact joins.
        val pair = Seq("NATION_1", "NATION_2")
        val n1 = Catalog.load(s, dir, "nation").filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
        val n2 = Catalog.load(s, dir, "nation").filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
        l.join(su, l("l_suppkey") === su("s_suppkey"))
          .join(broadcast(n1), su("s_nationkey") === col("n1_key"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n2), c("c_nationkey") === col("n2_key"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  CAST(year(l_shipdate) AS INT) AS l_year,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
             |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // Q8-shape: NATION_1 suppliers' market share of ASIA-customer revenue by
    // year. The conditional/total ratio per group — both sums DECIMAL-exact,
    // one IEEE division at the end (same discipline as q14).
    Q("tpch_q8_market_share",
      (s, dir) => {
        val l = Catalog.load(s, dir, "lineitem")
        val o = Catalog.load(s, dir, "orders")
        val c = Catalog.load(s, dir, "customer")
        val su = Catalog.load(s, dir, "supplier")
        val nc = Catalog.load(s, dir, "nation")
          .select(col("n_nationkey").as("nc_key"), col("n_regionkey"))
        val r = Catalog.load(s, dir, "region").filter(col("r_name") === "ASIA")
        val ns = Catalog.load(s, dir, "nation")
          .select(col("n_nationkey").as("ns_key"), col("n_name").as("supp_nation"))
        val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(nc), c("c_nationkey") === col("nc_key"))
          .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
          .join(su, l("l_suppkey") === su("s_suppkey"))
          .join(broadcast(ns), su("s_nationkey") === col("ns_key"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg((sumExactScaled(when(col("supp_nation") === "NATION_1", vol)
              .otherwise(lit(0)), 4) /
            sumExactScaled(vol, 4)).as("mkt_share"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             |  CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_1'
             |       THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(28,4))) AS DOUBLE) /
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
             |  AS mkt_share
             |FROM lineitem
             |JOIN orders    ON l_orderkey = o_orderkey
             |JOIN customer  ON o_custkey = c_custkey
             |JOIN nation n1 ON c_nationkey = n1.n_nationkey
             |JOIN region    ON n1.n_regionkey = r_regionkey
             |JOIN supplier  ON l_suppkey = s_suppkey
             |JOIN nation n2 ON s_nationkey = n2.n_nationkey
             |WHERE r_name = 'ASIA'
             |GROUP BY year(o_orderdate) ORDER BY o_year""".stripMargin)),

    // Q9-shape: profit by supplier nation and year. The testdata has no
    // partsupp/ps_supplycost, so cost = 0.5 · p_retailprice · l_quantity
    // (both 2-decimal → the 0.5-scaled product is exact at 5 decimals;
    // accumulate at scale 6).
    Q("tpch_q9_profit_proxy",
      (s, dir) => {
        val l = Catalog.load(s, dir, "lineitem")
        val o = Catalog.load(s, dir, "orders")
        val p = Catalog.load(s, dir, "part")
        val su = Catalog.load(s, dir, "supplier")
        val n = Catalog.load(s, dir, "nation")
        val amount = col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.5) * col("p_retailprice") * col("l_quantity")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(p, l("l_partkey") === p("p_partkey"))
          .join(su, l("l_suppkey") === su("s_suppkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
          .agg(sumExactScaled(amount, 6).as("profit"))
          .orderBy(col("n_name"), col("o_year").desc)
      },
      Some("""SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             |       - 0.5 * p_retailprice * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS profit
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN part     ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation   ON s_nationkey = n_nationkey
             |GROUP BY n_name, year(o_orderdate)
             |ORDER BY n_name, o_year DESC""".stripMargin)),

    // Q22-shape: prospect customers — above-average positive balance and no
    // URGENT order (every synthetic customer has *some* order, so the
    // classic never-ordered predicate would be vacuous). Scalar-subquery
    // threshold (broadcast one-row cross join) + filtered anti join for
    // NOT EXISTS; the average divides two identically-computed exact
    // aggregates, so the threshold comparison is engine-stable.
    Q("tpch_q22_prospects",
      (s, dir) => {
        val c = Catalog.load(s, dir, "customer")
        val urgent = Catalog.load(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
        val avgBal = c.filter(col("c_acctbal") > 0)
          .agg((sumExact(col("c_acctbal")) / count(lit(1))).as("a"))
        c.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("a"))
          .join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("numcust"),
            sumExact(col("c_acctbal")).as("totacctbal"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS numcust,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
             |FROM customer
             |WHERE c_acctbal > (
             |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             |    FROM customer WHERE c_acctbal > 0)
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderpriority = '1-URGENT')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Q11-shape: important suppliers — per-supplier line value within one
    // nation exceeding a fraction of that nation's total (the testdata has
    // no partsupp, so line revenue proxies stock value). Grouped aggregate
    // compared against a broadcast scalar aggregate of the SAME pre-filtered
    // input; the 0.01 fraction is a double multiply of an exact sum.
    Q("tpch_q11_important_suppliers",
      (s, dir) => {
        val su = Catalog.load(s, dir, "supplier").filter(col("s_nationkey") === 3)
        val l = Catalog.load(s, dir, "lineitem")
        val nat = l.join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        val perSupp = nat.groupBy(col("l_suppkey"))
          .agg(sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("value"))
        val threshold = nat.agg((lit(0.01) *
          sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)).as("thr"))
        perSupp.crossJoin(broadcast(threshold))
          .filter(col("value") > col("thr"))
          .select(col("l_suppkey"), col("value"))
          .orderBy(col("value").desc, col("l_suppkey").asc)
      },
      Some("""WITH nat AS (
             |  SELECT l_suppkey, l_extendedprice, l_discount
             |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |  WHERE s_nationkey = 3)
             |SELECT l_suppkey,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS value
             |FROM nat
             |GROUP BY l_suppkey
             |HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) > (
             |  SELECT 0.01 * CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
             |  FROM nat)
             |ORDER BY value DESC, l_suppkey ASC""".stripMargin)),

    // Q15-shape: top supplier(s) — per-supplier quarterly revenue equal to
    // the maximum of that aggregate (the view + MAX-subquery pattern;
    // max-of-exact-doubles is engine-stable).
    Q("tpch_q15_top_supplier",
      (s, dir) => {
        val su = Catalog.load(s, dir, "supplier")
        val rev = Catalog.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(sumExactScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("total_rev"))
        val maxRev = rev.agg(max(col("total_rev")).as("mx"))
        su.join(rev, su("s_suppkey") === rev("l_suppkey"))
          .crossJoin(broadcast(maxRev))
          .filter(col("total_rev") === col("mx"))
          .select(col("s_suppkey"), col("s_name"), col("total_rev"))
          .orderBy("s_suppkey")
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS total_rev
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, total_rev
             |FROM supplier JOIN rev ON s_suppkey = l_suppkey
             |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
             |ORDER BY s_suppkey""".stripMargin)),

    // Q17-shape: small-quantity revenue — each lineitem compared against a
    // correlated per-part average. Catalyst's rewrite of the correlated agg
    // subquery IS this plan: aggregate once per part, join back, filter.
    // The 0.5·avg threshold multiplies an exact-sum-derived double.
    Q("tpch_q17_small_quantity",
      (s, dir) => {
        val l = Catalog.load(s, dir, "lineitem")
        val perPart = l.groupBy(col("l_partkey").as("pk"))
          .agg(avgExact(col("l_quantity")).as("avg_qty"))
        l.join(perPart, l("l_partkey") === col("pk"))
          .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg((sumExact(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
      },
      Some("""WITH pa AS (
             |  SELECT l_partkey AS pk,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
             |  FROM lineitem GROUP BY l_partkey)
             |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
             |FROM lineitem JOIN pa ON l_partkey = pk
             |WHERE l_quantity < 0.5 * avg_qty""".stripMargin)),

    // Q21-shape: suppliers who were the SOLE late shipper in multi-supplier
    // orders ("late" = shipped >120 days after order date; the testdata has
    // no receipt/commit dates). Same oracle as always (distinct late pairs,
    // EXISTS semi, NOT EXISTS anti) — but computed as per-order COUNTS
    // (round 17, guide §2.3 "aggregate before you shuffle"): the semi/anti
    // formulation built the late pair set TWICE (two full lineitem⋈orders
    // distinct subtrees merge-anti-joined) and broadcast the corpus-sized
    // distinct (orderkey, suppkey) pair set for the semi probe — a shape
    // that dies at 100 TB where that pair set is lineitem-sized. Per pair
    // (ok, sk): is_late = any line late; per order: n_supp suppliers,
    // n_late late suppliers. A late pair qualifies iff the order has
    // ANOTHER supplier (n_supp >= 2 ⇔ the EXISTS, since the pair itself is
    // in the set) and NO OTHER late supplier (n_late == 1 ⇔ the NOT
    // EXISTS, the pair itself being late). One lineitem pass (the (ok,sk)
    // exchange is reused by both aggregates), counts instead of pair-set
    // joins, nothing corpus-sized broadcast. The orders join is LEFT so
    // orphan lines (no matching order) stay in the pair set exactly as the
    // un-joined `pairs` kept them. NULL l_suppkey rows are filtered out
    // up front (r17 advice): the oracle's `l_suppkey <>` comparisons
    // evaluate UNKNOWN on NULLs — a NULL-suppkey pair neither qualifies
    // nor counts as a peer — whereas the count form would tally it into
    // n_supp/n_late; TPC-H data is NOT NULL there, but the filter makes
    // the equivalence hold on any input.
    Q("tpch_q21_waiting_supplier",
      (s, dir) => {
        val l = Catalog.load(s, dir, "lineitem")
          .filter(col("l_suppkey").isNotNull)
        val o = Catalog.load(s, dir, "orders")
        val perPair = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_outer")
          .select(l("l_orderkey"), col("l_suppkey"),
            (col("o_orderdate").isNotNull &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"))
              .as("late"))
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(col("late")).as("is_late"))
        val perOrder = perPair.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_supp"),
            sum(when(col("is_late"), 1L).otherwise(0L)).as("n_late"))
        perPair.filter(col("is_late"))
          .join(perOrder.filter(col("n_supp") >= 2 && col("n_late") === 1),
            "l_orderkey")
          .groupBy(col("l_suppkey").as("suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("suppkey").asc)
          .limit(10)
      },
      Some(q21Oracle)),

    // Q21 over the bucketed-by-orderkey layout: every join, DISTINCT and
    // semi/anti probe in this shape keys on the orderkey, so all of them
    // inherit the bucket distribution — the whole chain collapses from 7
    // hash exchanges to the ONE the final suppkey aggregate genuinely
    // needs (plan-pinned; declared to the plan gate via designHx — the
    // layout cannot supply a suppkey distribution). Same results, same
    // oracle as the plain shape.
    Q("tpch_q21_bucketed",
      (s, dir) => {
        bucketedOrderkeyLayout(s, dir)
        val l = s.table("graft_b_lineitem")
        val o = s.table("graft_b_orders")
        val late = l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey") &&
            l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 120 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey")).distinct()
        val pairs = l.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
          .distinct()
        val lateOther = late.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
        late
          .hint("merge").join(pairs, col("ok2") === col("l_orderkey") &&
            col("sk2") =!= col("l_suppkey"), "left_semi")
          .hint("merge").join(lateOther, col("ok3") === col("l_orderkey") &&
            col("sk3") =!= col("l_suppkey"), "left_anti")
          .groupBy(col("l_suppkey").as("suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("suppkey").asc)
          .limit(10)
      },
      Some(q21Oracle),
      designHx = 1,
      servesLayout = Some("orderkey")),

    // Q13-shape: distribution of per-customer urgent-order counts — a LEFT
    // OUTER join whose extra condition lives in the JOIN clause (not WHERE,
    // which would turn it inner), then a count-of-counts histogram. The
    // urgent filter guarantees a 0-orders bucket, exercising outer-null
    // counting (COUNT(col) skips nulls).
    Q("tpch_q13_custdist",
      (s, dir) => {
        val c = Catalog.load(s, dir, "customer")
        val o = Catalog.load(s, dir, "orders")
        val perCust = c.join(o,
            c("c_custkey") === o("o_custkey") &&
              o("o_orderpriority") === "1-URGENT", "left_outer")
          .groupBy(c("c_custkey"))
          .agg(count(o("o_orderkey")).as("c_count"))
        perCust.groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist
             |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |      FROM customer LEFT JOIN orders
             |        ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
             |      GROUP BY c_custkey) t
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Q16-shape: distinct suppliers per part profile, excluding a
    // NOT IN supplier set (negative-balance here; complaints in TPC-H) —
    // COUNT(DISTINCT) after an anti join.
    Q("tpch_q16_parts_suppliers",
      (s, dir) => {
        val l = Catalog.load(s, dir, "lineitem")
        val p = Catalog.load(s, dir, "part").filter(col("p_size").isin(1, 5, 9, 13))
        val bad = Catalog.load(s, dir, "supplier")
          .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("bad_supp"))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .join(broadcast(bad), l("l_suppkey") === col("bad_supp"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc,
            col("p_brand"), col("p_type"), col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
             |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size IN (1, 5, 9, 13)
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // Q20-shape: suppliers who shipped > 100 units of widget parts in 1997 —
    // a nested IN chain (part subset → grouped HAVING per supplier → supplier
    // filter) planned as two stacked semi joins.
    Q("tpch_q20_excess_suppliers",
      (s, dir) => {
        val su = Catalog.load(s, dir, "supplier")
        val l = Catalog.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        val widgetParts = Catalog.load(s, dir, "part")
          .filter(col("p_name").like("%widget%"))
          .select(col("p_partkey"))
        val heavy = l
          .join(broadcast(widgetParts), l("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_suppkey"))
          .agg(sumExact(col("l_quantity")).as("q"))
          .filter(col("q") > 150)
          .select(col("l_suppkey"))
        su.join(heavy, su("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_suppkey", "s_name")
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name
             |FROM supplier
             |WHERE s_suppkey IN (
             |  SELECT l_suppkey FROM lineitem
             |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
             |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |  GROUP BY l_suppkey
             |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150)
             |ORDER BY s_suppkey""".stripMargin)),

    // Q2-shape: minimum-cost supplier per part in a region — the last of the
    // 22 TPC-H shapes. The testdata has no partsupp table, so the
    // part-supplier catalog derives from lineitem (supplycost := min observed
    // extendedprice per (part, supplier); MIN on doubles is exact in both
    // engines). The correlated min-subquery ("cost = the minimum cost for
    // that part among EUROPE suppliers") is expressed Spark-first as a
    // partition-min window over the eligible rows — ONE shuffle on p_partkey
    // instead of a decorrelated aggregate + re-join; dimensions broadcast.
    Q("tpch_q2_min_cost_supplier",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ps = Catalog.load(s, dir, "lineitem")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("l_extendedprice")).as("supplycost"))
        val p = Catalog.load(s, dir, "part")
          .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
          .select("p_partkey", "p_type", "p_size")
        val su = Catalog.load(s, dir, "supplier")
        val n = Catalog.load(s, dir, "nation")
        val r = Catalog.load(s, dir, "region").filter(col("r_name") === "EUROPE")
        val eligible = ps
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        eligible
          .withColumn("min_cost",
            min(col("supplycost")).over(Window.partitionBy(col("p_partkey"))))
          .filter(col("supplycost") === col("min_cost"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("supplycost"))
          .orderBy(col("s_acctbal").desc, col("n_name").asc,
            col("s_name").asc, col("p_partkey").asc)
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             |         MIN(l_extendedprice) AS supplycost
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT s_acctbal, s_name, n_name, p_partkey, supplycost
             |FROM part, supplier, ps, nation, region
             |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
             |  AND p_size = 15 AND p_type = 'STANDARD'
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'EUROPE'
             |  AND supplycost = (
             |    SELECT MIN(supplycost)
             |    FROM ps, supplier, nation, region
             |    WHERE ps_partkey = p_partkey AND s_suppkey = ps_suppkey
             |      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |      AND r_name = 'EUROPE')
             |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC""".stripMargin))
  )
}
