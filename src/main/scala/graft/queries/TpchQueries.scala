package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops._

/** Relational analytics over the TPC-H tables (`lineitem`, `orders`,
  * `customer`, `part`, `supplier`, `nation`, `region`): the TPC-H query
  * shapes, the grouping/rollup/cube/pivot/set-operation surface, exact
  * and approximate percentiles ([[Quantiles]]), skew salting
  * ([[Skew]]) and Morton layout keys ([[Bucketing]]).
  */
object TpchQueries {
  val all: Seq[Query] = Seq(
    // Batch analytics: TPC-H Q1-style pricing summary over lineitem
    Query("q13_pricing_summary", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(28,10)")), 2)
            .cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(28,10)")), 2)
            .cast("double").as("sum_base_price"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(28,10)")), 2).cast("double").as("sum_disc_price"),
          count(lit(1)).as("cnt")),
      Oracle(
        """SELECT l_returnflag, l_linestatus,
        |       round(sum(CAST(l_quantity AS DECIMAL(28,10))), 2)::DOUBLE AS sum_qty,
        |       round(sum(CAST(l_extendedprice AS DECIMAL(28,10))), 2)::DOUBLE AS sum_base_price,
        |       round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS sum_disc_price,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin)),

    // Batch analytics: revenue by nation through the star schema;
    // nation/region broadcast, orders/lineitem co-partitioned by AQE
    Query("q14_revenue_by_nation", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(28,10)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
    },
      Oracle(
        """SELECT n_name,
        |       round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS revenue,
        |       count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin)),

    // Batch analytics: top-10 customers by revenue — TakeOrdered (scales;
    // no global sort / single-partition window)
    Query("q15_top_customers", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey").asc)
        .limit(10)
    },
      Oracle(
        """SELECT o_custkey,
        |       round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY revenue DESC, o_custkey ASC LIMIT 10""".stripMargin)),

    // Rollup aggregation surface (free via Catalyst; absent in reference)
    Query("q31_rollup_pricing", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity").cast("decimal(28,10)")), 2)
          .cast("double").as("sum_qty"), count(lit(1)).as("cnt")),
      Oracle(
        """SELECT l_returnflag, l_linestatus,
        |       round(sum(CAST(l_quantity AS DECIMAL(28,10))), 2)::DOUBLE AS sum_qty,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // TPC-H Q3 shape: top-10 open orders by pending revenue (join +
    // filter + agg + TakeOrdered)
    Query("q35_shipping_priority", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)")), 2).cast("double").as("revenue"))
        .select(col("l_orderkey"),
          unix_timestamp(col("o_orderdate")).as("o_orderdate"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      Oracle(
        """SELECT l_orderkey,
        |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate,
        |       o_orderpriority,
        |       round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin)),

    // TPC-H Q5 shape: revenue by region through the full star (6-way
    // join; nation/region broadcast)
    Query("q36_region_volume", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
    },
      Oracle(
        """SELECT r_name,
        |       round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS revenue,
        |       count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin)),

    // TPC-H Q10 shape: top customers by returned-item revenue (filter +
    // 3-way join + agg + TakeOrdered)
    Query("q39_returned_items", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      li.filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      Oracle(
        """SELECT c_custkey, c_name, c_mktsegment,
        |       round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin)),

    // Decile distribution of order values within each priority class.
    // NOT a Window: ntile partitioned by the 5-value o_orderpriority
    // would sort each priority's entire order set on ONE task — the
    // WindowExec scale-killer. Quantiles.exactNtile computes the
    // identical assignment via range partitioning + broadcast prefix
    // offsets (two bounded passes, no per-group single-task sort, no
    // collect()); PlanShapeSpec pins the Window-free plan.
    // Side-effect note: CONSTRUCTING this entry translates the pinned
    // frame to an RDD, which runs the range sampler (and, under AQE,
    // the upstream stages) — construction is not free, though nothing
    // is collected or materialized. The other pin-using entries (q70
    // k-means, q73 funnel, q77 packing) share this property.
    Query("q40_order_deciles", (s, dir) =>
      Quantiles.exactNtile(
        Tables.orders(s, dir)
          .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey")),
        "o_orderpriority", Seq("o_totalprice", "o_orderkey"), 10)
        .select(col("o_orderpriority"), col("bucket").as("decile"))
        .groupBy(col("o_orderpriority"), col("decile")).agg(count(lit(1)).as("cnt")),
      Oracle(
        """SELECT o_orderpriority, decile, count(*) AS cnt FROM (
        |  SELECT o_orderpriority,
        |         ntile(10) OVER (PARTITION BY o_orderpriority
        |                         ORDER BY o_totalprice ASC, o_orderkey ASC)::BIGINT AS decile
        |  FROM orders)
        |GROUP BY 1, 2""".stripMargin)),

    // Join-type surface: semi/anti joins (customers with vs without
    // any open order)
    Query("q37_semi_anti", (s, dir) => {
      val c = Tables.customer(s, dir)
      val open = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      val withOpen = c.join(open, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_open").as("tag"))
      val without = c.join(open, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_open").as("tag"))
      withOpen.unionByName(without)
    },
      Oracle(
        """SELECT c_custkey, 'has_open' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |UNION ALL
        |SELECT c_custkey, 'no_open' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin)),

    // Cube aggregation surface
    Query("q38_cube_pricing", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt")),
      Oracle(
        """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    // TPC-H Q4 shape: orders with at least one late shipment (semi-join
    // EXISTS with a correlated range predicate), counted per priority
    Query("q44_late_shipment_priority", (s, dir) => {
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      o.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
      Oracle(
        """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1""".stripMargin)),

    // TPC-H Q7 shape: cross-border trade volume between customer and
    // supplier nations (6-way join, the constant-size nation table
    // broadcast twice under two aliases; supplier is SF-proportional so
    // its join strategy is left to size-based planning / AQE,
    // dimension-pair grouping)
    Query("q49_nation_trade_pairs", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val cn = Tables.nation(s, dir)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      val sn = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .filter(col("cust_nation") =!= col("supp_nation"))
        .groupBy(col("cust_nation"), col("supp_nation"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
    },
      Oracle(
        """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |       round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS revenue,
        |       count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE cn.n_name <> sn.n_name
        |GROUP BY 1, 2""".stripMargin)),

    // TPC-H Q18 shape: large-quantity orders — lineitem pre-aggregated
    // by order BEFORE the joins (map-side size reduction; the
    // join-then-aggregate formulation would carry every line through
    // both joins), exact-decimal HAVING, TakeOrdered top-100
    Query("q50_large_orders", (s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(28,10)")).as("dq"))
        .filter(col("dq") > 300)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"),
          unix_timestamp(col("o_orderdate")).as("o_orderdate"),
          round(col("dq"), 2).cast("double").as("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(100)
    },
      Oracle(
        """SELECT o_orderkey, c_custkey,
        |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate,
        |       round(sum(CAST(l_quantity AS DECIMAL(28,10))), 2)::DOUBLE AS total_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2, 3
        |HAVING sum(CAST(l_quantity AS DECIMAL(28,10))) > 300
        |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 100""".stripMargin)),

    // Exact interpolated percentiles per priority class (sort-based
    // aggregate per dimension-sized group; DuckDB quantile_cont is the
    // same linear interpolation). Guarded: exact percentile buffers a
    // whole group per aggregation buffer, so the operator pre-checks
    // group sizes and raises past maxGroupRows, pointing at the
    // fixed-memory q53 approx path (the 100 TB companion).
    Query("q51_price_percentiles", (s, dir) =>
      Quantiles.guardedExactPercentiles(
        Tables.orders(s, dir), "o_orderpriority", "o_totalprice",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75")),
      Oracle(
        """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        |       round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |       round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin)),

    // The 100 TB companion to q51: approx_percentile (positive-indexed
    // QuantileSummaries sketch — fixed memory, one pass, mergeable
    // across partitions) where exact interpolated percentiles would
    // need a per-group sort. Approximate → rows-only check, like the
    // other sketches (q03/q32)
    Query("q53_price_percentiles_approx", (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          approx_percentile(col("o_totalprice"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("pcts"),
          count(lit(1)).as("cnt"))
        .select(col("o_orderpriority"),
          round(element_at(col("pcts"), 1), 2).as("p25"),
          round(element_at(col("pcts"), 2), 2).as("p50"),
          round(element_at(col("pcts"), 3), 2).as("p75"),
          col("cnt")),
      BandTwin("q112_pctl_band")),

    // Set-operation surface (absent from the reference, SURVEY §2.10):
    // customers holding BOTH open and finished orders (INTERSECT) and
    // open-only customers (EXCEPT) — planned as semi/anti join shapes
    Query("q54_set_ops", (s, dir) => {
      val o = Tables.orders(s, dir)
      def custsWith(status: String) = o.filter(col("o_orderstatus") === status)
        .select(col("o_custkey")).distinct()
      val both = custsWith("O").intersect(custsWith("F"))
        .select(col("o_custkey"), lit("open_and_finished").as("tag"))
      val openOnly = custsWith("O").except(custsWith("F"))
        .select(col("o_custkey"), lit("open_only").as("tag"))
      both.unionByName(openOnly)
    },
      Oracle(
        """SELECT o_custkey, 'open_and_finished' AS tag FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT o_custkey, 'open_only' AS tag FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin)),

    // Pivot surface: order counts per priority pivoted on order status
    // (RelationalGroupedDataset.pivot with explicit values — the
    // two-pass value-discovery variant is the anti-pattern at scale)
    Query("q55_pivot_status", (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnRenamed("O", "open_cnt")
        .withColumnRenamed("F", "finished_cnt")
        .withColumnRenamed("P", "partial_cnt"),
      Oracle(
        """SELECT o_orderpriority,
        |       sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS open_cnt,
        |       sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS finished_cnt,
        |       sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS partial_cnt
        |FROM orders GROUP BY 1""".stripMargin)),

    // Explicit GROUPING SETS through the SQL front end: each dimension
    // aggregated independently in one pass over the data
    Query("q52_grouping_sets", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS cnt
              |FROM lineitem_v
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)
    },
      Oracle(
        """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)),

    // TPC-H Q14 shape: promo-part revenue share per ship month — the
    // part dimension joined in (size-based planning picks broadcast at
    // small SF; it is SF-proportional, so no hint), conditional revenue
    // split, ratio computed from the rounded totals so both engines
    // divide identical doubles
    Query("q56_promo_revenue", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,10)")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(unix_timestamp(date_trunc("month", col("l_shipdate")))
          .as("ship_month"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(28,10)"))), 2)
            .cast("double").as("promo_rev"),
          round(sum(rev), 2).cast("double").as("total_rev"))
        .withColumn("promo_share",
          round(col("promo_rev") / col("total_rev"), 6))
    },
      Oracle(
        """WITH m AS (
        |  SELECT CAST(floor(epoch(date_trunc('month', l_shipdate))) AS BIGINT) AS ship_month,
        |         round(sum(CASE WHEN p_type = 'PROMO'
        |                        THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
        |                        ELSE CAST(0 AS DECIMAL(28,10)) END), 2)::DOUBLE AS promo_rev,
        |         round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS total_rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT ship_month, promo_rev, total_rev,
        |       round(promo_rev / total_rev, 6) AS promo_share
        |FROM m""".stripMargin)),

    // TPC-H Q12 shape: per ship-month high/low-priority line counts
    // (join + conditional aggregation)
    Query("q45_ship_month_priority_mix", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(unix_timestamp(date_trunc("month", col("l_shipdate")))
          .as("ship_month"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_cnt"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_cnt"))
    },
      Oracle(
        """SELECT CAST(floor(epoch(date_trunc('month', l_shipdate))) AS BIGINT) AS ship_month,
        |       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END)::BIGINT AS high_line_cnt,
        |       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END)::BIGINT AS low_line_cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)),

    // TPC-H Q19 shape: disjunctive multi-predicate join. The equi-key
    // stays a conjunct OUTSIDE the OR, so Catalyst still plans a hash
    // join on partkey (broadcast at this dimension size) with the OR as
    // a join residual — never a cartesian — and extracts each side's
    // single-side predicate disjunction (e.g. l_quantity ranges) as a
    // pushed scan filter. Per-brand rows instead of Q19's single scalar
    // so the oracle hash pins ~25 groups, not 1.
    Query("q57_disjunctive_band_revenue", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      val d1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)
      val d2 = col("p_brand") === "Brand#13" &&
        col("p_type").isin("PROMO", "ECONOMY") &&
        col("l_quantity").between(10, 30)
      val d3 = col("p_type") === "LARGE" && col("p_size").between(20, 40) &&
        col("l_quantity").between(20, 50)
      li.join(p, col("l_partkey") === col("p_partkey") && (d1 || d2 || d3))
        .groupBy(col("p_brand"))
        .agg(
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(28,10)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
    },
      Oracle(
        """SELECT p_brand,
        |       round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS revenue,
        |       count(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey AND (
        |  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |  OR (p_brand = 'Brand#13' AND p_type IN ('PROMO', 'ECONOMY') AND l_quantity BETWEEN 10 AND 30)
        |  OR (p_type = 'LARGE' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 20 AND 50))
        |GROUP BY 1""".stripMargin)),

    // TPC-H Q8 shape: national market share — NATION_2's slice of
    // STANDARD-part revenue sold to ASIA customers, per order year.
    // Star plan: lineitem streams through broadcast joins against the
    // filtered part dimension, nation (twice, aliased), region; orders/
    // customer/supplier are SF-proportional so size-based planning (and
    // AQE at runtime) picks broadcast-vs-shuffle per scale. Shares are
    // derived q56-style from the two rounded sums, not decimal division
    // (engines disagree on decimal-division scale)
    Query("q58_market_share", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      val p = Tables.part(s, dir).filter(col("p_type") === "STANDARD")
        .select(col("p_partkey"))
      val custNation = n.select(col("n_nationkey").as("cn_key"),
        col("n_regionkey").as("cn_region"))
      val suppNation = n.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,10)")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNation), col("c_nationkey") === col("cn_key"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          col("cn_region") === col("r_regionkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          round(sum(when(col("supp_nation") === "NATION_2", rev)
            .otherwise(lit(0).cast("decimal(28,10)"))), 2)
            .cast("double").as("nation_rev"),
          round(sum(rev), 2).cast("double").as("total_rev"))
        .withColumn("mkt_share", round(col("nation_rev") / col("total_rev"), 6))
    },
      Oracle(
        """WITH y AS (
        |  SELECT year(o_orderdate)::BIGINT AS o_year,
        |         round(sum(CASE WHEN n2.n_name = 'NATION_2'
        |                        THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
        |                        ELSE CAST(0 AS DECIMAL(28,10)) END), 2)::DOUBLE AS nation_rev,
        |         round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS total_rev
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  GROUP BY 1)
        |SELECT o_year, nation_rev, total_rev,
        |       round(nation_rev / total_rev, 6) AS mkt_share
        |FROM y""".stripMargin)),

    // TPC-H Q17 shape: revenue locked in small-quantity orders — line
    // items whose quantity is under 1/5 of their part's average. The
    // correlated scalar subquery becomes a pre-aggregation of lineitem
    // by partkey joined back on the same key (both sides shuffle on
    // partkey once). The comparison is written sum/count-free of
    // division — 5·qty·cnt < sum_qty — so it is exact integer-in-double
    // arithmetic in both engines, immune to avg() type differences
    Query("q60_small_quantity_revenue", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val avgQ = li.groupBy(col("l_partkey").as("ap_key"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("qty_cnt"))
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      li.join(avgQ, col("l_partkey") === col("ap_key"))
        .filter(col("l_quantity") * lit(5) * col("qty_cnt") < col("sum_qty"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          round(round(sum(col("l_extendedprice").cast("decimal(28,10)")), 2)
            .cast("double") / lit(7.0), 2).as("avg_yearly"),
          count(lit(1)).as("cnt"))
    },
      Oracle(
        """WITH aq AS (
        |  SELECT l_partkey AS ap_key, sum(l_quantity) AS sum_qty,
        |         count(*) AS qty_cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand,
        |       round(round(sum(CAST(l_extendedprice AS DECIMAL(28,10))), 2)::DOUBLE / 7.0, 2) AS avg_yearly,
        |       count(*) AS cnt
        |FROM lineitem
        |JOIN aq ON l_partkey = ap_key
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity * 5 * qty_cnt < sum_qty
        |GROUP BY 1""".stripMargin)),

    // TPC-H Q22 shape: above-average-balance customers with no recent
    // orders, per market segment. The scalar subquery (positive-balance
    // average) is a one-row aggregate cross-joined in as a broadcast —
    // no collect(); the comparison is division-free
    // (bal·cnt > sum) so it's engine-exact; NOT EXISTS is a left-anti
    // join against the date-pruned orders projection
    Query("q61_rich_inactive_customers", (s, dir) => {
      val c = Tables.customer(s, dir)
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
        .select(col("o_custkey"))
      val posAgg = c.filter(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_pos"),
          count(lit(1)).as("cnt_pos"))
      c.crossJoin(broadcast(posAgg))
        .filter(col("c_acctbal") * col("cnt_pos") > col("sum_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("num_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double").as("total_bal"))
    },
      Oracle(
        """WITH t AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))::DOUBLE AS sum_pos,
        |         count(*) AS cnt_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS num_cust,
        |       round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)::DOUBLE AS total_bal
        |FROM customer, t
        |WHERE c_acctbal * cnt_pos > sum_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= DATE '2000-01-01')
        |GROUP BY 1""".stripMargin)),

    // TPC-H Q15 shape: the top supplier(s) by revenue in a half-year
    // ship window. The revenue view is one partial+final aggregate over
    // the date-pruned scan; the argmax is the same one-row-aggregate
    // broadcast cross-join as q61 (no collect(), no window over an
    // unpartitioned frame); equality is on the 2-digit-rounded double,
    // engine-stable
    Query("q62_top_supplier", (s, dir) => {
      val sr = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("date") &&
          col("l_shipdate") < lit("2000-07-01").cast("date"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)")), 2).cast("double").as("total_rev"))
      val top = sr.agg(max(col("total_rev")).as("max_rev"))
      sr.crossJoin(broadcast(top))
        .filter(col("total_rev") === col("max_rev"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev"))
    },
      Oracle(
        """WITH sr AS (
        |  SELECT l_suppkey,
        |         round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2)::DOUBLE AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '2000-01-01' AND l_shipdate < DATE '2000-07-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM sr JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM sr)""".stripMargin)),

    // TPC-H Q6 shape: pure scan-filter-aggregate forecast query — every
    // predicate (date range, discount band, quantity cap) reaches the
    // parquet scan as a pushed filter; zero joins, one agg exchange
    Query("q63_forecast_revenue", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("date") &&
          col("l_shipdate") < lit("2001-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(28,10)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("cnt")),
      Oracle(
        """SELECT round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,10))), 2)::DOUBLE AS revenue,
        |       count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate >= DATE '2000-01-01' AND l_shipdate < DATE '2001-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // skew-salted equi-join: the hot-key mitigation (big side salted
    // from a row-identity column, small side replicated saltFactor
    // ways) must return EXACTLY the plain join — the oracle is the
    // plain join; previously spec-only
    Query("q96_salted_join", (s, dir) =>
      Skew.saltedJoin(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey").as("suppkey")),
        Tables.supplier(s, dir).select(col("s_suppkey").as("suppkey"),
          col("s_name")),
        "suppkey", saltFactor = 8, bigSaltSource = "l_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("suppkey"),
          col("s_name")),
      Oracle(
        """SELECT l_orderkey, l_linenumber, l_suppkey AS suppkey, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin)),

    // band audit of q53's approx_percentile: the sketch value's RANK
    // must sit within ±max(2, 2n/accuracy) of the target rank p·n —
    // the QuantileSummaries guarantee (rank error ≤ n/accuracy) with 2×
    // merge headroom. The ESTIMATE varies with merge order, but the
    // guarantee holds under ANY order, so the boolean is deterministic
    // and the row hash-exact — the q53 entry stays rows-only
    Query("q112_pctl_band", (s, dir) => {
      val o = Tables.orders(s, dir)
      val est = o.groupBy(col("o_orderpriority"))
        .agg(approx_percentile(col("o_totalprice"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("pcts"),
          count(lit(1)).as("n"))
      val un = est.select(col("o_orderpriority"), col("n"),
        explode(array(Seq(("p25", 0.25, 1), ("p50", 0.5, 2), ("p75", 0.75, 3)).map {
          case (nm, p, i) => struct(lit(nm).as("pct"), lit(p).as("p"),
            element_at(col("pcts"), i).as("est_v"))
        }: _*)).as("e"))
        .select(col("o_orderpriority"), col("n"), col("e.pct").as("pct"),
          col("e.p").as("p"), col("e.est_v").as("est_v"))
      val ranks = o.select(col("o_orderpriority"), col("o_totalprice"))
        .join(broadcast(un), "o_orderpriority")
        .groupBy(col("o_orderpriority"), col("pct"), col("p"), col("n"))
        .agg(
          sum(when(col("o_totalprice") <= col("est_v"), 1L).otherwise(0L)).as("cnt_le"),
          sum(when(col("o_totalprice") < col("est_v"), 1L).otherwise(0L)).as("cnt_lt"))
      val d = greatest(lit(2.0), col("n").cast("double") * 2.0 / 10000.0)
      ranks.select(col("o_orderpriority"), col("pct"), col("n"),
        (col("cnt_lt").cast("double") <= col("p") * col("n").cast("double") + d &&
          col("cnt_le").cast("double") >= col("p") * col("n").cast("double") - d)
          .as("within_band"))
    },
      // the sketch value's rank is within the QuantileSummaries bound for
      // every (priority, percentile) — true whatever the merge order
      Oracle(
        """WITH g AS (SELECT o_orderpriority, count(*)::BIGINT AS n
        |           FROM orders GROUP BY 1)
        |SELECT o_orderpriority, p.pct, n, true AS within_band
        |FROM g CROSS JOIN (VALUES ('p25'), ('p50'), ('p75')) p(pct)""".stripMargin)),

    // Morton (Z-order) key over (l_partkey, l_suppkey) — the layout
    // key Bucketing.zOrderWrite range-partitions on so a 100 TB table
    // prunes files on EITHER filter column. Pure codegen'd bit
    // interleave (shift/and), bit-reproducible in any engine — this
    // entry oracles the key itself; BucketingSpec drives the write and
    // measures the file skipping
    Query("q136_zorder_key", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").cast("long"),
          Bucketing.zValue(col("l_partkey"), col("l_suppkey"), bits = 16)
            .as("zval")),
      // the same 16-bit Morton interleave as Bucketing.zValue — pure
      // integer bit arithmetic, so the layout key is engine-reproducible
      Oracle(
        """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |       list_sum(list_transform(generate_series(0, 15), b ->
        |         (((l_partkey >> b) & 1) << (2*b)) +
        |         (((l_suppkey >> b) & 1) << (2*b + 1))))::BIGINT AS zval
        |FROM lineitem""".stripMargin)),

    // three-dimensional Morton key (q136's sibling over (l_partkey,
    // l_suppkey, l_quantity)): round-robin bit interleave — column i
    // owns positions 3b+i — so ONE layout write serves filters on any
    // of the three columns; same codegen'd shift/and fold,
    // bit-reproducible in any engine (BucketingSpec drives the 3-dim
    // write and proves the box pruning)
    Query("q154_zorder3_key", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").cast("long"),
          Bucketing.zValueN(Seq(col("l_partkey"), col("l_suppkey"),
            col("l_quantity")), bits = 16).as("zval3")),
      // the 3-way round-robin interleave of zValueN: bit b of column i
      // lands at position 3b+i (l_quantity is an integral double in this
      // corpus, so both engines' long casts agree)
      Oracle(
        """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |       list_sum(list_transform(generate_series(0, 15), b ->
        |         (((l_partkey >> b) & 1) << (3*b)) +
        |         (((l_suppkey >> b) & 1) << (3*b + 1)) +
        |         (((l_quantity::BIGINT >> b) & 1) << (3*b + 2))))::BIGINT AS zval3
        |FROM lineitem""".stripMargin)),

    // referential-integrity matrix: three real TPC-H FK edges (the
    // value is the zero-orphan green) plus a deliberately-incomplete
    // parent (customers capped at key 100) proving the orphan counter
    // (the left join's null-parent branch) actually counts at the gate
    Query("q239_fk_audit", (s, dir) => {
      val P = graft.ops.Profile
      P.fkAudit(Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey",
          "lineitem.l_orderkey->orders")
        .unionByName(P.fkAudit(Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey",
          "orders.o_custkey->customer"))
        .unionByName(P.fkAudit(Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey",
          "customer.c_nationkey->nation"))
        .unionByName(P.fkAudit(Tables.events(s, dir), "user_id",
          Tables.customer(s, dir).filter(col("c_custkey") <= 100),
          "c_custkey", "events.user_id->top100_customers"))
    },
      Oracle(
        """WITH
        |c1 AS (SELECT l_orderkey AS k FROM lineitem),
        |p1 AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |       WHERE o_orderkey IS NOT NULL),
        |o1 AS (SELECT c1.k FROM c1 LEFT JOIN p1 ON c1.k = p1.k
        |       WHERE c1.k IS NOT NULL AND p1.k IS NULL),
        |c2 AS (SELECT o_custkey AS k FROM orders),
        |p2 AS (SELECT DISTINCT c_custkey AS k FROM customer
        |       WHERE c_custkey IS NOT NULL),
        |o2 AS (SELECT c2.k FROM c2 LEFT JOIN p2 ON c2.k = p2.k
        |       WHERE c2.k IS NOT NULL AND p2.k IS NULL),
        |c3 AS (SELECT c_nationkey AS k FROM customer),
        |p3 AS (SELECT DISTINCT n_nationkey AS k FROM nation
        |       WHERE n_nationkey IS NOT NULL),
        |o3 AS (SELECT c3.k FROM c3 LEFT JOIN p3 ON c3.k = p3.k
        |       WHERE c3.k IS NOT NULL AND p3.k IS NULL),
        |c4 AS (SELECT user_id AS k FROM events),
        |p4 AS (SELECT DISTINCT c_custkey AS k FROM customer
        |       WHERE c_custkey IS NOT NULL AND c_custkey <= 100),
        |o4 AS (SELECT c4.k FROM c4 LEFT JOIN p4 ON c4.k = p4.k
        |       WHERE c4.k IS NOT NULL AND p4.k IS NULL)
        |SELECT 'lineitem.l_orderkey->orders' AS fk,
        |  (SELECT count(*) FROM c1)::BIGINT AS n_rows,
        |  (SELECT count(*) FROM c1 WHERE k IS NULL)::BIGINT AS n_null_rows,
        |  (SELECT count(DISTINCT k) FROM c1)::BIGINT AS n_keys,
        |  (SELECT count(*) FROM o1)::BIGINT AS n_orphan_rows,
        |  (SELECT count(DISTINCT k) FROM o1)::BIGINT AS n_orphan_keys
        |UNION ALL SELECT 'orders.o_custkey->customer',
        |  (SELECT count(*) FROM c2), (SELECT count(*) FROM c2 WHERE k IS NULL),
        |  (SELECT count(DISTINCT k) FROM c2), (SELECT count(*) FROM o2),
        |  (SELECT count(DISTINCT k) FROM o2)
        |UNION ALL SELECT 'customer.c_nationkey->nation',
        |  (SELECT count(*) FROM c3), (SELECT count(*) FROM c3 WHERE k IS NULL),
        |  (SELECT count(DISTINCT k) FROM c3), (SELECT count(*) FROM o3),
        |  (SELECT count(DISTINCT k) FROM o3)
        |UNION ALL SELECT 'events.user_id->top100_customers',
        |  (SELECT count(*) FROM c4), (SELECT count(*) FROM c4 WHERE k IS NULL),
        |  (SELECT count(DISTINCT k) FROM c4), (SELECT count(*) FROM o4),
        |  (SELECT count(DISTINCT k) FROM o4)""".stripMargin)),

    // orders-per-customer histogram INCLUDING the zero bucket (the
    // left join is the point: silent customers are the finding)
    Query("q243_orders_per_customer", (s, dir) =>
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(Tables.orders(s, dir)
          .select(col("o_custkey").as("c_custkey"), col("o_orderkey")),
          Seq("c_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers")),
      Oracle(
        """WITH per AS (
        |  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS n_orders
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1)
        |SELECT n_orders, count(*)::BIGINT AS n_customers
        |FROM per GROUP BY 1""".stripMargin)),

    // exact basket-size percentiles (lines per order) by priority —
    // the q51 guarded-exact body over an order-grain pre-aggregate
    Query("q244_basket_percentiles", (s, dir) => {
      val sz = Tables.lineitem(s, dir).groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"))
      Quantiles.guardedExactPercentiles(
        Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_orderpriority"))
          .join(sz, "l_orderkey"),
        "o_orderpriority", "n_lines", Seq(0.5 -> "p50", 0.9 -> "p90"))
    },
      Oracle(
        """WITH sz AS (
        |  SELECT l_orderkey, count(*)::BIGINT AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT o.o_orderpriority,
        |       round(quantile_cont(sz.n_lines, 0.5), 2) AS p50,
        |       round(quantile_cont(sz.n_lines, 0.9), 2) AS p90,
        |       count(*) AS cnt
        |FROM orders o JOIN sz ON sz.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin)),
  )
}
