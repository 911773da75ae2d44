package graft
package board

import graft.operators.Relational

/** The relational family over the TPC-H tables: joins, set operations,
  * ranking windows, the TPC-H query set and exact-moment statistics
  * (`Relational`, plus the bloom semi-join and column profiler). */
object RelationalQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // --- relational coverage (SURVEY §2.1-§2.3, §2.6-§2.7) ---
    QueryDef("q_revenue_by_order", (s, d) =>
      Relational.revenueByOrder(Tables.lineitem(s, d), "1996-01-01", "1997-01-01"),
      """SELECT l_orderkey,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey""".stripMargin),
    QueryDef("q_revenue_type_supplier", (s, d) =>
      Relational.revenueByTypeAndSupplier(Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d)),
      """SELECT p_type, s_name,
        |       cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) AS sum_qty,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_type, s_name""".stripMargin),
    // deterministic salted fact-fact join (skew mechanism); result is
    // oracle-gated to EQUAL the plain join's
    QueryDef("q_salted_join", (s, d) =>
      Relational.revenueByPrioritySalted(Tables.lineitem(s, d), Tables.orders(s, d)),
      """SELECT o_orderpriority,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_customers_by_region", (s, d) =>
      Relational.customersByRegion(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
      """SELECT r_name, n_name, count(*) AS n_customers,
        |       cast(sum(cast(c_acctbal AS DECIMAL(18,2))) AS double) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),
    QueryDef("q_semi_orders_big_items", (s, d) =>
      Relational.ordersWithBigItems(Tables.orders(s, d), Tables.lineitem(s, d), 45.0),
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45.0)
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_anti_orders_no_items", (s, d) =>
      Relational.ordersWithoutItems(Tables.orders(s, d), Tables.lineitem(s, d)),
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)""".stripMargin),
    QueryDef("q_top10_orders", (s, d) => Relational.topOrdersByPrice(Tables.orders(s, d), 10),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    QueryDef("q_top3_orders_per_customer", (s, d) => Relational.topOrdersPerCustomer(Tables.orders(s, d), 3),
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |                  row_number() OVER (PARTITION BY o_custkey
        |                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |           FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice, rn FROM r WHERE rn <= 3""".stripMargin),
    // ranking-window family beyond row_number: quartile + dense rank
    // per priority (deterministic tie-breaks; one shuffle on the
    // partition key)
    QueryDef("q_order_quartiles", (s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val wd = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderstatus").asc)
      Tables.orders(s, d)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("status_rank", dense_rank().over(wd).cast("long"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          col("quartile"), col("status_rank"))
    },
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |       CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS quartile,
        |       CAST(dense_rank() OVER (PARTITION BY o_orderpriority
        |              ORDER BY o_orderstatus ASC) AS BIGINT) AS status_rank
        |FROM orders""".stripMargin),
    QueryDef("q_rollup_lineitem", (s, d) => Relational.rollupQtyByFlagStatus(Tables.lineitem(s, d)),
      """SELECT l_returnflag, l_linestatus,
        |       cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("q_union_nationkeys", (s, d) =>
      Relational.activeNationKeys(Tables.supplier(s, d), Tables.customer(s, d)),
      """SELECT cast(s_nationkey AS bigint) AS nationkey FROM supplier
        |UNION
        |SELECT cast(c_nationkey AS bigint) AS nationkey FROM customer""".stripMargin),
    QueryDef("q_setops_nationkeys", (s, d) =>
      Relational.nationKeySetOps(Tables.supplier(s, d), Tables.customer(s, d)),
      """WITH s AS (SELECT DISTINCT cast(s_nationkey AS bigint) AS nationkey FROM supplier),
        |     c AS (SELECT DISTINCT cast(c_nationkey AS bigint) AS nationkey FROM customer)
        |SELECT 'both' AS src, nationkey FROM (SELECT nationkey FROM s INTERSECT SELECT nationkey FROM c)
        |UNION ALL
        |SELECT 'supplier_only', nationkey FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)
        |UNION ALL
        |SELECT 'customer_only', nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)""".stripMargin),
    QueryDef("q_order_point_lookup", (s, d) => Relational.orderPointLookup(Tables.orders(s, d)),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""".stripMargin),
    // --- SQL entry surface (correlated subquery, CASE agg, LIKE) ---
    QueryDef("q_above_nation_avg", (s, d) =>
      Relational.sql(s, d, Relational.aboveNationAvgSql, Seq("customer")),
      Relational.aboveNationAvgSql),
    QueryDef("q_case_agg", (s, d) =>
      Relational.sql(s, d, Relational.caseAggSql, Seq("orders")),
      Relational.caseAggSql),
    QueryDef("q_like_filter", (s, d) =>
      Relational.sql(s, d, Relational.likeFilterSql, Seq("part")),
      Relational.likeFilterSql),
    QueryDef("q_profile", (s, d) =>
      graft.functions.Profiler.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag")),
      {
      val cols = Seq("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_value,
           |       CAST(max($c) AS VARCHAR) AS max_value
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")
    }),
    // SCD Type-2 dimension versioning: per-user daily-last value ->
    // validity episodes with change suppression
    QueryDef("q_scd2_users", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max_by(col("value"), col("ts")).as("value"))
      Relational.scd2(daily, "user_id", "day", "value")
    },
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |                  arg_max(value, ts) AS value
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, day, value,
        |             lag(value) OVER (PARTITION BY user_id ORDER BY day) AS pv,
        |             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |      FROM d),
        |f AS (SELECT user_id, day, value FROM s
        |      WHERE rn = 1 OR pv IS DISTINCT FROM value)
        |SELECT user_id, value, day AS valid_from,
        |       lead(day) OVER (PARTITION BY user_id ORDER BY day) AS valid_to,
        |       lead(day) OVER (PARTITION BY user_id ORDER BY day) IS NULL
        |         AS is_current
        |FROM f""".stripMargin),
    // exact-moment correlation over real fact columns (decimal
    // Σx, Σy, Σxy, Σx², Σy² -> fixed-operand-order double Pearson).
    // The squared sums exceed 2^53, where direct decimal->double
    // conversion rounds DIFFERENTLY across engines (observed 1-ulp
    // divergence at sf0.001); routing decimal -> string -> double
    // forces the correctly-rounded IEEE string parse in BOTH engines,
    // making the doubles bit-identical at any magnitude.
    QueryDef("q_corr_lineitem", (s, d) => {
      import org.apache.spark.sql.functions._
      val x = col("l_quantity").cast("decimal(14,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      def d2(c: org.apache.spark.sql.Column) = c.cast("string").cast("double")
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(x).as("_sx"), sum(y).as("_sy"),
             sum((x * y).cast("decimal(34,4)")).as("_sxy"),
             sum((x * x).cast("decimal(30,4)")).as("_sxx"),
             sum((y * y).cast("decimal(38,4)")).as("_syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n").cast("double") * d2(col("_sxy"))
             - d2(col("_sx")) * d2(col("_sy")))
           / (sqrt(col("n").cast("double") * d2(col("_sxx"))
                - d2(col("_sx")) * d2(col("_sx")))
              * sqrt(col("n").cast("double") * d2(col("_syy"))
                - d2(col("_sy")) * d2(col("_sy"))))).as("corr_qty_price"))
    },
      """WITH t AS (SELECT l_returnflag, count(*) AS n,
        |                  sum(cast(l_quantity AS DECIMAL(14,2))) AS sx,
        |                  sum(cast(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |                  sum(cast(cast(l_quantity AS DECIMAL(14,2)) * cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(34,4))) AS sxy,
        |                  sum(cast(cast(l_quantity AS DECIMAL(14,2)) * cast(l_quantity AS DECIMAL(14,2)) AS DECIMAL(30,4))) AS sxx,
        |                  sum(cast(cast(l_extendedprice AS DECIMAL(18,2)) * cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       (cast(n AS double) * cast(cast(sxy AS VARCHAR) AS double) - cast(cast(sx AS VARCHAR) AS double) * cast(cast(sy AS VARCHAR) AS double))
        |         / (sqrt(cast(n AS double) * cast(cast(sxx AS VARCHAR) AS double) - cast(cast(sx AS VARCHAR) AS double) * cast(cast(sx AS VARCHAR) AS double))
        |            * sqrt(cast(n AS double) * cast(cast(syy AS VARCHAR) AS double) - cast(cast(sy AS VARCHAR) AS double) * cast(cast(sy AS VARCHAR) AS double))) AS corr_qty_price
        |FROM t""".stripMargin),
    // explicit bloom-filter semi-join pruning (the runtime-filter
    // operator form): lineitems of urgent orders, bloom-pruned scan
    // then exact semi join — result identical to the plain semi join
    QueryDef("q_bloom_semi", (s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      graft.plans.BloomPrune
        .bloomSemiJoin(Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    },
      // the bloom is an exactness-preserving prefilter, so the oracle is
      // the PLAIN semi join — any bloom false negative would hash-diverge
      """SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin),
    // TPC-H Q3/Q5/Q10 shapes: multi-dim broadcast joins, one fact-fact
    // shuffle each, decimal-exact revenue, TakeOrdered top-k
    QueryDef("q_tpch_q1", (s, d) =>
      Relational.pricingSummary(Tables.lineitem(s, d), "1998-09-02"),
      """SELECT l_returnflag, l_linestatus,
        |       cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) AS sum_qty,
        |       cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS double) AS sum_base_price,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS sum_disc_price,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,6))) AS double) AS sum_charge,
        |       cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) / cast(count(*) AS double) AS avg_qty,
        |       cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS double) / cast(count(*) AS double) AS avg_price,
        |       cast(sum(cast(l_discount AS DECIMAL(18,2))) AS double) / cast(count(*) AS double) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("q_tpch_q3", (s, d) =>
      Relational.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), "BUILDING", "1997-06-15", 10),
      """SELECT l_orderkey,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-06-15'
        |  AND l_shipdate > TIMESTAMP '1997-06-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),
    QueryDef("q_tpch_q5", (s, d) =>
      Relational.localSupplierVolume(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), "ASIA", "1996-01-01", "1997-01-01"),
      """SELECT n_name,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin),
    QueryDef("q_tpch_q10", (s, d) =>
      Relational.returnedItemReport(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d),
        "1996-04-01", "1996-07-01", 20),
      """SELECT c_custkey, c_name,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-04-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin),
    QueryDef("q_tpch_q6", (s, d) =>
      Relational.forecastRevenue(Tables.lineitem(s, d), "1996-01-01", "1997-01-01"),
      """SELECT cast(sum(cast(l_extendedprice * l_discount AS DECIMAL(18,4))) AS double) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin),
    QueryDef("q_tpch_q18", (s, d) =>
      Relational.largeVolumeCustomers(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), 150.0, 10),
      """WITH big AS (SELECT l_orderkey,
        |                    cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) AS total_qty
        |             FROM lineitem GROUP BY l_orderkey
        |             HAVING sum(cast(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    // accumulating snapshot: order date -> last shipment latency,
    // exact interpolation percentiles per priority
    QueryDef("q_fulfillment_latency", (s, d) =>
      Relational.fulfillmentLatency(Tables.orders(s, d), Tables.lineitem(s, d)),
      // quantile_cont == ExactPercentiles' linear interpolation over
      // exact integer day counts
      """WITH l AS (SELECT l_orderkey, max(l_shipdate) AS lastship
        |           FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderpriority,
        |             CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |                            CAST(lastship AS DATE)) AS DOUBLE) AS lat_days
        |      FROM orders JOIN l ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority,
        |       quantile_cont(lat_days, 0.5) AS p50_days,
        |       quantile_cont(lat_days, 0.9) AS p90_days,
        |       max(lat_days) AS max_days,
        |       count(*) AS n_orders
        |FROM j GROUP BY 1""".stripMargin),
    // TPC-H Q20 shape (partsupp-free): excess-share suppliers via the
    // decorrelated per-part window + exact multiply threshold
    QueryDef("q_tpch_q20_lite", (s, d) =>
      Relational.excessShareSuppliers(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d),
        "red", "1995-01-01", "1996-01-01", "NATION_9"),
      // Q20 shape: the correlated per-part total decorrelates into one
      // part-keyed aggregate; 2·cents > cents_total is exact integers
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |                   CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) * 100 AS BIGINT) AS c
        |            FROM lineitem JOIN part ON p_partkey = l_partkey
        |            WHERE p_name LIKE 'red%'
        |              AND l_shipdate >= TIMESTAMP '1995-01-01'
        |              AND l_shipdate < TIMESTAMP '1996-01-01'
        |            GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, CAST(sum(c) AS BIGINT) AS ctot FROM ps GROUP BY 1),
        |fl AS (SELECT DISTINCT ps.l_suppkey FROM ps JOIN pt USING (l_partkey)
        |       WHERE 2 * ps.c > pt.ctot)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |JOIN fl ON fl.l_suppkey = s_suppkey
        |WHERE n_name = 'NATION_9'""".stripMargin),
    QueryDef("q_tpch_q14", (s, d) =>
      Relational.promoRevenueShare(Tables.lineitem(s, d), Tables.part(s, d),
        "PROMO", "1996-03-01", "1996-04-01"),
      """SELECT 100.0 * cast(sum(CASE WHEN p_type = 'PROMO'
        |                             THEN cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |                             ELSE cast(0 AS DECIMAL(18,4)) END) AS double)
        |         / cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS promo_revenue_pct,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin),
    // TPC-H Q13: LEFT OUTER customer⟕orders + count-including-zeros
    // histogram — the outer-join count-distribution shape (the 0-orders
    // bucket is the subtlety the outer join exists for)
    QueryDef("q_tpch_q13", (s, d) =>
      Relational.customerOrderDistribution(Tables.customer(s, d),
        Tables.orders(s, d), "1-URGENT"),
      """WITH c_orders AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count""".stripMargin),
    // TPC-H Q4: EXISTS with a date window — semi join with a residual
    // lateness inequality (l_shipdate > o_orderdate + 60 days)
    QueryDef("q_tpch_q4", (s, d) =>
      Relational.latePriorityOrders(Tables.orders(s, d), Tables.lineitem(s, d),
        "1996-01-01", "1996-07-01", 60),
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin),
    // TPC-H Q2-lite: correlated min over a join, decorrelated by
    // Catalyst into an aggregate + equality join
    QueryDef("q_min_price_supplier", (s, d) =>
      Relational.sql(s, d, Relational.minPriceSupplierSql,
        Seq("part", "lineitem", "supplier")),
      Relational.minPriceSupplierSql),
    // FULL TPC-H Q2: 8-way join + correlated regional min over the
    // derived partsupp surrogate, deterministic top-100
    QueryDef("q_tpch_q2", (s, d) =>
      Relational.sql(s, d, Relational.tpchQ2Sql,
        Seq("part", "lineitem", "supplier", "nation", "region")),
      // identical SQL text on both engines — the CTE-derived partsupp
      // surrogate, the correlated min/sum, and the NULL-comparison
      // semantics are all ANSI
      Relational.tpchQ2Sql),
    // FULL TPC-H Q20: nested IN-chain with a doubly-correlated scalar
    // sum (official NULL semantics drop no-shipment pairs)
    QueryDef("q_tpch_q20", (s, d) =>
      Relational.sql(s, d, Relational.tpchQ20Sql,
        Seq("part", "lineitem", "supplier", "nation", "region")),
      Relational.tpchQ20Sql),
    // TPC-H Q12: conditional (CASE) counters after a fact-fact join
    QueryDef("q_tpch_q12", (s, d) =>
      Relational.priorityLineCounts(Tables.orders(s, d), Tables.lineitem(s, d),
        "1996-01-01", "1997-01-01"),
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin),
    // TPC-H Q22-lite: scalar avg subquery (multiply-form) + NOT EXISTS
    // with a date window, per-nation rollup
    QueryDef("q_tpch_q22", (s, d) =>
      Relational.sql(s, d, Relational.inactiveHighBalanceSql,
        Seq("customer", "nation", "orders")),
      Relational.inactiveHighBalanceSql),
    // TPC-H Q16 shape (partsupp-free, s_name for s_comment): grouped
    // count(distinct suppkey) behind a NOT-IN/anti join over a LIKE
    // exclusion — the one distinct-agg + anti-on-subquery shape
    QueryDef("q_tpch_q16", (s, d) =>
      Relational.supplierCountByPart(Tables.lineitem(s, d),
        Tables.part(s, d), Tables.supplier(s, d),
        "Brand#45", "MEDIUM", Seq(49, 14, 23, 45, 19, 3, 36, 9), "%7%"),
      // Q16 shape: the NOT IN is exact (s_suppkey non-null), lineitem
      // pairs stand in for partsupp, s_name for s_comment
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#45'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
        |GROUP BY 1, 2, 3""".stripMargin),
    // TPC-H Q7: cross-nation trade flows per direction and year
    QueryDef("q_tpch_q7", (s, d) =>
      Relational.crossNationTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        "NATION_1", "NATION_2", "1996-01-01", "1998-01-01"),
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin),
    // TPC-H Q11-lite: HAVING against global-sum scalar subqueries,
    // scale-free 1.5x-average threshold in exact multiply form
    QueryDef("q_tpch_q11", (s, d) =>
      Relational.sql(s, d, Relational.importantPartsSql, Seq("lineitem")),
      Relational.importantPartsSql),
    // TPC-H Q8: national market share within a region per order year
    QueryDef("q_tpch_q8", (s, d) =>
      Relational.marketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), "ASIA", "NATION_1", "1996-01-01", "1998-01-01"),
      """WITH base AS (
        |  SELECT year(o.o_orderdate) AS o_year,
        |         CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)) AS rev,
        |         ns.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |  JOIN region r ON nc.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |  WHERE r.r_name = 'ASIA'
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |         / CAST(sum(rev) AS DOUBLE) AS mkt_share,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_revenue,
        |       CAST(sum(rev) AS DOUBLE) AS total_revenue
        |FROM base GROUP BY o_year""".stripMargin),
    // TPC-H Q9-lite: product-line profit by supplier nation and year
    QueryDef("q_tpch_q9", (s, d) =>
      Relational.productProfit(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), "%widget%"),
      """SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_name LIKE '%widget%'
        |GROUP BY 1, 2""".stripMargin),
    // TPC-H Q19: disjunctive brand/size/quantity revenue
    QueryDef("q_tpch_q19", (s, d) =>
      Relational.brandedRevenue(Tables.lineitem(s, d), Tables.part(s, d)),
      """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND (
        |   (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity >= 1 AND l_quantity <= 30)
        |OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
        |    AND l_quantity >= 10 AND l_quantity <= 40)
        |OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35
        |    AND l_quantity >= 20 AND l_quantity <= 50))""".stripMargin),
    // TPC-H Q15: max-of-aggregate with exact-decimal tie detection
    QueryDef("q_tpch_q15", (s, d) =>
      Relational.sql(s, d, Relational.topSupplierSql,
        Seq("lineitem", "supplier")),
      Relational.topSupplierSql),
    // TPC-H Q17: correlated per-part avg threshold in multiply form
    QueryDef("q_tpch_q17", (s, d) =>
      Relational.sql(s, d, Relational.smallLotRevenueSql,
        Seq("lineitem", "part")),
      Relational.smallLotRevenueSql),
    // TPC-H Q21: double-correlated EXISTS / NOT EXISTS (sole late
    // shipper on a multi-supplier order), decorrelated into per-order
    // aggregates that reuse the single fact-fact orderkey shuffle
    QueryDef("q_tpch_q21", (s, d) =>
      Relational.soleLateSuppliers(Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d), 60, 100),
      // literal double-correlated textbook form — certifies the
      // decorrelated per-order-aggregate plan against the EXISTS semantics
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),
    // rank-family windows at scale: distributed global rank + the
    // explicit integer ntile formula (no single-partition window, no
    // engine-specific tile boundary convention)
    QueryDef("q_customer_quartiles", (s, d) =>
      Relational.customerSpendQuartiles(Tables.customer(s, d),
        Tables.orders(s, d), 4),
      // same explicit integer tile formula — the oracle's row_number
      // window stands in for the engine's distributed rank
      """WITH spend AS (
        |  SELECT c_custkey,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT c_custkey, total,
        |         row_number() OVER (ORDER BY total, c_custkey) AS r,
        |         count(*) OVER () AS n
        |  FROM spend)
        |SELECT CAST(((r-1)*4) // n + 1 AS BIGINT) AS quartile,
        |       count(*) AS n_customers,
        |       CAST(sum(total) AS DOUBLE) AS total_spend,
        |       CAST(min(total) AS DOUBLE) AS lo,
        |       CAST(max(total) AS DOUBLE) AS hi
        |FROM ranked GROUP BY 1""".stripMargin),
    // graph centrality over the star schema: fixed-point PageRank on
    // nation->nation trade, iterations integer-exact and replayed by
    // the oracle (same certified-iterative discipline as q_kmeans)
    QueryDef("q_trade_rank", (s, d) =>
      Relational.nationTradeRank(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d), 2),
      // the same two integer damping steps unrolled — non-negative
      // operands make // and div agree; ppm shares keep magnitudes
      // scale-free
      """WITH edges AS (
        |  SELECT ns.n_name AS src, nc.n_name AS dst,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS w
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  WHERE ns.n_nationkey <> nc.n_nationkey
        |  GROUP BY 1, 2),
        |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot FROM edges GROUP BY 1),
        |shares AS (SELECT e.src, e.dst,
        |                  CAST((e.w * 1000000) // o.wtot AS BIGINT) AS ppm
        |           FROM edges e JOIN outw o ON e.src = o.src),
        |nodes AS (SELECT DISTINCT src AS name FROM edges
        |          UNION SELECT DISTINCT dst FROM edges),
        |r0 AS (SELECT name, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |r1 AS (SELECT n.name,
        |              150000 + ((COALESCE(c.s, 0) // 1000000) * 85) // 100 AS r
        |       FROM nodes n LEFT JOIN (
        |         SELECT s.dst AS name, CAST(sum(r0.r * s.ppm) AS BIGINT) AS s
        |         FROM shares s JOIN r0 ON s.src = r0.name GROUP BY 1) c USING (name)),
        |r2 AS (SELECT n.name,
        |              150000 + ((COALESCE(c.s, 0) // 1000000) * 85) // 100 AS r
        |       FROM nodes n LEFT JOIN (
        |         SELECT s.dst AS name, CAST(sum(r1.r * s.ppm) AS BIGINT) AS s
        |         FROM shares s JOIN r1 ON s.src = r1.name GROUP BY 1) c USING (name))
        |SELECT name, r AS rank_fp FROM r2""".stripMargin),
    // regression family (regr_slope/intercept/r2) off the same exact
    // decimal moments as q_corr_lineitem: one grouped agg, the doubles
    // appear only in the final fixed-shape expression (identical IEEE
    // op tree in the oracle)
    QueryDef("q_regression", (s, d) => {
      import org.apache.spark.sql.functions._
      val x = col("l_quantity").cast("decimal(14,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      def d2(c: org.apache.spark.sql.Column) = c.cast("string").cast("double")
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(x).as("_sx"), sum(y).as("_sy"),
             sum((x * y).cast("decimal(34,4)")).as("_sxy"),
             sum((x * x).cast("decimal(30,4)")).as("_sxx"),
             sum((y * y).cast("decimal(38,4)")).as("_syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n").cast("double") * d2(col("_sxy")) - d2(col("_sx")) * d2(col("_sy")))
            / (col("n").cast("double") * d2(col("_sxx")) - d2(col("_sx")) * d2(col("_sx"))))
            .as("slope"),
          ((d2(col("_sy")) -
            ((col("n").cast("double") * d2(col("_sxy")) - d2(col("_sx")) * d2(col("_sy")))
              / (col("n").cast("double") * d2(col("_sxx")) - d2(col("_sx")) * d2(col("_sx"))))
            * d2(col("_sx"))) / col("n").cast("double")).as("intercept"),
          (((col("n").cast("double") * d2(col("_sxy")) - d2(col("_sx")) * d2(col("_sy")))
            * (col("n").cast("double") * d2(col("_sxy")) - d2(col("_sx")) * d2(col("_sy"))))
            / ((col("n").cast("double") * d2(col("_sxx")) - d2(col("_sx")) * d2(col("_sx")))
              * (col("n").cast("double") * d2(col("_syy")) - d2(col("_sy")) * d2(col("_sy")))))
            .as("r2"))
    },
      // same exact-moment CTE as corr; slope/intercept/r2 are the SAME
      // fixed IEEE expression trees as the Spark side
      """WITH t AS (SELECT l_returnflag, count(*) AS n,
        |                  sum(cast(l_quantity AS DECIMAL(14,2))) AS sx,
        |                  sum(cast(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |                  sum(cast(cast(l_quantity AS DECIMAL(14,2)) * cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(34,4))) AS sxy,
        |                  sum(cast(cast(l_quantity AS DECIMAL(14,2)) * cast(l_quantity AS DECIMAL(14,2)) AS DECIMAL(30,4))) AS sxx,
        |                  sum(cast(cast(l_extendedprice AS DECIMAL(18,2)) * cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy
        |           FROM lineitem GROUP BY l_returnflag),
        |d AS (SELECT l_returnflag, n,
        |             cast(n AS double) AS nd,
        |             cast(cast(sx AS VARCHAR) AS double) AS dsx,
        |             cast(cast(sy AS VARCHAR) AS double) AS dsy,
        |             cast(cast(sxy AS VARCHAR) AS double) AS dsxy,
        |             cast(cast(sxx AS VARCHAR) AS double) AS dsxx,
        |             cast(cast(syy AS VARCHAR) AS double) AS dsyy
        |      FROM t)
        |SELECT l_returnflag, n,
        |       (nd * dsxy - dsx * dsy) / (nd * dsxx - dsx * dsx) AS slope,
        |       (dsy - ((nd * dsxy - dsx * dsy) / (nd * dsxx - dsx * dsx)) * dsx) / nd AS intercept,
        |       ((nd * dsxy - dsx * dsy) * (nd * dsxy - dsx * dsy))
        |         / ((nd * dsxx - dsx * dsx) * (nd * dsyy - dsy * dsy)) AS r2
        |FROM d""".stripMargin),
    // 2-D skyline (Pareto frontier) over parts — min price, max size;
    // the linear sorted/prefix-max rewrite is certified by the literal
    // quadratic NOT-EXISTS dominance oracle (q_tpch_q21 discipline)
    QueryDef("q_skyline_parts", (s, d) => {
      import org.apache.spark.sql.functions._
      Relational.skyline2d(Tables.part(s, d), "p_partkey",
        floor(col("p_retailprice") * 100), col("p_size"),
        "price_cents", "p_size")
    },
      // the literal quadratic dominance predicate certifies the
      // sorted-prefix-max rewrite
      """WITH pts AS (SELECT p_partkey,
        |                    CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
        |                    CAST(p_size AS BIGINT) AS p_size
        |             FROM part)
        |SELECT p.p_partkey, p.price_cents, p.p_size
        |FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
        |    AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))""".stripMargin),
  )
}
