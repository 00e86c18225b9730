package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.Hashing

/** Core analytics operators over the TPC-H-ish tables.
  *
  * These are the general query shapes the engine must support at
  * 100 TB: grouped aggregation, multi-way joins (broadcast for dims),
  * semi/anti joins, windows, rollups, top-k. Each query has a DuckDB
  * oracle twin in [[oracles]] — aliases, ordering, and numeric
  * handling are mirrored exactly (see SURVEY.md §6):
  * per-row double arithmetic is bit-deterministic in both engines, so
  * sums go through a per-row DECIMAL cast (exact, order-independent)
  * and are only then cast back to double.
  *
  * Scale notes: dims (region/nation/customer/supplier/part) are
  * broadcast explicitly; fact-side aggregations are single-shuffle
  * with map-side partials; windows partition on high-cardinality keys.
  */
object CoreAnalytics extends Operators {

  private def decSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(18,6)")).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    "q02_filter_project" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * col("l_discount")).as("disc_revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    "q03_revenue_by_nation" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("r_name"), col("n_name"))
    },

    "q04_order_priority" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    "q05_top_customers" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.groupBy(col("o_custkey")).agg(decSum(col("o_totalprice")).as("revenue"))
        .join(broadcast(c), col("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    },

    "q06_window_rank" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },

    "q07_rollup" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), decSum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },

    "q08_distinct_agg" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    "q09_antijoin" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    "q10_running_window" -> { (s, d) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_suppkey") <= 3)
        .withColumn("running_qty", sum(col("l_quantity").cast("decimal(18,6)")).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },

    "q11_conditional_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          decSum(when(col("l_returnflag") === "R", col("l_quantity")).otherwise(lit(0.0))).as("qty_returned"),
          decSum(when(col("l_returnflag") === "A", col("l_quantity")).otherwise(lit(0.0))).as("qty_a"),
          decSum(when(col("l_returnflag") === "N", col("l_quantity")).otherwise(lit(0.0))).as("qty_n"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("l_linestatus"))
    },

    // HLL-sketch distinct counts — the 100 TB path for q08-style
    // exact distincts, as a register-exact RELATIONAL HyperLogLog
    // (Sketch.hllDistinct) on the cross-engine hash: unlike the
    // native approx_count_distinct sketch (engine-private bytes,
    // rows-only checkable), every register and the estimate itself
    // replay bit-for-bit in the DuckDB oracle. The exact distinct
    // and the signed fixed-point error ride alongside, so the gate
    // also value-checks the estimator's accuracy at every SF (raw
    // regime: lineitem orderkeys per returnflag ≥ 2m from sf0.001
    // up). The native-HLL envelope stays spec-asserted
    // (QueriesSmokeSpec) — this query gates the sketch MATH.
    "q13_approx_distinct" -> { (s, d) =>
      // one distinct-key shuffle feeds BOTH the sketch and the exact
      // truth column (registers are max-idempotent, so hashing after
      // the distinct is exact); barriered — the two consumers are
      // column-pruned twins AQE cannot dedupe, so without the
      // materialization the fact scan + distinct would run twice
      val keys = Dedup.barrier(Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey")).distinct())
      val est = Sketch.hllDistinct(
        keys.select(col("l_returnflag"),
          Hashing.hash64(col("l_orderkey").cast("string")).as("hv")),
        Seq(col("l_returnflag")), col("hv"))
        .withColumnRenamed("est", "hll_orders")
      val exact = keys.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("exact_orders"))
      est.join(exact, Seq("l_returnflag"))
        // decimal staging: corpus-proportional counts × 10^6 (q40's
        // overflow class) — exact 128-bit multiply, div keeps BIGINT
        .withColumn("err_fx", expr(
          "(CAST(hll_orders - exact_orders AS DECIMAL(20,0)) * 1000000)" +
            " div exact_orders"))
        .select(col("l_returnflag"), col("n_buckets"), col("hll_orders"),
          col("exact_orders"), col("err_fx"))
        .orderBy(col("l_returnflag"))
    },

    // window-function suite: lead/lag/ntile/percent_rank in one pass
    "q14_window_suite" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("quartile"),
          graft.functions.Det.trunc4(percent_rank().over(w)).as("pr"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // exact interpolated percentiles per group (same linear
    // interpolation as DuckDB quantile_cont)
    "q15_percentiles" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          graft.functions.Det.trunc4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
          graft.functions.Det.trunc4(expr("percentile(o_totalprice, 0.9)")).as("p90"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // CUBE aggregation over priority × status
    "q16_cube" -> { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    },

    // calendar bucketing: day-of-week × hour activity grid
    "q17_datetime" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("dow"), col("hr"))
    },

    // set algebra: (clickers ∩ purchasers) \ errorers
    "q18_set_ops" -> { (s, d) =>
      val ev = Tables.events(s, d)
      def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
      users("click").intersect(users("purchase"))
        .except(users("error"))
        .orderBy(col("user_id"))
    },

    // pivot: order counts per priority × status matrix
    "q19_pivot" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot(col("o_orderstatus"), Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
        .orderBy(col("o_orderpriority"))
    },

    // unpivot/melt: wide → long over the quantity columns
    "q20_unpivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("qty"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("price"))
        .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
          "measure", "val")
        .orderBy(col("l_returnflag"), col("measure"))
    },

    // full outer join with null-side handling
    "q21_outer_join" -> { (s, d) =>
      val cn = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_customers"))
      val sn = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_suppliers"))
      cn.join(sn, col("nk") === col("nk2"), "full_outer")
        .select(
          coalesce(col("nk"), col("nk2")).as("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .orderBy(col("nationkey"))
    },

    // SQL-text entry with a correlated scalar subquery: orders above
    // their own customer's average price
    "q22_sql_text" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("g_orders")
      s.sql(
        """SELECT o_custkey, COUNT(*) AS n_above
          |FROM g_orders o
          |WHERE o_totalprice >
          |      (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
          |                * 1.5 / COUNT(*)
          |       FROM g_orders o2
          |       WHERE o2.o_custkey = o.o_custkey)
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
    },

    // moment statistics from decimal-exact sums (order-independent
    // variance/stddev: sqrt((Σx² − (Σx)²/n)/(n−1)) over exact Σ)
    "q23_stats_moments" -> { (s, d) =>
      val x = col("o_totalprice")
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(x.cast("decimal(18,6)")).cast("double").as("sum_x"),
          sum((x * x).cast("decimal(28,6)")).cast("double").as("sum_x2"))
        .select(
          col("o_orderpriority"), col("n"),
          graft.functions.Det.trunc4(col("sum_x") / col("n")).as("mean"),
          graft.functions.Det.trunc4(
            sqrt((col("sum_x2") - col("sum_x") * col("sum_x") / col("n")) / (col("n") - 1))).as("stddev"))
        .orderBy(col("o_orderpriority"))
    },

    "q12_multijoin_pushdown" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_size") < 15 && col("p_type") === "ECONOMY")
      val su = Tables.supplier(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
        .groupBy(col("s_name"), col("p_brand"))
        .agg(
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("s_name"), col("p_brand"))
    }
  )

  def oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice * l_discount AS disc_revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q04_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q05_top_customers" ->
      """SELECT c_custkey, c_name, revenue FROM (
        |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY o_custkey) rev
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,

    "q06_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q07_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q08_distinct_agg" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q09_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q10_running_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
        |   OVER (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_qty
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q11_conditional_agg" ->
      """SELECT l_linestatus,
        | CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS qty_returned,
        | CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS qty_a,
        | CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS qty_n,
        | COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q14_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        | LAG(o_totalprice, 1) OVER w AS prev_price,
        | LEAD(o_totalprice, 1) OVER w AS next_price,
        | NTILE(4) OVER w AS quartile,
        | floor(percent_rank() OVER w * 10000) / 10000 AS pr
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q15_percentiles" ->
      """SELECT o_orderpriority,
        | floor(quantile_cont(o_totalprice, 0.5) * 10000) / 10000 AS p50,
        | floor(quantile_cont(o_totalprice, 0.9) * 10000) / 10000 AS p90,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q16_cube" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,

    "q17_datetime" ->
      """SELECT dayofweek(ts) AS dow, extract(hour FROM ts) AS hr,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin,

    "q18_set_ops" ->
      """SELECT user_id FROM (
        | SELECT user_id FROM events WHERE event_type = 'click'
        | INTERSECT
        | SELECT user_id FROM events WHERE event_type = 'purchase')
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin,

    "q19_pivot" ->
      """SELECT o_orderpriority,
        | COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
        | COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
        | COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q20_unpivot" ->
      """SELECT l_returnflag, measure, val FROM (
        |  SELECT l_returnflag, 'qty' AS measure,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS val
        |  FROM lineitem GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT l_returnflag, 'price' AS measure,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS val
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q21_outer_join" ->
      """SELECT COALESCE(nk, nk2) AS nationkey,
        | COALESCE(n_customers, 0) AS n_customers,
        | COALESCE(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk2, COUNT(*) AS n_suppliers
        |                 FROM supplier GROUP BY 1) s
        |  ON nk = nk2
        |ORDER BY nationkey""".stripMargin,

    "q22_sql_text" ->
      """SELECT o_custkey, COUNT(*) AS n_above
        |FROM orders o
        |WHERE o_totalprice >
        |      (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |                * 1.5 / COUNT(*)
        |       FROM orders o2
        |       WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q23_stats_moments" ->
      """SELECT o_orderpriority, n,
        | floor((sum_x / n) * 10000) / 10000 AS mean,
        | floor(sqrt((sum_x2 - sum_x * sum_x / n) / (n - 1)) * 10000) / 10000 AS stddev
        |FROM (
        |  SELECT o_orderpriority, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_x,
        |    CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_x2
        |  FROM orders GROUP BY o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,

    "q12_multijoin_pushdown" ->
      """SELECT s_name, p_brand,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN part     ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size < 15 AND p_type = 'ECONOMY'
        |GROUP BY s_name, p_brand ORDER BY s_name, p_brand""".stripMargin,

    // the relational HLL replayed register-for-register: same hash,
    // same 9/51-bit split, same scaled harmonic sum (HUGEINT = the
    // DECIMAL(38,0) twin), same fixed-point estimate arithmetic
    "q13_approx_distinct" -> {
      val m = Sketch.HllM
      val rm = Sketch.HllRMax
      val num = Sketch.HllNum
      s"""WITH h AS (
         |  SELECT DISTINCT l_returnflag,
         |    ${Hashing.duckHash64("CAST(l_orderkey AS VARCHAR)")} AS hv
         |  FROM lineitem),
         |reg AS (
         |  SELECT l_returnflag, hv % $m AS bucket,
         |    MAX(CASE WHEN hv // $m = 0 THEN $rm
         |        ELSE $rm - length(bin(hv // $m)) END) AS mj
         |  FROM h GROUP BY 1, 2),
         |s AS (
         |  SELECT l_returnflag,
         |    CAST(SUM(CAST(1 AS BIGINT) << ($rm - mj)) AS BIGINT)
         |      + ($m - COUNT(*)) * (CAST(1 AS BIGINT) << $rm) AS ssum,
         |    CAST(COUNT(*) AS BIGINT) AS n_buckets
         |  FROM reg GROUP BY 1),
         |ex AS (
         |  SELECT l_returnflag,
         |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
         |  FROM lineitem GROUP BY 1),
         |est AS (
         |  SELECT l_returnflag, n_buckets,
         |    CAST(CAST('$num' AS HUGEINT) // ssum // 1000000 AS BIGINT)
         |      AS hll_orders, exact_orders
         |  FROM s JOIN ex USING (l_returnflag))
         |SELECT l_returnflag, n_buckets, hll_orders, exact_orders,
         |  CAST((CAST(hll_orders - exact_orders AS HUGEINT) * 1000000)
         |    // exact_orders AS BIGINT) AS err_fx
         |FROM est ORDER BY l_returnflag""".stripMargin
    }
  )
}
