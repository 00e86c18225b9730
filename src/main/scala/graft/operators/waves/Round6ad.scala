package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 thirtieth wave: value-distribution drift (ev58) and
  * integer-cents order reconciliation (q58).
  *
  * Posture notes: ev58 tiles values with Rank.ntileExact (no global
  * sort window at scale) and folds to a 10-row decile × half census;
  * the only broadcast is the 1-row time-bounds aggregate. q58 is one
  * fact shuffle on the order key (map-side partial sums) joined to
  * orders, folded to a |status|-row report — all money in integer
  * cents/basis points so both engines agree bit-for-bit.
  */
object Round6ad extends Operators {

  private val Fx = 1000000L

  /** q58: reconciliation tolerance (cents) for the truncating
    * integer recomputation.
    */
  private val TolCents = 100L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev58: value-drift TVD census ------------------------------------
    // Production drift monitoring for a numeric stream: exact global
    // value deciles (cut from the full window), then each decile's
    // share in the first vs second half of the time range. The
    // per-decile |p − q| column sums to 2·TVD — the alarm number —
    // while the per-decile signs say WHERE the distribution moved
    // (mass leaving low deciles = values trending up).
    "ev58_value_drift_tvd" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"), expr("unix_micros(ts)").as("us"))
      // integer midpoint with `div` — `/` is double division in both
      // engines and DuckDB's BIGINT cast ROUNDS where Spark truncates
      val bounds = ev.agg(min(col("us")).as("min_us"), max(col("us")).as("max_us"))
        .select(expr("(min_us + max_us) div 2").as("mid_us"))
      val tiled = Rank.ntileExact(
        ev.crossJoin(broadcast(bounds))
          .withColumn("half", when(col("us") <= col("mid_us"), 1L).otherwise(2L)),
        10, "decile", col("value"), Seq(col("event_id")))
      val census = tiled.groupBy(col("decile"))
        .agg(sum(when(col("half") === 1L, 1L).otherwise(0L)).cast("long").as("n_h1"),
          sum(when(col("half") === 2L, 1L).otherwise(0L)).cast("long").as("n_h2"))
      val totals = census.agg(sum(col("n_h1")).cast("long").as("t1"),
        sum(col("n_h2")).cast("long").as("t2"))
      census.crossJoin(broadcast(totals))
        .withColumn("p_fx", expr(s"(n_h1 * $Fx) div t1"))
        .withColumn("q_fx", expr(s"(n_h2 * $Fx) div t2"))
        .withColumn("abs_diff_fx", abs(col("p_fx") - col("q_fx")))
        .select(col("decile").cast("int").as("decile"), col("n_h1"), col("n_h2"),
          col("p_fx"), col("q_fx"), col("abs_diff_fx"))
        .orderBy(col("decile"))
    },

    // --- q58: order-ledger reconciliation --------------------------------
    // The financial-close audit: recompute each order's total from
    // its lineitems (extendedprice net of discount plus tax, all in
    // integer cents and basis points — truncating, deterministic on
    // both engines) and reconcile against the order header. Per
    // status: orders, headerless matches within the tolerance,
    // mismatches, and the total absolute drift — the report that
    // finds a broken pricing pipeline before the auditor does.
    "q58_order_reconciliation" -> { (s, d) =>
      val recomputed = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          expr("""(CAST(floor(l_extendedprice * 100) AS BIGINT)
                 | * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))
                 | div 10000
                 | * (10000 + CAST(floor(l_tax * 10000) AS BIGINT))
                 | div 10000)""".stripMargin).as("net_cents"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("net_cents")).cast("long").as("recomputed_cents"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("header_cents"))
        .join(recomputed, col("o_orderkey") === col("l_orderkey"), "left")
        .withColumn("recomputed_cents", coalesce(col("recomputed_cents"), lit(0L)))
        .withColumn("drift_cents", abs(col("recomputed_cents") - col("header_cents")))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(when(col("drift_cents") <= TolCents, 1L).otherwise(0L)).cast("long")
            .as("n_matched"),
          sum(when(col("drift_cents") > TolCents, 1L).otherwise(0L)).cast("long")
            .as("n_mismatched"),
          sum(col("drift_cents")).cast("long").as("total_drift_cents"))
        .withColumn("match_fx", expr(s"(n_matched * $Fx) div n_orders"))
        .select(col("o_orderstatus"), col("n_orders"), col("n_matched"),
          col("n_mismatched"), col("total_drift_cents"), col("match_fx"))
        .orderBy(col("o_orderstatus"))
    })

  def oracles: Map[String, String] = Map(
    // the decile twin uses DuckDB's exact NTILE — Rank.ntileExact is
    // gated to produce exactly ANSI NTILE output (q33/q40/q54's
    // established equivalence), with (value, event_id) tie order
    "ev58_value_drift_tvd" ->
      s"""WITH b AS (
         |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
         |    AS mid_us FROM events),
         |tiled AS (
         |  SELECT NTILE(10) OVER (ORDER BY value, event_id) AS decile,
         |    CASE WHEN epoch_us(ts) <= b.mid_us THEN 1 ELSE 2 END AS half
         |  FROM events CROSS JOIN b),
         |census AS (
         |  SELECT decile,
         |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_h1,
         |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_h2
         |  FROM tiled GROUP BY 1),
         |t AS (
         |  SELECT CAST(SUM(n_h1) AS BIGINT) AS t1,
         |    CAST(SUM(n_h2) AS BIGINT) AS t2 FROM census)
         |SELECT CAST(decile AS INT) AS decile, n_h1, n_h2,
         |  (n_h1 * $Fx) // t1 AS p_fx,
         |  (n_h2 * $Fx) // t2 AS q_fx,
         |  abs((n_h1 * $Fx) // t1 - (n_h2 * $Fx) // t2) AS abs_diff_fx
         |FROM census CROSS JOIN t ORDER BY decile""".stripMargin,

    "q58_order_reconciliation" ->
      s"""WITH r AS (
         |  SELECT l_orderkey,
         |    CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)
         |      * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)) // 10000
         |      * (10000 + CAST(floor(l_tax * 10000) AS BIGINT)) // 10000)
         |      AS BIGINT) AS recomputed_cents
         |  FROM lineitem GROUP BY 1),
         |j AS (
         |  SELECT o_orderstatus,
         |    abs(COALESCE(r.recomputed_cents, 0)
         |      - CAST(floor(o_totalprice * 100) AS BIGINT)) AS drift_cents
         |  FROM orders LEFT JOIN r ON o_orderkey = l_orderkey)
         |SELECT o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(CASE WHEN drift_cents <= $TolCents THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_matched,
         |  CAST(SUM(CASE WHEN drift_cents > $TolCents THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mismatched,
         |  CAST(SUM(drift_cents) AS BIGINT) AS total_drift_cents,
         |  (CAST(SUM(CASE WHEN drift_cents <= $TolCents THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // CAST(COUNT(*) AS BIGINT) AS match_fx
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)
}
