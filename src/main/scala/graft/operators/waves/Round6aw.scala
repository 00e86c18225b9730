package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 forty-ninth wave: weighted quantiles (q70).
  *
  * Posture note: q43's histogram-CDF recipe with WEIGHTED mass —
  * facts fold to the (group, value) histogram once, the CDF windows
  * run over that bounded frame, and the quantile is the first value
  * whose cumulative weight crosses the line. No row-level sort, no
  * per-quantile pass.
  */
object Round6aw extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q70: weighted quantiles -----------------------------------------
    // Unweighted percentiles answer "the median line item"; weighted
    // ones answer "the median SHIPPED UNIT" — per priority, the
    // quantity-weighted p50/p90 of unit price (cents), read against
    // the unweighted p50 to see how volume skews pricing. The
    // mass-weighted quantile is the primitive inventory/pricing
    // analytics actually needs.
    "q70_weighted_quantiles" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT) div " +
            "greatest(CAST(floor(l_quantity) AS BIGINT), 1)").as("unit_cents"),
          floor(col("l_quantity")).cast("long").as("qty"))
      val hist = li.groupBy(col("priority"), col("unit_cents"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("qty")).cast("long").as("w"))
      val wCum = Window.partitionBy(col("priority")).orderBy(col("unit_cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("priority"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      hist
        .withColumn("cum_w", sum(col("w")).over(wCum).cast("long"))
        .withColumn("tw", sum(col("w")).over(wAll).cast("long"))
        .withColumn("cum_n", sum(col("n_lines")).over(wCum).cast("long"))
        .withColumn("tn", sum(col("n_lines")).over(wAll).cast("long"))
        .groupBy(col("priority"))
        .agg(max(col("tn")).as("n_lines"), max(col("tw")).as("total_units"),
          min(when(col("cum_w") * 100 >= col("tw") * 50, col("unit_cents")))
            .as("w_p50_cents"),
          min(when(col("cum_w") * 100 >= col("tw") * 90, col("unit_cents")))
            .as("w_p90_cents"),
          min(when(col("cum_n") * 100 >= col("tn") * 50, col("unit_cents")))
            .as("u_p50_cents"))
        .select(col("priority"), col("n_lines"), col("total_units"),
          col("w_p50_cents"), col("w_p90_cents"), col("u_p50_cents"))
        .orderBy(col("priority"))
    })

  def oracles: Map[String, String] = Map(
    "q70_weighted_quantiles" ->
      s"""WITH li AS (
         |  SELECT o_orderpriority AS priority,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT)
         |      // greatest(CAST(floor(l_quantity) AS BIGINT), 1) AS unit_cents,
         |    CAST(floor(l_quantity) AS BIGINT) AS qty
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |hist AS (
         |  SELECT priority, unit_cents,
         |    CAST(COUNT(*) AS BIGINT) AS n_lines,
         |    CAST(SUM(qty) AS BIGINT) AS w
         |  FROM li GROUP BY 1, 2),
         |cdf AS (
         |  SELECT priority, unit_cents, n_lines, w,
         |    SUM(w) OVER (PARTITION BY priority ORDER BY unit_cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         |    SUM(w) OVER (PARTITION BY priority) AS tw,
         |    SUM(n_lines) OVER (PARTITION BY priority ORDER BY unit_cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         |    SUM(n_lines) OVER (PARTITION BY priority) AS tn
         |  FROM hist)
         |SELECT priority,
         |  CAST(MAX(tn) AS BIGINT) AS n_lines,
         |  CAST(MAX(tw) AS BIGINT) AS total_units,
         |  MIN(CASE WHEN cum_w * 100 >= tw * 50 THEN unit_cents END)
         |    AS w_p50_cents,
         |  MIN(CASE WHEN cum_w * 100 >= tw * 90 THEN unit_cents END)
         |    AS w_p90_cents,
         |  MIN(CASE WHEN cum_n * 100 >= tn * 50 THEN unit_cents END)
         |    AS u_p50_cents
         |FROM cdf GROUP BY priority ORDER BY priority""".stripMargin)
}
