package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-5 twentieth wave: cohort lifetime value (q45).
  *
  * Posture notes: q30 counts cohort retention; q45 prices it —
  * cumulative revenue per signup cohort by month offset, per
  * cohort member. The only fact-table work is one min-aggregate
  * (first order per customer) and one co-partitioned equi-join of
  * orders to their customer's cohort; the LTV curve itself (running
  * sum, per-member division) lives on the bounded cohorts×offsets
  * table. Money stays integer cents end-to-end (floor(price·100) —
  * the deterministic fixed-point treatment every gated money column
  * uses), month indexes are year·12+month integer arithmetic.
  */
object Round5t extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q45: cohort LTV curves ---------------------------------------
    "q45_ltv_cohorts" -> { (s, d) =>
      val om = expr("year(o_orderdate) * 12 + month(o_orderdate)")
      val orders = Tables.orders(s, d)
        .select(col("o_custkey"), om.as("m"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cohorts = orders.groupBy(col("o_custkey"))
        .agg(min(col("m")).as("cohort_m"))
      val sizes = cohorts.groupBy(col("cohort_m"))
        .agg(count(lit(1)).as("cohort_size"))
      val cells = orders.join(cohorts, Seq("o_custkey"))
        .withColumn("offset", (col("m") - col("cohort_m")).cast("int"))
        .groupBy(col("cohort_m"), col("offset"))
        .agg(countDistinct(col("o_custkey")).as("n_active"),
          sum(col("cents")).cast("long").as("rev_cents"))
      val wc = Window.partitionBy(col("cohort_m")).orderBy(col("offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cum_rev_cents", sum(col("rev_cents")).over(wc).cast("long"))
        .join(broadcast(sizes), Seq("cohort_m"))
        .withColumn("ltv_cents", expr("cum_rev_cents div cohort_size"))
        .select(col("cohort_m"), col("offset"), col("n_active"),
          col("rev_cents"), col("cum_rev_cents"), col("cohort_size"),
          col("ltv_cents"))
        .orderBy(col("cohort_m"), col("offset"))
    })

  def oracles: Map[String, String] = Map(
    "q45_ltv_cohorts" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cohorts AS (
        |  SELECT o_custkey, MIN(m) AS cohort_m FROM o GROUP BY o_custkey),
        |sizes AS (
        |  SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |  FROM cohorts GROUP BY cohort_m),
        |cells AS (
        |  SELECT c.cohort_m, CAST(o.m - c.cohort_m AS INTEGER) AS "offset",
        |    CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
        |    CAST(SUM(o.cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN cohorts c ON o.o_custkey = c.o_custkey
        |  GROUP BY c.cohort_m, "offset"),
        |cum AS (
        |  SELECT cohort_m, "offset", n_active, rev_cents,
        |    CAST(SUM(rev_cents) OVER (PARTITION BY cohort_m ORDER BY "offset"
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_rev_cents
        |  FROM cells)
        |SELECT cum.cohort_m, "offset", n_active, rev_cents, cum_rev_cents,
        |  cohort_size, cum_rev_cents // cohort_size AS ltv_cents
        |FROM cum JOIN sizes ON cum.cohort_m = sizes.cohort_m
        |ORDER BY cum.cohort_m, "offset"""".stripMargin)
}
