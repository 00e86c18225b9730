package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 fifty-seventh wave: two-sample KS test (q73) and alert
  * debouncing (ev70).
  *
  * Posture notes: q73's empirical CDFs live on the bounded distinct-
  * value table (full-outer join of the two halves' value histograms,
  * prefix sums over that table); the statistic is one aggregate.
  * ev70 derives alert runs from ev61's bounded hourly frame with
  * lag windows — per candidate debounce, episodes merge when the
  * quiet gap is shorter than the debounce.
  */
object Round6be extends Operators {

  private val Fx = 1000000L

  /** ev70: candidate debounce windows (hours). */
  private val Debounce: Seq[Long] = Seq(1L, 3L, 6L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q73: two-sample Kolmogorov–Smirnov ------------------------------
    // Did the daily-order-count distribution CHANGE between the
    // first and second half of the history? The KS statistic — max
    // |F1(v) − F2(v)| over the value domain — computed exactly on
    // integer counts, with the 95% critical line
    // 1.358·√((n1+n2)/(n1·n2)) and the reject flag. The
    // distribution-shift test q66's autocorrelation and ev58's TVD
    // complement: nonparametric, sensitive anywhere in the CDF.
    "q73_ks_test" -> { (s, d) =>
      val days = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("x"))
      val bounds = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val tagged = days.crossJoin(broadcast(bounds))
        .withColumn("half",
          when(datediff(col("day"), col("lo")) * 2 <=
            datediff(col("hi"), col("lo")), 1L).otherwise(2L))
      val hist = tagged.groupBy(col("x"))
        .agg(sum(when(col("half") === 1L, 1L).otherwise(0L)).cast("long").as("c1"),
          sum(when(col("half") === 2L, 1L).otherwise(0L)).cast("long").as("c2"))
      val w = Window.orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totals = hist.agg(sum(col("c1")).cast("long").as("n1"),
        sum(col("c2")).cast("long").as("n2"))
      val cdf = hist
        .withColumn("f1", sum(col("c1")).over(w).cast("long"))
        .withColumn("f2", sum(col("c2")).over(w).cast("long"))
        .crossJoin(broadcast(totals))
        .withColumn("d_fx",
          abs(expr(s"(f1 * $Fx) div n1") - expr(s"(f2 * $Fx) div n2")))
      cdf.groupBy(col("n1"), col("n2"))
        .agg(max(col("d_fx")).cast("long").as("ks_fx"))
        .withColumn("crit_fx", floor(
          lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
            (col("n1") * col("n2")).cast("double")) * Fx).cast("long"))
        .withColumn("reject_95", col("ks_fx") > col("crit_fx"))
        .select(col("n1"), col("n2"), col("ks_fx"), col("crit_fx"),
          col("reject_95"))
    },

    // --- ev70: alert debounce sweep --------------------------------------
    // ev61 says WHICH hours alert; this prices the pager policy: per
    // candidate debounce window (1/3/6 quiet hours close an
    // episode), raw alert hours collapse into episodes — pages
    // actually sent — with the longest episode length. The
    // flapping-suppression dial, measured. Alert runs from ev61's
    // bounded hourly frame; per-debounce merging via lag windows
    // over that frame.
    "ev70_alert_debounce" -> { (s, d) =>
      val hourly = Round6ak.queries("ev61_slo_burn_rate")(s, d)
        .filter(col("slow_alert"))
        .select(col("hour"))
      val alerts = Dedup.barrier(hourly)
      val results = Debounce.map { db =>
        val w = Window.orderBy(col("hour"))
        val runs = alerts
          .withColumn("prev", lag(col("hour"), 1).over(w))
          .withColumn("new_ep",
            when(col("prev").isNull || col("hour") - col("prev") > db, 1L)
              .otherwise(0L))
          .withColumn("ep", sum(col("new_ep")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("ep"))
          .agg(count(lit(1)).cast("long").as("hours_in_ep"),
            (max(col("hour")) - min(col("hour")) + 1L).as("span_h"))
        runs.agg(count(lit(1)).cast("long").as("n_episodes"),
            sum(col("hours_in_ep")).cast("long").as("alert_hours"),
            max(col("span_h")).cast("long").as("longest_span_h"))
          .select(lit(db).as("debounce_h"), col("n_episodes"),
            col("alert_hours"), col("longest_span_h"))
      }
      results.reduce(_ unionByName _).orderBy(col("debounce_h"))
    })

  def oracles: Map[String, String] = Map(
    "q73_ks_test" ->
      s"""WITH days AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(COUNT(*) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM days),
         |t AS (
         |  SELECT x, CASE WHEN (day - lo) * 2 <= (hi - lo)
         |    THEN 1 ELSE 2 END AS half
         |  FROM days CROSS JOIN b),
         |hist AS (
         |  SELECT x,
         |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM t GROUP BY 1),
         |tt AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         |         CAST(SUM(c2) AS BIGINT) AS n2 FROM hist),
         |cdf AS (
         |  SELECT
         |    CAST(SUM(c1) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
         |    CAST(SUM(c2) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
         |  FROM hist)
         |SELECT n1, n2,
         |  CAST(MAX(abs((f1 * $Fx) // n1 - (f2 * $Fx) // n2)) AS BIGINT) AS ks_fx,
         |  CAST(floor(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
         |    / CAST(n1 * n2 AS DOUBLE)) * $Fx) AS BIGINT) AS crit_fx,
         |  CAST(MAX(abs((f1 * $Fx) // n1 - (f2 * $Fx) // n2)) AS BIGINT) >
         |    CAST(floor(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
         |      / CAST(n1 * n2 AS DOUBLE)) * $Fx) AS BIGINT) AS reject_95
         |FROM cdf CROSS JOIN tt GROUP BY n1, n2""".stripMargin,

    "ev70_alert_debounce" -> {
      def arm(db: Long): String =
        s"""SELECT $db AS debounce_h,
           |  CAST(COUNT(*) AS BIGINT) AS n_episodes,
           |  CAST(SUM(hours_in_ep) AS BIGINT) AS alert_hours,
           |  CAST(MAX(span_h) AS BIGINT) AS longest_span_h
           |FROM (
           |  SELECT ep, CAST(COUNT(*) AS BIGINT) AS hours_in_ep,
           |    MAX(hour) - MIN(hour) + 1 AS span_h
           |  FROM (
           |    SELECT hour,
           |      SUM(CASE WHEN prev IS NULL OR hour - prev > $db
           |        THEN 1 ELSE 0 END) OVER (ORDER BY hour) AS ep
           |    FROM (SELECT hour, lag(hour, 1) OVER (ORDER BY hour) AS prev
           |          FROM alerts) i)
           |  GROUP BY ep)""".stripMargin
      s"""WITH burn AS (${Round6ak.oracles("ev61_slo_burn_rate")}),
         |alerts AS (SELECT hour FROM burn WHERE slow_alert)
         |SELECT * FROM (
         |  ${Debounce.map(arm).mkString("\n  UNION ALL\n  ")})
         |ORDER BY debounce_h""".stripMargin
    })
}
