package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 fifty-first wave: engagement ramp (ev68) and repurchase
  * cycle (q72).
  *
  * Posture notes: ev68 is one fact fold keyed by (user, age-day)
  * then an age-day census — user-relative keys need no global
  * anything. q72 derives per-customer order gaps with
  * customer-partitioned windows, quartiles customers with
  * Rank.ntileExact, and reads gap percentiles off the histogram-CDF
  * recipe per quartile.
  */
object Round6ay extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev68: engagement ramp -------------------------------------------
    // Retention says WHO comes back; the ramp says HOW MUCH: per
    // user-age day (days since the user's first event), active
    // users, events, and events per active user — the burn-in curve
    // that separates a sticky product (ramp up) from a churn funnel
    // (spike then decay). One fold keyed by (user, age_day), then
    // the bounded age census.
    "ev68_engagement_ramp" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr(Det.truncDiv("unix_micros(ts)", 86400000000L))
          .as("day"))
      val firsts = ev.groupBy(col("user_id")).agg(min(col("day")).as("day0"))
      ev.join(firsts, Seq("user_id"))
        .withColumn("age_day", col("day") - col("day0"))
        .groupBy(col("age_day"))
        .agg(countDistinct(col("user_id")).cast("long").as("active_users"),
          count(lit(1)).cast("long").as("n_events"))
        .withColumn("events_per_user_fx",
          expr(s"(n_events * $Fx) div active_users"))
        .select(col("age_day"), col("active_users"), col("n_events"),
          col("events_per_user_fx"))
        .orderBy(col("age_day"))
    },

    // --- q72: repurchase cycle by spend quartile -------------------------
    // The retail heartbeat: per customer-spend quartile, the exact
    // p50/p90 days between consecutive orders — do the biggest
    // customers also come back fastest? Gaps from customer-
    // partitioned windows; quartiles from Rank.ntileExact (integer
    // cents); percentiles from the histogram-CDF recipe.
    "q72_repurchase_cycle" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          expr(Det.truncDiv("unix_micros(cast(o_orderdate as timestamp))",
            86400000000L)).as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val wc = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day"), col("o_orderkey"))
      val gaps = o
        .withColumn("gap_d", col("day") - lag(col("day"), 1).over(wc))
        .filter(col("gap_d").isNotNull)
      val spend = o.groupBy(col("o_custkey"))
        .agg(sum(col("cents")).as("spend"))
      val tiled = Rank.ntileExact(spend, 4, "quartile", col("spend"),
        Seq(col("o_custkey"))).select(col("o_custkey"), col("quartile"))
      val hist = gaps.join(tiled, Seq("o_custkey"))
        .groupBy(col("quartile"), col("gap_d"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val wCum = Window.partitionBy(col("quartile")).orderBy(col("gap_d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("quartile"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      hist
        .withColumn("cum", sum(col("cnt")).over(wCum).cast("long"))
        .withColumn("n", sum(col("cnt")).over(wAll).cast("long"))
        .groupBy(col("quartile").cast("int").as("quartile"))
        .agg(max(col("n")).as("n_gaps"),
          min(when(col("cum") * 2 >= col("n"), col("gap_d"))).as("p50_days"),
          min(when(col("cum") * 10 >= col("n") * 9, col("gap_d"))).as("p90_days"))
        .orderBy(col("quartile"))
    })

  def oracles: Map[String, String] = Map(
    "ev68_engagement_ramp" ->
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         |f AS (SELECT user_id, MIN(day) AS day0 FROM ev GROUP BY 1)
         |SELECT ev.day - f.day0 AS age_day,
         |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS active_users,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  (CAST(COUNT(*) AS BIGINT) * $Fx)
         |    // CAST(COUNT(DISTINCT ev.user_id) AS BIGINT)
         |    AS events_per_user_fx
         |FROM ev JOIN f USING (user_id)
         |GROUP BY 1 ORDER BY age_day""".stripMargin,

    "q72_repurchase_cycle" ->
      s"""WITH o AS (
         |  SELECT o_custkey, o_orderkey,
         |    epoch_us(o_orderdate) // 86400000000 AS day,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |g AS (
         |  SELECT o_custkey,
         |    day - lag(day, 1) OVER (PARTITION BY o_custkey
         |      ORDER BY day, o_orderkey) AS gap_d
         |  FROM o),
         |sp AS (SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS spend
         |       FROM o GROUP BY 1),
         |tiled AS (
         |  SELECT o_custkey,
         |    NTILE(4) OVER (ORDER BY spend, o_custkey) AS quartile
         |  FROM sp),
         |hist AS (
         |  SELECT quartile, gap_d, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM g JOIN tiled USING (o_custkey)
         |  WHERE gap_d IS NOT NULL GROUP BY 1, 2),
         |cdf AS (
         |  SELECT quartile, gap_d, cnt,
         |    SUM(cnt) OVER (PARTITION BY quartile ORDER BY gap_d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(cnt) OVER (PARTITION BY quartile) AS n
         |  FROM hist)
         |SELECT CAST(quartile AS INT) AS quartile,
         |  CAST(MAX(n) AS BIGINT) AS n_gaps,
         |  MIN(CASE WHEN cum * 2 >= n THEN gap_d END) AS p50_days,
         |  MIN(CASE WHEN cum * 10 >= n * 9 THEN gap_d END) AS p90_days
         |FROM cdf GROUP BY 1 ORDER BY quartile""".stripMargin)
}
