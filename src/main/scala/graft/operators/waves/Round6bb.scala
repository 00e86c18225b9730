package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 fifty-fourth wave: bounce census (ev69).
  *
  * Posture note: ev09's gap-session definition via user-partitioned
  * windows, folded per session then censused by the 24-row
  * hour-of-day key.
  */
object Round6bb extends Operators {

  private val Fx = 1000000L

  /** Session gap (seconds) — ev09's 30-minute convention. */
  private val GapS = 1800L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev69: bounce census by hour of day ------------------------------
    // The bounce rate, sessionized: per hour-of-day of session
    // start, sessions started, single-event sessions (bounces), the
    // bounce share, and mean session length — WHEN the product loses
    // people at hello. ev09's 30-minute gap sessions from
    // user-partitioned windows; the census is 24 rows.
    "ev69_bounce_census" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(wu))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > GapS * 1000000L, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(min(col("us")).as("start_us"),
          count(lit(1)).cast("long").as("n_events"))
      sess
        // symmetric ((h % 24) + 24) % 24 guard on BOTH engine sides
        // (ADVICE r6) — parity-exact for any sign of start_us
        .withColumn("hour",
          expr(s"(((${Det.truncDiv("start_us", 3600000000L)}) % 24 + 24) % 24)").cast("int"))
        .groupBy(col("hour"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L)).cast("long")
            .as("n_bounces"),
          sum(col("n_events")).cast("long").as("n_events"))
        .withColumn("bounce_fx", expr(s"(n_bounces * $Fx) div n_sessions"))
        .withColumn("mean_len_fx", expr(s"(n_events * $Fx) div n_sessions"))
        .select(col("hour"), col("n_sessions"), col("n_bounces"),
          col("bounce_fx"), col("mean_len_fx"))
        .orderBy(col("hour"))
    })

  def oracles: Map[String, String] = Map(
    "ev69_bounce_census" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         |m AS (
         |  SELECT user_id, us,
         |    SUM(CASE WHEN prev_us IS NULL
         |      OR us - prev_us > ${GapS * 1000000L} THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess_id
         |  FROM (SELECT user_id, event_id, us,
         |          lag(us, 1) OVER (PARTITION BY user_id
         |            ORDER BY us, event_id) AS prev_us
         |        FROM e) i),
         |sess AS (
         |  SELECT user_id, sess_id, MIN(us) AS start_us,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM m GROUP BY 1, 2)
         |SELECT CAST(((start_us // 3600000000) % 24 + 24) % 24 AS INT) AS hour,
         |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_bounces,
         |  (CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // CAST(COUNT(*) AS BIGINT) AS bounce_fx,
         |  (CAST(SUM(n_events) AS BIGINT) * $Fx) // CAST(COUNT(*) AS BIGINT)
         |    AS mean_len_fx
         |FROM sess GROUP BY 1 ORDER BY hour""".stripMargin)
}
