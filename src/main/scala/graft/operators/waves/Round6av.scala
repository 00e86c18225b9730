package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 forty-eighth wave: behavioral-regularity census (ev67).
  *
  * Posture note: per-user windows (entity-partitioned) fold each
  * user to three gap moments; the banding and census run on the
  * users-sized table. Squares go through engine-identical doubles
  * under trunc4 (second-per-gap integers first, so the double is
  * exact far beyond any realistic gap).
  */
object Round6av extends Operators {

  private val Fx = 1000000L

  /** Minimum events for a stable cadence estimate. */
  private val MinEvents = 5L

  /** CV² band upper bounds (fixed point; last band open). */
  private val Bands: Seq[Long] = Seq(250000L, 500000L, 1000000L, 2000000L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev67: behavioral-regularity bands -------------------------------
    // Bots keep time; humans don't: per user (≥ 5 events), the
    // squared coefficient of variation of inter-arrival gaps — a
    // metronome scores ~0, a Poisson process ~1, bursty humans > 1.
    // Censused as CV² bands with user and event mass — the
    // automation-share page a platform-integrity team reads before
    // touching any single account.
    "ev67_bot_regularity" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val gaps = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
        .withColumn("gap_s",
          expr(Det.truncDiv("us - lag(us, 1) OVER " +
            "(PARTITION BY user_id ORDER BY us, event_id)", 1000000L)))
        .filter(col("gap_s").isNotNull)
      val users = gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_g"),
          sum(col("gap_s")).cast("long").as("sg"),
          sum(col("gap_s") * col("gap_s")).cast("long").as("sgg"),
          (count(lit(1)) + 1L).cast("long").as("n_events"))
        .filter(col("n_events") >= MinEvents && col("sg") > 0L)
        .withColumn("cv2_4", Det.trunc4(
          (col("n_g").cast("double") * col("sgg").cast("double") -
            col("sg").cast("double") * col("sg").cast("double")) /
            (col("sg").cast("double") * col("sg").cast("double"))))
      val banded = users.withColumn("band",
        when(col("cv2_4") < 0.25, lit("0_metronome"))
          .when(col("cv2_4") < 0.5, lit("1_regular"))
          .when(col("cv2_4") < 1.0, lit("2_steady"))
          .when(col("cv2_4") < 2.0, lit("3_poissonish"))
          .otherwise(lit("4_bursty")))
      val totals = banded.agg(count(lit(1)).cast("long").as("t_users"))
      banded.groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("n_events")).cast("long").as("n_events"))
        .crossJoin(broadcast(totals))
        .withColumn("user_share_fx", expr(s"(n_users * $Fx) div t_users"))
        .select(col("band"), col("n_users"), col("n_events"),
          col("user_share_fx"))
        .orderBy(col("band"))
    })

  def oracles: Map[String, String] = Map(
    "ev67_bot_regularity" ->
      s"""WITH g AS (
         |  SELECT user_id,
         |    (us - lag(us, 1) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id)) // 1000000 AS gap_s
         |  FROM (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)),
         |u AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_g,
         |    CAST(SUM(gap_s) AS BIGINT) AS sg,
         |    CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg,
         |    CAST(COUNT(*) + 1 AS BIGINT) AS n_events
         |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1),
         |c AS (
         |  SELECT *, ${Det.duckTrunc(
              "(CAST(n_g AS DOUBLE) * CAST(sgg AS DOUBLE) - " +
              "CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / " +
              "(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))", 4)} AS cv2_4
         |  FROM u WHERE n_events >= $MinEvents AND sg > 0),
         |b AS (
         |  SELECT CASE WHEN cv2_4 < 0.25 THEN '0_metronome'
         |              WHEN cv2_4 < 0.5 THEN '1_regular'
         |              WHEN cv2_4 < 1.0 THEN '2_steady'
         |              WHEN cv2_4 < 2.0 THEN '3_poissonish'
         |              ELSE '4_bursty' END AS band,
         |    n_events
         |  FROM c),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_users FROM b)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(n_events) AS BIGINT) AS n_events,
         |  (CAST(COUNT(*) AS BIGINT) * $Fx) // t_users AS user_share_fx
         |FROM b CROSS JOIN t GROUP BY band, t_users ORDER BY band""".stripMargin)
}
