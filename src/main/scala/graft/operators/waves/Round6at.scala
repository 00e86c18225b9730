package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 forty-sixth wave: A/B experiment evaluation (q68).
  *
  * Posture note: assignment is a deterministic user-hash split (the
  * production bucketing recipe — stable across sessions and
  * re-runs), the evaluation is two user-keyed folds, and the lift
  * arithmetic runs on the 2-row arm table.
  */
object Round6at extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q68: A/B lift evaluation ----------------------------------------
    // The experimentation primitive: users hash-split 50/50 into
    // control/treatment (stable bucketing — the same user always
    // lands in the same arm), per arm the users, converters (any
    // purchase), conversion share, and mean purchase value; the
    // treatment row carries the measured lift vs control in fixed
    // point. With no real treatment in the data the lift reads ~0 —
    // which is exactly the A/A-test calibration an experimentation
    // stack must pass before anyone trusts its A/B numbers.
    "q68_ab_lift" -> { (s, d) =>
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"),
          sum(when(col("event_type") === "purchase",
            floor(col("value") * 100).cast("long")).otherwise(0L))
            .as("purchase_cents"))
        .withColumn("arm",
          when(pmod(Hashing.hash64(col("user_id").cast("string")), lit(2L)) === 0,
            "control").otherwise("treatment"))
      val arms = users.groupBy(col("arm"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("converted")).cast("long").as("n_converters"),
          sum(col("purchase_cents")).cast("long").as("cents"))
        .withColumn("conv_fx", expr(s"(n_converters * $Fx) div n_users"))
        .withColumn("cents_per_user", expr("cents div n_users"))
      val ctl = arms.filter(col("arm") === "control")
        .select(col("conv_fx").as("ctl_conv_fx"),
          col("cents_per_user").as("ctl_cpu"))
      arms.crossJoin(broadcast(ctl))
        // lifts can be negative: plain `div` matches DuckDB `//`
        // exactly — both truncate toward zero (measured; see
        // Det.truncDiv's scaladoc)
        .withColumn("conv_lift_fx",
          when(col("arm") === "treatment",
            expr(s"((conv_fx - ctl_conv_fx) * $Fx) div ctl_conv_fx")))
        .withColumn("value_lift_fx",
          when(col("arm") === "treatment",
            expr(s"((cents_per_user - ctl_cpu) * $Fx) div ctl_cpu")))
        .select(col("arm"), col("n_users"), col("n_converters"),
          col("conv_fx"), col("cents_per_user"),
          col("conv_lift_fx"), col("value_lift_fx"))
        .orderBy(col("arm"))
    })

  def oracles: Map[String, String] = Map(
    "q68_ab_lift" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS purchase_cents,
         |    CASE WHEN ${Hashing.duckHash64("CAST(user_id AS VARCHAR)")} % 2 = 0
         |      THEN 'control' ELSE 'treatment' END AS arm
         |  FROM events GROUP BY 1),
         |a AS (
         |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         |    CAST(SUM(converted) AS BIGINT) AS n_converters,
         |    CAST(SUM(purchase_cents) AS BIGINT) AS cents
         |  FROM u GROUP BY 1),
         |e AS (
         |  SELECT arm, n_users, n_converters,
         |    (n_converters * $Fx) // n_users AS conv_fx,
         |    cents // n_users AS cents_per_user
         |  FROM a),
         |c AS (
         |  SELECT conv_fx AS ctl_conv_fx, cents_per_user AS ctl_cpu
         |  FROM e WHERE arm = 'control')
         |SELECT arm, n_users, n_converters, conv_fx, cents_per_user,
         |  CASE WHEN arm = 'treatment'
         |    THEN ((conv_fx - ctl_conv_fx) * $Fx) // ctl_conv_fx END
         |    AS conv_lift_fx,
         |  CASE WHEN arm = 'treatment'
         |    THEN ((cents_per_user - ctl_cpu) * $Fx) // ctl_cpu END
         |    AS value_lift_fx
         |FROM e CROSS JOIN c ORDER BY arm""".stripMargin)
}
