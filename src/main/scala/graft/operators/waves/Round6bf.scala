package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 fifty-eighth wave: overload → error contingency (ev71).
  *
  * Posture note: one fact fold to the bounded minute table; the lag
  * window, thresholds and 2×2 census all run on that frame.
  */
object Round6bf extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev71: overload → error contingency ------------------------------
    // The incident hypothesis every postmortem tests: do error-heavy
    // minutes FOLLOW high-traffic minutes? The 2×2 contingency of
    // (previous minute ≥ 2× mean traffic) × (this minute's error
    // share ≥ 2× base), each cell with its observed count and the
    // overall lift P(err-heavy | overloaded) / P(err-heavy) — causal
    // reading forbidden, capacity planning encouraged.
    "ev71_overload_errors" -> { (s, d) =>
      val cells = Tables.events(s, d)
        .select(expr(Det.truncDiv("unix_micros(ts)", 60000000L)).as("minute"),
          (col("event_type") === "error").as("is_err"))
        .groupBy(col("minute"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("is_err"), 1L).otherwise(0L)).cast("long").as("n_err"))
      val base = cells.agg(count(lit(1)).cast("long").as("n_min"),
        sum(col("n")).cast("long").as("t_n"),
        sum(col("n_err")).cast("long").as("t_err"))
      val w = Window.orderBy(col("minute"))
      val tagged = cells
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .filter(col("prev_n").isNotNull)
        .crossJoin(broadcast(base))
        .withColumn("overloaded", col("prev_n") * col("n_min") >= lit(2L) * col("t_n"))
        .withColumn("err_heavy",
          col("n_err") * col("t_n") >= lit(2L) * col("n") * col("t_err"))
      val census = tagged.groupBy(col("overloaded"), col("err_heavy"))
        .agg(count(lit(1)).cast("long").as("n_minutes"))
      val lift = tagged.agg(
        sum(when(col("overloaded") && col("err_heavy"), 1L).otherwise(0L))
          .cast("long").as("both"),
        sum(when(col("overloaded"), 1L).otherwise(0L)).cast("long").as("over"),
        sum(when(col("err_heavy"), 1L).otherwise(0L)).cast("long").as("heavy"),
        count(lit(1)).cast("long").as("all_m"))
        .withColumn("lift_fx", expr(
          s"(both * all_m * $Fx) div greatest(over * heavy, 1)"))
        .select(col("lift_fx"))
      census.crossJoin(broadcast(lift))
        .select(col("overloaded"), col("err_heavy"), col("n_minutes"),
          col("lift_fx"))
        .orderBy(col("overloaded"), col("err_heavy"))
    })

  def oracles: Map[String, String] = Map(
    "ev71_overload_errors" ->
      s"""WITH cells AS (
         |  SELECT epoch_us(ts) // 60000000 AS minute,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_err
         |  FROM events GROUP BY 1),
         |b AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_min,
         |    CAST(SUM(n) AS BIGINT) AS t_n,
         |    CAST(SUM(n_err) AS BIGINT) AS t_err FROM cells),
         |tg AS (
         |  SELECT c.n, c.n_err,
         |    lag(c.n, 1) OVER (ORDER BY c.minute) AS prev_n,
         |    b.n_min, b.t_n, b.t_err
         |  FROM cells c CROSS JOIN b),
         |t AS (
         |  SELECT prev_n * n_min >= 2 * t_n AS overloaded,
         |    n_err * t_n >= 2 * n * t_err AS err_heavy
         |  FROM tg WHERE prev_n IS NOT NULL),
         |census AS (
         |  SELECT overloaded, err_heavy,
         |    CAST(COUNT(*) AS BIGINT) AS n_minutes
         |  FROM t GROUP BY 1, 2),
         |l AS (
         |  SELECT (CAST(SUM(CASE WHEN overloaded AND err_heavy THEN 1 ELSE 0 END)
         |      AS BIGINT)
         |    * CAST(COUNT(*) AS BIGINT) * $Fx)
         |    // greatest(CAST(SUM(CASE WHEN overloaded THEN 1 ELSE 0 END)
         |        AS BIGINT)
         |      * CAST(SUM(CASE WHEN err_heavy THEN 1 ELSE 0 END) AS BIGINT), 1)
         |      AS lift_fx
         |  FROM t)
         |SELECT overloaded, err_heavy, n_minutes, lift_fx
         |FROM census CROSS JOIN l
         |ORDER BY overloaded, err_heavy""".stripMargin)
}
