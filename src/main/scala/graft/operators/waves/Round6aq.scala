package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 forty-third wave: resample + interpolate (ev63) and OLS
  * trend slopes (q67).
  *
  * Posture notes: ev63 folds facts to the bounded hour table once,
  * densifies it from broadcast bounds (sequence explode over ONE
  * row), and interpolates with last/next-value windows over that
  * aggregate frame — the time-series resampling pattern with no
  * fact-sized window. q67 is closed-form OLS over per-(group, day)
  * partials — two bounded folds, no iteration.
  */
object Round6aq extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev63: hourly resample with linear interpolation -----------------
    // The time-series primitive every monitoring stack needs: the
    // stream's mean value per hour on a DENSE hourly grid, with
    // empty hours linearly interpolated between their surrounding
    // observations (edges clamp to the nearest). Output: hour,
    // observed count, value in fixed point, and whether the point is
    // real or interpolated.
    "ev63_resample_interpolate" -> { (s, d) =>
      val hours = Tables.events(s, d)
        .select(expr(Det.truncDiv("unix_micros(ts)", 3600000000L)).as("hour"),
          col("value"))
        .groupBy(col("hour"))
        // floor before the long cast: DuckDB's decimal→BIGINT cast
        // ROUNDS where Spark truncates
        .agg(count(lit(1)).cast("long").as("n"),
          floor(sum(col("value").cast("decimal(18,6)")) * Fx)
            .cast("long").as("sum_fx"))
        .withColumn("val_fx", expr("sum_fx div n"))
      val bounds = hours.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      val grid = broadcast(bounds)
        .select(explode(sequence(col("lo"), col("hi"))).as("hour"))
      val w = Window.orderBy(col("hour"))
      val dense = grid.join(hours.select(col("hour"), col("n"), col("val_fx")),
          Seq("hour"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("prev_val", last(col("val_fx"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("prev_hour", last(when(col("val_fx").isNotNull, col("hour")),
          ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("next_val", first(col("val_fx"), ignoreNulls = true)
          .over(w.rowsBetween(1, Window.unboundedFollowing)))
        .withColumn("next_hour", first(when(col("val_fx").isNotNull, col("hour")),
          ignoreNulls = true).over(w.rowsBetween(1, Window.unboundedFollowing)))
      dense
        .withColumn("interpolated", col("val_fx").isNull)
        .withColumn("out_fx",
          when(col("val_fx").isNotNull, col("val_fx"))
            .when(col("prev_val").isNull, col("next_val"))
            .when(col("next_val").isNull, col("prev_val"))
            .otherwise(expr(
              """prev_val + ((next_val - prev_val) * (hour - prev_hour))
                | div (next_hour - prev_hour)""".stripMargin)))
        .select(col("hour"), col("n"), col("out_fx"), col("interpolated"))
        .orderBy(col("hour"))
    },

    // --- q67: OLS trend slopes per group ---------------------------------
    // The regression primitive as a census: per order priority, the
    // least-squares slope of daily order counts over the day index
    // (orders/day of drift) and r² — trend detection in closed form
    // from sum partials, no iteration, engine-identical double
    // arithmetic under trunc4.
    "q67_trend_slope" -> { (s, d) =>
      val daily = Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          expr(Det.truncDiv("unix_micros(cast(o_orderdate as timestamp))", 86400000000L)).as("day"))
        .groupBy(col("priority"), col("day"))
        .agg(count(lit(1)).cast("long").as("y"))
      val base = daily.agg(min(col("day")).as("d0"))
      daily.crossJoin(broadcast(base))
        .withColumn("x", col("day") - col("d0"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).cast("long").as("n_days"),
          sum(col("x")).cast("long").as("sx"),
          sum(col("y")).cast("long").as("sy"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("x") * col("y")).cast("long").as("sxy"),
          sum(col("y") * col("y")).cast("long").as("syy"))
        .withColumn("slope4", Det.trunc4(
          (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double")))
        // square in DOUBLE: the covariance can reach ~1e10 and its
        // BIGINT square would overflow (DuckDB raises)
        .withColumn("r2_4", Det.trunc4(
          ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") *
           (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double")) /
            ((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") *
             (col("n_days") * col("syy") - col("sy") * col("sy")).cast("double"))))
        .select(col("priority"), col("n_days"), col("slope4"), col("r2_4"))
        .orderBy(col("priority"))
    })

  def oracles: Map[String, String] = Map(
    "ev63_resample_interpolate" ->
      s"""WITH hrs AS (
         |  SELECT epoch_us(ts) // 3600000000 AS hour,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(floor(SUM(CAST(value AS DECIMAL(18,6))) * $Fx) AS BIGINT)
         |      // CAST(COUNT(*) AS BIGINT) AS val_fx
         |  FROM events GROUP BY 1),
         |b AS (SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM hrs),
         |grid AS (SELECT unnest(range(lo, hi + 1)) AS hour FROM b),
         |dense AS (
         |  SELECT g.hour, COALESCE(h.n, 0) AS n, h.val_fx,
         |    last_value(h.val_fx IGNORE NULLS) OVER
         |      (ORDER BY g.hour ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prev_val,
         |    last_value(CASE WHEN h.val_fx IS NOT NULL THEN g.hour END
         |      IGNORE NULLS) OVER
         |      (ORDER BY g.hour ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prev_hour,
         |    first_value(h.val_fx IGNORE NULLS) OVER
         |      (ORDER BY g.hour ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |      AS next_val,
         |    first_value(CASE WHEN h.val_fx IS NOT NULL THEN g.hour END
         |      IGNORE NULLS) OVER
         |      (ORDER BY g.hour ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |      AS next_hour
         |  FROM grid g LEFT JOIN hrs h ON g.hour = h.hour)
         |SELECT hour, n,
         |  CASE WHEN val_fx IS NOT NULL THEN val_fx
         |       WHEN prev_val IS NULL THEN next_val
         |       WHEN next_val IS NULL THEN prev_val
         |       ELSE prev_val + ((next_val - prev_val) * (hour - prev_hour))
         |         // (next_hour - prev_hour) END AS out_fx,
         |  val_fx IS NULL AS interpolated
         |FROM dense ORDER BY hour""".stripMargin,

    "q67_trend_slope" ->
      s"""WITH daily AS (
         |  SELECT o_orderpriority AS priority,
         |    epoch_us(o_orderdate) // 86400000000 AS day,
         |    CAST(COUNT(*) AS BIGINT) AS y
         |  FROM orders GROUP BY 1, 2),
         |b AS (SELECT MIN(day) AS d0 FROM daily),
         |p AS (
         |  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(day - d0) AS BIGINT) AS sx,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM((day - d0) * (day - d0)) AS BIGINT) AS sxx,
         |    CAST(SUM((day - d0) * y) AS BIGINT) AS sxy,
         |    CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM daily CROSS JOIN b GROUP BY 1)
         |SELECT priority, n_days,
         |  ${Det.duckTrunc(
            "CAST(n_days * sxy - sx * sy AS DOUBLE) / " +
            "CAST(n_days * sxx - sx * sx AS DOUBLE)", 4)} AS slope4,
         |  ${Det.duckTrunc(
            "(CAST(n_days * sxy - sx * sy AS DOUBLE) * " +
            "CAST(n_days * sxy - sx * sy AS DOUBLE)) / " +
            "(CAST(n_days * sxx - sx * sx AS DOUBLE) * " +
            "CAST(n_days * syy - sy * sy AS DOUBLE))", 4)}
         |    AS r2_4
         |FROM p ORDER BY priority""".stripMargin)
}
