package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 ninth wave: consumer backlog trajectory (ev76).
  *
  * Posture note: ev57 sizes consumers from the STATIC rate census;
  * ev76 prices what actually happens over time when capacity is set
  * anyway — the Lindley queue recursion L_t = max(0, L_{t-1} + a_t −
  * c) folded into its CLOSED FORM L_t = S_t − min(0, min_{k≤t} S_k)
  * (S = running sum of arrivals − capacity), so the whole trajectory
  * is two cumulative windows over the gap-filled hourly grid — no
  * recursion, no UDAF, no per-row loop. Windows partition by
  * event_type over the bounded hour grid (ev24's one-scan build).
  */
object Round8i extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev76: hourly backlog under 110%-of-mean capacity -----------------
    // Per type: capacity = ceil-free integer 110% of the mean hourly
    // arrival rate (div-truncated, the conservative side), then the
    // Lindley trajectory on the dense grid. The census reports the
    // sizing answer: peak backlog, backlogged hours, whether the
    // queue drained by the horizon, and the drain deficit if not.
    "ev76_backlog_trajectory" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      val counts = Dedup.barrier(ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n_events")))
      val hours = counts.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("h"))
      val grid = hours.crossJoin(counts.select(col("event_type")).distinct())
      val cap = counts.groupBy(col("event_type"))
        .agg(sum(col("n_events")).as("total"))
        .crossJoin(broadcast(hours.agg(count(lit(1)).as("n_hours"))))
        .select(col("event_type"),
          expr("(total * 11) div (10 * n_hours)").as("cap"))
      val filled = grid.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n_events"), lit(0L)).as("arrivals"))
        .join(cap, Seq("event_type"))
      val run = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val traj = filled
        .withColumn("s", sum(col("arrivals") - col("cap")).over(run))
        .withColumn("lag",
          col("s") - least(min(col("s")).over(run), lit(0L)))
      traj.groupBy(col("event_type"))
        .agg(min(col("cap")).cast("long").as("cap_per_hour"),
          sum(col("arrivals")).cast("long").as("total_arrivals"),
          max(col("lag")).cast("long").as("peak_backlog"),
          sum(when(col("lag") > 0, 1L).otherwise(0L)).cast("long")
            .as("hours_backlogged"),
          expr("max_by(lag, h)").cast("long").as("end_backlog"))
        .orderBy(col("event_type"))
    })

  def oracles: Map[String, String] = Map(
    "ev76_backlog_trajectory" ->
      s"""WITH counts AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1, 2),
         |bounds AS (
         |  SELECT MIN(h) AS lo, MAX(h) AS hi FROM counts),
         |hours AS (
         |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
         |  FROM bounds),
         |grid AS (
         |  SELECT t.event_type, hours.h
         |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM counts) t),
         |nh AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hours FROM hours),
         |cap AS (
         |  SELECT event_type,
         |    (CAST(SUM(n_events) AS BIGINT) * 11) // (10 * n_hours) AS cap
         |  FROM counts CROSS JOIN nh GROUP BY event_type, n_hours),
         |filled AS (
         |  SELECT g.event_type, g.h,
         |    COALESCE(c.n_events, 0) AS arrivals, cap.cap
         |  FROM grid g
         |  LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
         |  JOIN cap ON g.event_type = cap.event_type),
         |traj AS (
         |  SELECT event_type, h, arrivals, cap,
         |    SUM(arrivals - cap) OVER w AS s
         |  FROM filled
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |lagd AS (
         |  SELECT event_type, h, arrivals, cap,
         |    s - LEAST(MIN(s) OVER w, 0) AS lag
         |  FROM traj
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_type,
         |  CAST(MIN(cap) AS BIGINT) AS cap_per_hour,
         |  CAST(SUM(arrivals) AS BIGINT) AS total_arrivals,
         |  CAST(MAX(lag) AS BIGINT) AS peak_backlog,
         |  CAST(SUM(CASE WHEN lag > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hours_backlogged,
         |  CAST(arg_max(lag, h) AS BIGINT) AS end_backlog
         |FROM lagd GROUP BY event_type ORDER BY event_type""".stripMargin)
}
