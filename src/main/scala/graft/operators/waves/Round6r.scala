package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 eighteenth wave: SCD Type-2 interval materialization (q52)
  * and the join-explosion pre-flight (q53).
  *
  * Posture notes: q52 is two windows partitioned by the entity key
  * (user) — the standard changes-to-intervals build, no global state;
  * q53 folds both join sides to per-key counts first, so the
  * "explosion" is priced on the key tables (distinct keys), never by
  * running the join.
  */
object Round6r extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q52: SCD Type-2 validity intervals ----------------------------
    // ev22 materializes type-1 (latest wins); warehouses also need
    // type 2: the full validity history. Each change of a user's
    // event_type opens an interval [valid_from, valid_to) closed by
    // the next change (the last interval per user stays open).
    // Census per state: intervals opened, still-open count, and the
    // closed intervals' total dwell seconds — the state-residency
    // profile. Change detection and interval closing are lag/lead
    // windows on the user key; ties break on event_id (offset
    // order), ev22's convention.
    "q52_scd2_intervals" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      val iv = e
        .withColumn("valid_to_us", lead(col("us"), 1).over(byUser))
      iv.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_intervals"),
          sum(when(col("valid_to_us").isNull, 1L).otherwise(0L))
            .cast("long").as("n_open"),
          coalesce(sum(expr("(valid_to_us - us) div 1000000")), lit(0L))
            .cast("long").as("closed_dwell_sec"))
        .orderBy(col("event_type"))
    },

    // --- q53: join-explosion pre-flight --------------------------------
    // A many-to-many join's output size is sum over keys of
    // n_left(k)·n_right(k) — and one hot key can dwarf the rest.
    // Before running user-keyed events⋈events joins (ev17's shape),
    // this prices that sum EXACTLY from the two per-key count tables
    // (clicks × purchases per user): total output rows, the heaviest
    // key's share, and the share carried by the top percentile
    // bucket (ANSI NTILE(100), computed scalably by Rank.ntileExact —
    // no keys-sized global sort window). The salting/skew-join
    // decision input: the join-output analog of q37's row-count skew.
    "q53_join_explosion" -> { (s, d) =>
      val e = Tables.events(s, d)
      def perKey(t: String, as: String) = e.filter(col("event_type") === t)
        .groupBy(col("user_id")).agg(count(lit(1)).as(as))
      val keys = perKey("click", "n_l").join(perKey("purchase", "n_r"), Seq("user_id"))
        .withColumn("out_rows", col("n_l") * col("n_r"))
      val tiled = Rank.ntileExact(keys, 100, "pctile",
        col("out_rows"), Seq(col("user_id")))
      tiled.agg(count(lit(1)).cast("long").as("n_keys"),
          sum(col("out_rows")).cast("long").as("total_out"),
          max(col("out_rows")).cast("long").as("max_key_out"),
          sum(when(col("pctile") === 100, col("out_rows")).otherwise(0L))
            .cast("long").as("top1pct_out"))
        .withColumn("max_share_fx", expr(s"(max_key_out * $Fx) div total_out"))
        .withColumn("top1pct_share_fx", expr(s"(top1pct_out * $Fx) div total_out"))
        .select(col("n_keys"), col("total_out"), col("max_key_out"),
          col("top1pct_out"), col("max_share_fx"), col("top1pct_share_fx"))
    })

  def oracles: Map[String, String] = Map(
    "q52_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |c AS (
        |  SELECT user_id, event_id, event_type, us,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS prev_type
        |  FROM e),
        |ch AS (
        |  SELECT user_id, event_type, us,
        |    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS valid_to_us
        |  FROM c WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_open,
        |  CAST(COALESCE(SUM((valid_to_us - us) // 1000000), 0) AS BIGINT)
        |    AS closed_dwell_sec
        |FROM ch GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q53_join_explosion" ->
      s"""WITH l AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_l FROM events
         |  WHERE event_type = 'click' GROUP BY user_id),
         |r AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_r FROM events
         |  WHERE event_type = 'purchase' GROUP BY user_id),
         |k AS (
         |  SELECT l.user_id, n_l * n_r AS out_rows
         |  FROM l JOIN r ON l.user_id = r.user_id),
         |rk AS (
         |  SELECT user_id, out_rows,
         |    NTILE(100) OVER (ORDER BY out_rows, user_id) AS pctile
         |  FROM k)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(out_rows) AS BIGINT) AS total_out,
         |  CAST(MAX(out_rows) AS BIGINT) AS max_key_out,
         |  CAST(SUM(CASE WHEN pctile = 100 THEN out_rows ELSE 0 END) AS BIGINT)
         |    AS top1pct_out,
         |  (CAST(MAX(out_rows) AS BIGINT) * $Fx) // CAST(SUM(out_rows) AS BIGINT)
         |    AS max_share_fx,
         |  (CAST(SUM(CASE WHEN pctile = 100 THEN out_rows ELSE 0 END) AS BIGINT)
         |    * $Fx) // CAST(SUM(out_rows) AS BIGINT) AS top1pct_share_fx
         |FROM rk""".stripMargin)
}
