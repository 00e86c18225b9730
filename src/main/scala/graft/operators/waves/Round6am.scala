package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 thirty-ninth wave: inventory depletion ledger (q64) and
  * session state-store sizing (ev62).
  *
  * Posture notes: q64's running sums are partitioned by part key
  * (never global) and the census folds to months. ev62 computes
  * EXACT peak concurrency with the two-level prefix-sum recipe
  * (ev30's): per-hour delta partials, a prefix window over the
  * bounded hour table, then within-hour running sums carry in the
  * hour's offset — no global-order window anywhere.
  */
object Round6am extends Operators {

  /** ev62: candidate session gaps (seconds). */
  private val Gaps: Seq[Long] = Seq(600L, 1800L, 3600L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q64: inventory depletion ledger ---------------------------------
    // The running-balance ledger read as a census: each part starts
    // with half its total demand in stock; shipments draw it down in
    // (shipdate, orderkey, linenumber) order; the month where the
    // running draw crosses the initial stock is that part's
    // depletion event. Per ship month: lines, quantity, and parts
    // depleted — the restocking wave a fulfilment planner reads.
    "q64_depletion_ledger" -> { (s, d) =>
      val lines = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).cast("long").as("qty"),
          col("l_shipdate"))
      val initial = lines.groupBy(col("l_partkey"))
        .agg((sum(col("qty")) / lit(2)).cast("long").as("stock0"))
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val run = lines.join(initial, Seq("l_partkey"))
        .withColumn("drawn", sum(col("qty")).over(w))
        .withColumn("depletes",
          col("drawn") > col("stock0") &&
            (col("drawn") - col("qty")) <= col("stock0"))
      run.groupBy(date_trunc("month", col("l_shipdate")).as("month"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("qty")).cast("long").as("qty_shipped"),
          sum(when(col("depletes"), 1L).otherwise(0L)).cast("long")
            .as("n_depletions"))
        .orderBy(col("month"))
    },

    // --- ev62: session state-store sizing --------------------------------
    // flatMapGroupsWithState memory is peak CONCURRENT sessions, not
    // total: per candidate gap (10/30/60 min), the session count and
    // the exact peak concurrency — a session occupies state from its
    // first event until last event + gap (the timeout that evicts
    // it). Peak via two-level prefix sums: hour-bucket partials, a
    // prefix over the bounded hour table, within-hour running sums
    // offset by the carry — exact, no global window.
    "ev62_state_store_sizing" -> { (s, d) =>
      // the per-user lag is gap-independent: compute it ONCE behind a
      // barrier and let the three sweep arms reuse the cached frame
      // (one fact window pass instead of three)
      val wu = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val ev = Dedup.barrier(Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(wu)))
      val results = Gaps.map { g =>
        val gUs = g * 1000000L
        // each arm reads its session table twice (delta stream +
        // count): cache it so the window pass runs once per arm
        val sessions = Dedup.barrierAlso(ev
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              col("us") - col("prev_us") > gUs, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(min(col("us")).as("start_us"),
            (max(col("us")) + gUs).as("evict_us")))
        val deltas = sessions.select(
          explode(array(
            struct(col("start_us").as("t"), lit(1L).as("delta")),
            struct(col("evict_us").as("t"), lit(-1L).as("delta")))).as("e"))
          .select(col("e.t").as("t"), col("e.delta").as("delta"))
          .withColumn("hour", expr(Det.truncDiv("t", 3600000000L)))
        val hourTotals = deltas.groupBy(col("hour"))
          .agg(sum(col("delta")).as("hour_delta"))
          .withColumn("carry_in",
            coalesce(sum(col("hour_delta")).over(
              Window.orderBy(col("hour"))
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val wh = Window.partitionBy(col("hour"))
          .orderBy(col("t"), col("delta"))
        val peak = deltas
          .withColumn("run_in_hour", sum(col("delta")).over(
            wh.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(hourTotals.select(col("hour"), col("carry_in")), Seq("hour"))
          .agg(max(col("carry_in") + col("run_in_hour")).cast("long")
            .as("peak_concurrent"))
        sessions.agg(count(lit(1)).cast("long").as("n_sessions"))
          .crossJoin(broadcast(peak))
          .select(lit(g).as("gap_s"), col("n_sessions"), col("peak_concurrent"))
      }
      results.reduce(_ unionByName _).orderBy(col("gap_s"))
    })

  def oracles: Map[String, String] = Map(
    "q64_depletion_ledger" ->
      s"""WITH lines AS (
         |  SELECT l_partkey, l_orderkey, l_linenumber,
         |    CAST(floor(l_quantity) AS BIGINT) AS qty, l_shipdate
         |  FROM lineitem),
         |ini AS (
         |  SELECT l_partkey, CAST(SUM(qty) // 2 AS BIGINT) AS stock0
         |  FROM lines GROUP BY 1),
         |run AS (
         |  SELECT l.l_shipdate, l.qty,
         |    SUM(l.qty) OVER (PARTITION BY l.l_partkey
         |      ORDER BY l.l_shipdate, l.l_orderkey, l.l_linenumber) AS drawn,
         |    i.stock0
         |  FROM lines l JOIN ini i USING (l_partkey))
         |SELECT date_trunc('month', l_shipdate) AS month,
         |  CAST(COUNT(*) AS BIGINT) AS n_lines,
         |  CAST(SUM(qty) AS BIGINT) AS qty_shipped,
         |  CAST(SUM(CASE WHEN drawn > stock0 AND drawn - qty <= stock0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_depletions
         |FROM run GROUP BY 1 ORDER BY month""".stripMargin,

    "ev62_state_store_sizing" -> {
      def arm(g: Long): String = {
        val gUs = g * 1000000L
        s"""SELECT $g AS gap_s,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
           |     SELECT user_id, sess_id FROM (
           |       SELECT user_id,
           |         SUM(CASE WHEN prev_us IS NULL OR us - prev_us > $gUs
           |           THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
           |             ORDER BY us) AS sess_id
           |       FROM (SELECT user_id, epoch_us(ts) AS us,
           |               lag(epoch_us(ts)) OVER (PARTITION BY user_id
           |                 ORDER BY epoch_us(ts)) AS prev_us
           |             FROM events) i1)
           |     GROUP BY 1, 2)) AS n_sessions,
           |  (SELECT CAST(MAX(running) AS BIGINT) FROM (
           |     SELECT SUM(delta) OVER (ORDER BY t, delta) AS running FROM (
           |       SELECT unnest([start_us, evict_us]) AS t,
           |         unnest([1, -1]) AS delta
           |       FROM (
           |         SELECT MIN(us) AS start_us, MAX(us) + $gUs AS evict_us
           |         FROM (SELECT user_id, us,
           |                 SUM(CASE WHEN prev_us IS NULL OR us - prev_us > $gUs
           |                   THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
           |                     ORDER BY us) AS sess_id
           |               FROM (SELECT user_id, epoch_us(ts) AS us,
           |                       lag(epoch_us(ts)) OVER (PARTITION BY user_id
           |                         ORDER BY epoch_us(ts)) AS prev_us
           |                     FROM events) i2)
           |         GROUP BY user_id, sess_id)))) AS peak_concurrent""".stripMargin
      }
      Gaps.map(arm).mkString("\nUNION ALL\n") + "\nORDER BY gap_s"
    })
}
