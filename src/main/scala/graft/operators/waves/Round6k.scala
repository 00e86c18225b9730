package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 eleventh wave: the last two spec-only stateful streaming
  * components promoted into the oracle gate — CDC compaction (ev46)
  * and the sliding rate limiter (ev47).
  *
  * Posture notes: both are flatMapGroupsWithState jobs with the
  * bounded state their Scaladoc claims (one compacted record per key;
  * O(limit) timestamps per key), driven over the event file stream
  * and folded to batch-oracle-checkable censuses.
  */
object Round6k extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev46: streaming CDC compaction, oracle-gated ------------------
    // ev22 computes the compacted changelog declaratively; this runs
    // the STATEFUL stream (StreamJobs.streamCompact — one carried
    // record per key, the compacted-topic bound) over the same feed:
    // event_type rides in the op field ('error' = tombstone, exactly
    // ev22's delete convention), the latest emission per key is the
    // compacted snapshot, and the same census must match ev22's
    // oracle row-for-row.
    "ev46_stream_compact" -> { (s, d) =>
      import graft.streaming.StreamJobs
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id").as("k"),
          expr("unix_micros(ts)").as("ts"),
          col("event_id").as("off"),
          when(col("event_type") === "error", "delete")
            .otherwise(col("event_type")).as("op"),
          col("value").as("v"))
        .as[StreamJobs.ChangeIn]
      val out = StreamJobs.streamCompact(feed)
      val snap = StreamJobs.runMemorySnapshot(out.toDF(), "graft_ev46_mem", "append")
      val latest = snap
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("ts").desc, col("off").desc)))
        .filter(col("rn") === 1 && col("live"))
      latest.groupBy(col("op").as("last_event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("v").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("last_event_type"))
    },

    // --- ev47: streaming rate limiter, oracle-gated ---------------------
    // ev27 audits the trailing-24h admission window as a batch RANGE
    // window; this runs the O(limit)-state streaming limiter
    // (StreamJobs.rateLimit, tie-aware) over the same feed and
    // censuses its per-event verdicts. The oracle is ev27's batch
    // definition minus the burst column (the stream exposes
    // decisions, not window counts) — so the gate proves the bounded
    // state computes the exact sliding-window decision.
    "ev47_stream_rate_limit" -> { (s, d) =>
      import graft.streaming.StreamJobs
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"))
        .as[StreamJobs.RateIn]
      val out = StreamJobs.rateLimit(feed, Round4b.RateLimit)
      // file snapshot: per-event verdicts are EVENT-proportional — the
      // r13 1000x rung (100M events) killed the memory sink here at
      // 4.4 GiB of driver results; the file sink keeps output
      // distributed (the production shape)
      val snap = StreamJobs.runFileSnapshot(out.toDF())
      snap.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("throttled"), 1L).otherwise(0L)).cast("long").as("n_throttled"),
          countDistinct(when(col("throttled"), col("user_id")))
            .cast("long").as("n_users_throttled"))
        .orderBy(col("event_type"))
    })

  def oracles: Map[String, String] = Map(
    // the SAME census definition as ev22's oracle — the streaming
    // path must land on the batch answer
    "ev46_stream_compact" -> Round3.oracles("ev22_cdc_upsert"),

    "ev47_stream_rate_limit" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         |w AS (
         |  SELECT user_id, event_type,
         |    COUNT(*) OVER (PARTITION BY user_id ORDER BY t
         |                   RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW) AS cnt
         |  FROM e)
         |SELECT event_type, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN cnt > ${Round4b.RateLimit} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_throttled,
         |  COUNT(DISTINCT CASE WHEN cnt > ${Round4b.RateLimit} THEN user_id END)
         |    AS n_users_throttled
         |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)
}
