package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 wave: the Spark 4 state API v2 (`transformWithState`)
  * promoted into the oracle gate. The v1 stateful lane
  * (flatMapGroupsWithState: ev45/ev46/ev47/ev51) stays gated as-is;
  * these two operators prove the SAME DuckDB replays hold on the
  * engine Spark is actively building its state roadmap on (per-state
  * column families, state data source, TTL — SPARK-49564), with
  * [[graft.streaming.StateV2]] carrying the processors and
  * StateV2Spec pinning exact v1↔v2 output parity.
  */
object Round13 extends Operators {

  /** ev83's session gap (seconds) — ev09/ev51's batch convention. */
  private val GapSec = 1800L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev83: the v2-engine sessionizer, oracle-gated ------------------
    // Same session semantics as ev51 (gap sessionization, emissions =
    // sessions a successor closed) but through transformWithState +
    // ValueState under the RocksDB provider the v2 engine requires
    // (the drain pins it on seeing the transformWithState node).
    // The census is per session size with a DISTINCT-user column, so
    // ev83's oracle is not a row-for-row copy of ev51's: it also
    // proves the v2 engine attributes sessions to the right keys.
    "ev83_stream_tws_sessions" -> { (s, d) =>
      import graft.streaming.{StateV2, StreamJobs}
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"), col("ts"))
        .as[StreamJobs.SessionEvent]
      val snap = StreamJobs.runFileSnapshot(StateV2.sessionizeTws(feed, GapSec).toDF())
      snap.groupBy(col("n_events"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          countDistinct(col("user_id")).cast("long").as("n_users"),
          sum(col("duration_sec")).cast("long").as("total_duration_sec"))
        .orderBy(col("n_events"))
    },

    // --- ev84: MapState first-occurrence detector, oracle-gated ---------
    // First time each (user, event_type) pair appears: MapState keyed
    // by type holds the first-seen micros, re-deliveries never
    // re-emit. Emissions are the distinct pairs; the census folds
    // them per type (n_users = pairs, plus the earliest/latest first-
    // contact micros). Ordered-batch contract as streamAsOf: the
    // gated corpus replays as one event-time-ordered feed.
    "ev84_stream_tws_first_seen" -> { (s, d) =>
      import graft.streaming.{StateV2, StreamJobs}
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"),
          col("event_type"),
          expr("unix_micros(ts)").as("t"))
        .as[StateV2.TypedEvent]
      val snap = StreamJobs.runFileSnapshot(StateV2.firstSeenTws(feed).toDF())
      snap.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          min(col("first_us")).cast("long").as("earliest_us"),
          max(col("first_us")).cast("long").as("latest_us"))
        .orderBy(col("event_type"))
    })

  def oracles: Map[String, String] = Map(
    // ev51's gap-session replay, censused with the distinct-user column
    "ev83_stream_tws_sessions" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
         |o AS (
         |  SELECT user_id, t,
         |    LAG(t) OVER (PARTITION BY user_id ORDER BY t) AS pt
         |  FROM e),
         |m AS (
         |  SELECT user_id, t,
         |    CASE WHEN pt IS NULL OR t - pt > $GapSec THEN 1 ELSE 0 END AS brk
         |  FROM o),
         |sx AS (
         |  SELECT user_id, t,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m),
         |g AS (
         |  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
         |    MAX(t) - MIN(t) AS dur
         |  FROM sx GROUP BY user_id, sid),
         |gg AS (
         |  SELECT user_id, n_events, dur,
         |    sid < MAX(sid) OVER (PARTITION BY user_id) AS completed
         |  FROM g)
         |SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(SUM(dur) AS BIGINT) AS total_duration_sec
         |FROM gg WHERE completed
         |GROUP BY n_events ORDER BY n_events""".stripMargin,

    // distinct (user, type) pairs with their first-contact micros,
    // folded per type
    "ev84_stream_tws_first_seen" ->
      """WITH f AS (
        |  SELECT user_id, event_type,
        |    MIN(epoch_us(ts)) AS first_us
        |  FROM events GROUP BY user_id, event_type)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(MIN(first_us) AS BIGINT) AS earliest_us,
        |  CAST(MAX(first_us) AS BIGINT) AS latest_us
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin)
}
