package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 seventeenth wave: the flatMapGroupsWithState sessionizer
  * promoted into the oracle gate (ev51) — the last stateful streaming
  * component that was spec-only.
  *
  * Gate semantics: the sessionizer emits a session when the NEXT
  * event's gap closes it (plus idle-timeout flushes on a live feed
  * that an AvailableNow run does not take), so the oracle counts
  * COMPLETED sessions — every session except each user's final one.
  * That subset is exactly what the reference-style "only emit
  * finished work" contract produces, and it is batch-replayable in
  * SQL, so the stateful path is provable against DuckDB.
  */
object Round6q extends Operators {

  /** ev51's session gap (seconds) — ev09's batch convention. */
  private val GapSec = 1800L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev51: streaming sessionizer, oracle-gated ---------------------
    // The event stream drives StreamJobs.sessionize (explicit
    // per-user state, O(1) per key: start/last/count — state is
    // REMOVED on idle timeout in live runs), and the emitted
    // completed sessions fold to a census by session size. One
    // stateful shuffle on user_id; the census table is bounded by
    // the largest session.
    "ev51_stream_sessions" -> { (s, d) =>
      import graft.streaming.StreamJobs
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"), col("ts"))
        .as[StreamJobs.SessionEvent]
      val out = StreamJobs.sessionize(feed, GapSec, flushIdle = false)
      // file snapshot: completed sessions are EVENT-proportional — the
      // r13 1000x rung drove the memory sink into serialization
      // distress at 100M events; the file sink keeps output distributed
      val snap = StreamJobs.runFileSnapshot(out.toDF())
      snap.groupBy(col("n_events"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("duration_sec")).cast("long").as("total_duration_sec"))
        .orderBy(col("n_events"))
    })

  def oracles: Map[String, String] = Map(
    // batch replay of the gap sessionization, keeping only sessions
    // closed by a successor (sid < the user's max sid); timestamps
    // fold to epoch seconds exactly as the sessionizer's
    // ts.getTime/1000
    "ev51_stream_sessions" ->
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
         |  SELECT n_events, dur,
         |    sid < MAX(sid) OVER (PARTITION BY user_id) AS completed
         |  FROM g)
         |SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(dur) AS BIGINT) AS total_duration_sec
         |FROM gg WHERE completed
         |GROUP BY n_events ORDER BY n_events""".stripMargin)
}
