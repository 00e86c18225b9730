package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 twentieth wave: the backfill→stream cutover seam (ev53).
  *
  * Posture note: the union is two narrow scans; the seam dedup is
  * dropDuplicates on the offset key — one shuffle on event_id — and
  * the census must equal the single-source oracle, proving the
  * overlap window introduces no double counting.
  */
object Round6t extends Operators {

  /** Cutover instant: the live stream takes over here. */
  private val Cutover = "2024-01-16 00:00:00"

  /** At-least-once seam: the stream side re-reads this much overlap
    * before the cutover so a backfill/stream race can never drop the
    * boundary records — the dedup absorbs the double delivery.
    */
  private val OverlapSec = 3600L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev53: backfill + live-stream seam reconciliation --------------
    // Standing up a pipeline against years of history runs a batch
    // BACKFILL to a cutover point and a STREAM from there; the trap
    // is the seam (gap → lost records, naive overlap → double
    // counts). This runs the real shape: batch side = events before
    // the cutover, stream side = the file stream filtered to
    // (cutover - overlap) onward — deliberately overlapping — union,
    // offset-key dedup, census. The oracle is the census of the
    // SINGLE source table: the seam must be invisible.
    "ev53_backfill_seam" -> { (s, d) =>
      import graft.streaming.StreamJobs
      val cut = lit(Cutover).cast("timestamp")
      val batch = Tables.events(s, d)
        .filter(col("ts") < cut)
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      val streamed = StreamJobs.eventsFileStream(s, d)
        .filter(col("ts") >= cut - expr(s"INTERVAL $OverlapSec SECONDS"))
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      // file snapshot: the overlap window's rows scale with events
      // (r13 1000x rung: event-proportional memory sinks die on
      // driver result size)
      val live = StreamJobs.runFileSnapshot(streamed)
      batch.unionByName(live)
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          countDistinct(col("user_id")).cast("long").as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    })

  def oracles: Map[String, String] = Map(
    // the single-source truth: any seam artifact (gap or double
    // count) breaks the match
    "ev53_backfill_seam" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
