package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-5 sixteenth wave: curriculum phase manifest (pk10) and the
  * session-profile census (ev39).
  *
  * Posture notes: pk10 runs the library's exact global ntile
  * ([[Rank.ntileExact]] — range-bucketed, one hash shuffle, nothing
  * single-partition at scale) over tx02's quality score to cut the
  * corpus into curriculum quartiles; the manifest is a 4-row census.
  * ev39 reuses ev09's exact session construction (30-min gap,
  * (ts, event_id) total order) and folds sessions into a
  * size-keyed census — windows partition by user, the census table
  * is bounded by the max session length.
  */
object Round5p extends Operators {

  private val Fx = 1000000L

  /** pk10: curriculum phases (quality quartiles, 1 = lowest). */
  val Phases = 4

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk10: curriculum phase manifest ------------------------------
    // Curriculum training feeds cleaner data in later phases: docs
    // rank by tx02's quality score (4-decimal fixed point → integer
    // key) and cut into exact quartiles with Rank.ntileExact — ANSI
    // NTILE bit-for-bit, but planned as range buckets + one hash
    // shuffle instead of a single-partition global sort, so the
    // manifest still computes at corpus scale. Per phase: docs,
    // token mass, token share, and the quality envelope — the
    // schedule a trainer consumes together with pk08's shuffle and
    // tx17's mix plan.
    "pk10_curriculum_phases" -> { (s, d) =>
      val scored = TextAnalysis.queries("tx02_quality_score")(s, d)
        .withColumn("q4", floor(col("quality") * 10000).cast("long"))
      val phased = Rank.ntileExact(scored, Phases, "phase",
        col("q4"), Seq(col("doc_id")))
      val census = phased.groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          min(col("q4")).as("min_q4"), max(col("q4")).as("max_q4"))
      val total = census.agg(sum(col("n_tokens")).cast("long").as("t_tokens"))
      census.crossJoin(broadcast(total))
        .withColumn("token_share_fx", expr(s"(n_tokens * $Fx) div t_tokens"))
        .select(col("phase"), col("n_docs"), col("n_tokens"),
          col("token_share_fx"), col("min_q4"), col("max_q4"))
        .orderBy(col("phase"))
    },

    // --- ev39: session-profile census ---------------------------------
    // What does a "session" actually look like under ev09's 30-min
    // dial? Sessions rebuild with the SAME construction (gap > 1800 s
    // over (ts, event_id) order), then fold by session SIZE: how many
    // sessions have k events, their total/average duration. The
    // size-keyed table is bounded by the longest session; durations
    // are integer epoch-second spans. Read with ev36 (which prices
    // the gap dial itself).
    "ev39_session_profile" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, d)
        .withColumn("t", col("ts").cast("long"))
        .withColumn("prev_s", lag(col("t"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_s").isNull || (col("t") - col("prev_s")) > 1800, 1)
            .otherwise(0))
        .withColumn("sess_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("sz"),
          (max(col("t")) - min(col("t"))).as("dur_s"))
      sess.groupBy(col("sz"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("dur_s")).cast("long").as("sum_dur_s"),
          max(col("dur_s")).as("max_dur_s"))
        .withColumn("avg_dur_s", expr("sum_dur_s div n_sessions"))
        .select(col("sz"), col("n_sessions"), col("avg_dur_s"),
          col("max_dur_s"))
        .orderBy(col("sz"))
    })

  def oracles: Map[String, String] = Map(
    "pk10_curriculum_phases" -> {
      // quality is tx02's SHARED oracle fragment — one definition,
      // both oracles, no silent drift
      val q = TextAnalysis.duckQuality
      s"""WITH base AS (
         |  SELECT doc_id, len(${Dedup.duckToks}) AS n_tokens,
         |    CAST(${TextAnalysis.duckStop} AS DOUBLE) / len(${Dedup.duckToks})
         |      AS stop_ratio,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text)
         |      AS punct_ratio
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(floor(($q) * 10000) AS BIGINT) AS q4
         |  FROM base),
         |phased AS (
         |  SELECT n_tokens, q4,
         |    NTILE($Phases) OVER (ORDER BY q4, doc_id) AS phase
         |  FROM scored),
         |census AS (
         |  SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |    MIN(q4) AS min_q4, MAX(q4) AS max_q4
         |  FROM phased GROUP BY phase),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tokens FROM census)
         |SELECT phase, n_docs, n_tokens,
         |  (n_tokens * $Fx) // t_tokens AS token_share_fx,
         |  min_q4, max_q4
         |FROM census CROSS JOIN t ORDER BY phase""".stripMargin
    },

    "ev39_session_profile" ->
      """WITH marked AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    CASE WHEN prev_s IS NULL
        |              OR (CAST(floor(epoch(ts)) AS BIGINT) - prev_s) > 1800
        |         THEN 1 ELSE 0 END AS new_sess,
        |    ts, event_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        |    FROM events)),
        |ids AS (
        |  SELECT user_id, t,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sess_id
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS sz,
        |    CAST(MAX(t) - MIN(t) AS BIGINT) AS dur_s
        |  FROM ids GROUP BY user_id, sess_id)
        |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(dur_s) AS BIGINT) // COUNT(*) AS avg_dur_s,
        |  CAST(MAX(dur_s) AS BIGINT) AS max_dur_s
        |FROM sess GROUP BY sz ORDER BY sz""".stripMargin)
}
