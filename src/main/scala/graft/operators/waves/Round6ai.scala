package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 thirty-fifth wave: dedup-window sweep (ev60) and linear
  * multi-touch attribution (q62).
  *
  * Posture notes: ev60 derives the replay stream with the ev33
  * hash-sample recipe (no data motion beyond one fact fold) and
  * prices each candidate window on the |windows|-row summary. q62 is
  * one user-keyed fact-fact equi-join (purchases gather their own
  * user's prior clicks; the range predicate rides the join) — the
  * ev17 interval recipe — folded to a 24-row hour census.
  */
object Round6ai extends Operators {

  private val Fx = 1000000L

  /** ev60: 1-in-N replay sample (ev33's dial) and the candidate
    * dedup windows (seconds).
    */
  private val RedeliverMod = 10L
  private val Windows: Seq[Long] = Seq(300L, 900L, 3600L, 7200L)
  /** Replay delay domain: (0, 2h] in seconds, hash-derived. */
  private val MaxDelayS = 7200L

  /** q62: attribution lookback (seconds). */
  private val LookbackS = 7L * 86400L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev60: dedup-window sweep ----------------------------------------
    // dropDuplicatesWithinWatermark state is priced by its window:
    // too short leaks duplicates downstream, too long holds state.
    // Replays (ev33's 1-in-10 hash sample) arrive with a
    // hash-derived delay in (0, 2h]; per candidate window: replays
    // caught (delay ≤ W), leaked, the leak share, and the mean state
    // rows the window holds (events·W / span) — the page that picks
    // W from measured redelivery lag instead of folklore.
    "ev60_dedup_window_sweep" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), expr("unix_micros(ts)").as("us"))
      val replays = ev
        .filter(pmod(Hashing.hash64(col("event_id").cast("string")),
          lit(RedeliverMod)) === 0)
        .withColumn("delay_s",
          pmod(Hashing.hash64(concat_ws("|", col("event_id").cast("string"),
            lit("d"))), lit(MaxDelayS)) + 1L)
      val rstats = replays.agg(count(lit(1)).cast("long").as("n_replays"))
      val estats = ev.agg(count(lit(1)).cast("long").as("n_events"),
        expr("(max(us) - min(us)) div 1000000").as("span_s"))
      val caught = replays
        .select(explode(typedLit(Windows)).as("w_s"), col("delay_s"))
        .groupBy(col("w_s"))
        .agg(sum(when(col("delay_s") <= col("w_s"), 1L).otherwise(0L))
          .cast("long").as("n_caught"))
      caught.crossJoin(broadcast(rstats)).crossJoin(broadcast(estats))
        .withColumn("n_leaked", col("n_replays") - col("n_caught"))
        .withColumn("leak_fx", expr(s"(n_leaked * $Fx) div n_replays"))
        .withColumn("state_rows", expr("(n_events * w_s) div span_s"))
        .select(col("w_s"), col("n_replays"), col("n_caught"),
          col("n_leaked"), col("leak_fx"), col("state_rows"))
        .orderBy(col("w_s"))
    },

    // --- q62: linear multi-touch attribution -----------------------------
    // Last-touch (q36) gives the final click all the credit; linear
    // attribution splits each conversion's value equally across
    // every click in the 7-day lookback. Census: credited cents per
    // click hour-of-day — WHEN the touches that actually convert
    // happen, the budget-pacing page. Touchless conversions are
    // censused separately as the "no_touch" row (hour = -1).
    "q62_linear_attribution" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          expr("unix_micros(ts)").as("p_us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), expr("unix_micros(ts)").as("c_us"))
      val touched = purchases.join(clicks, Seq("user_id"), "left")
        .withColumn("is_touch",
          col("c_us").isNotNull && col("c_us") < col("p_us") &&
            col("c_us") >= col("p_us") - lit(LookbackS * 1000000L))
      val perConv = touched
        .groupBy(col("p_id"), col("cents"))
        .agg(sum(when(col("is_touch"), 1L).otherwise(0L)).cast("long").as("n_touches"))
      val credits = touched.filter(col("is_touch"))
        .join(perConv.select(col("p_id"), col("n_touches")), Seq("p_id"))
        // symmetric ((h % 24) + 24) % 24 guard on BOTH engine sides
        // (ADVICE r6): truncating div + truncating % in both engines,
        // so the hour key is parity-exact even for pre-epoch micros
        .withColumn("hour",
          expr(s"(((${Det.truncDiv("c_us", 3600000000L)}) % 24 + 24) % 24)").cast("int"))
        .withColumn("credit_cents", expr("cents div n_touches"))
        .groupBy(col("hour"))
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum(col("credit_cents")).cast("long").as("credited_cents"))
      val noTouch = perConv.filter(col("n_touches") === 0L)
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum(col("cents")).cast("long").as("credited_cents"))
        .select(lit(-1).cast("int").as("hour"), col("n_touches"),
          col("credited_cents"))
      credits.unionByName(noTouch)
        .filter(col("n_touches") > 0L)
        .orderBy(col("hour"))
    })

  def oracles: Map[String, String] = Map(
    "ev60_dedup_window_sweep" ->
      s"""WITH ev AS (
         |  SELECT event_id, epoch_us(ts) AS us FROM events),
         |rp AS (
         |  SELECT event_id,
         |    ${Hashing.duckHash64("concat_ws('|', CAST(event_id AS VARCHAR), 'd')")}
         |      % $MaxDelayS + 1 AS delay_s
         |  FROM ev
         |  WHERE ${Hashing.duckHash64("CAST(event_id AS VARCHAR)")}
         |    % $RedeliverMod = 0),
         |rs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_replays FROM rp),
         |es AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         |    (MAX(us) - MIN(us)) // 1000000 AS span_s FROM ev),
         |c AS (
         |  SELECT w_s, CAST(SUM(CASE WHEN delay_s <= w_s THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_caught
         |  FROM rp CROSS JOIN (SELECT unnest([${Windows.mkString(", ")}]) AS w_s) w
         |  GROUP BY 1)
         |SELECT w_s, n_replays, n_caught,
         |  n_replays - n_caught AS n_leaked,
         |  ((n_replays - n_caught) * $Fx) // n_replays AS leak_fx,
         |  (n_events * w_s) // span_s AS state_rows
         |FROM c CROSS JOIN rs CROSS JOIN es ORDER BY w_s""".stripMargin,

    "q62_linear_attribution" ->
      s"""WITH p AS (
         |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us,
         |    CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |cl AS (
         |  SELECT user_id, epoch_us(ts) AS c_us
         |  FROM events WHERE event_type = 'click'),
         |t AS (
         |  SELECT p.p_id, p.cents, cl.c_us,
         |    cl.c_us IS NOT NULL AND cl.c_us < p.p_us
         |      AND cl.c_us >= p.p_us - ${LookbackS * 1000000L} AS is_touch
         |  FROM p LEFT JOIN cl ON p.user_id = cl.user_id),
         |pc AS (
         |  SELECT p_id, cents,
         |    CAST(SUM(CASE WHEN is_touch THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_touches
         |  FROM t GROUP BY 1, 2),
         |cr AS (
         |  SELECT CAST(((t.c_us // 3600000000) % 24 + 24) % 24 AS INT) AS hour,
         |    CAST(COUNT(*) AS BIGINT) AS n_touches,
         |    CAST(SUM(t.cents // pc.n_touches) AS BIGINT) AS credited_cents
         |  FROM t JOIN pc USING (p_id) WHERE t.is_touch
         |  GROUP BY 1),
         |nt AS (
         |  SELECT CAST(-1 AS INT) AS hour,
         |    CAST(COUNT(*) AS BIGINT) AS n_touches,
         |    CAST(SUM(cents) AS BIGINT) AS credited_cents
         |  FROM pc WHERE n_touches = 0)
         |SELECT * FROM (
         |  SELECT * FROM cr UNION ALL SELECT * FROM nt)
         |WHERE n_touches > 0 ORDER BY hour""".stripMargin)
}
