package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 fourteenth wave: cascaded backlog propagation (ev78),
  * token burstiness census (tx39), budgeted mixture waterfill (pk24).
  *
  * ev78 extends ev76's single-queue Lindley trajectory to the shape
  * real ingestion has — a CHAIN (broker → writer): stage-2 arrivals
  * are stage-1 departures (conservation: d_t = a_t + B1_{t−1} − B1_t),
  * and the whole cascade stays in closed form — two stacked
  * prefix-sum/prefix-min windows over the same (type, hour) grid, no
  * recursion, no driver loop. The documented insight: stage 1 SMOOTHES
  * (departures are capped at c1), so stage 2's backlog is driven by
  * the c1→c2 capacity gap, not by raw arrival bursts.
  */
object Round8n extends Operators {

  private val Fx = 10000L

  /** pk24: token budget as a share of the corpus (30%). */
  private val BudgetPct = 30L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev78: two-stage backlog cascade ------------------------------
    "ev78_stage_cascade" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      val counts = Dedup.barrier(ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n_events")))
      val hours = counts.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("h"))
      val grid = hours.crossJoin(counts.select(col("event_type")).distinct())
      // stage-1 cap: 10% headroom over the mean rate; stage-2: 5% —
      // the writer is the tighter tier, as deployments usually are
      val cap = counts.groupBy(col("event_type"))
        .agg(sum(col("n_events")).as("total"))
        .crossJoin(broadcast(hours.agg(count(lit(1)).as("n_hours"))))
        .select(col("event_type"),
          expr("(total * 11) div (10 * n_hours)").as("c1"),
          expr("(total * 21) div (20 * n_hours)").as("c2"))
      val filled = grid.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n_events"), lit(0L)).as("a"))
        .join(cap, Seq("event_type"))
      val run = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ord = Window.partitionBy(col("event_type")).orderBy(col("h"))
      // stage 1: B1_t = S_t − min(0, min_{j≤t} S_j), S = Σ(a − c1);
      // departures by conservation, then stage 2 re-runs the same
      // algebra on d — all in the SAME two-window pass
      val casc = filled
        .withColumn("s1", sum(col("a") - col("c1")).over(run))
        .withColumn("b1", col("s1") - least(min(col("s1")).over(run), lit(0L)))
        .withColumn("dep",
          col("a") + coalesce(lag(col("b1"), 1).over(ord), lit(0L)) - col("b1"))
        .withColumn("s2", sum(col("dep") - col("c2")).over(run))
        .withColumn("b2", col("s2") - least(min(col("s2")).over(run), lit(0L)))
      casc.groupBy(col("event_type"))
        .agg(min(col("c1")).cast("long").as("cap_stage1"),
          min(col("c2")).cast("long").as("cap_stage2"),
          sum(col("a")).cast("long").as("total_arrivals"),
          sum(col("dep")).cast("long").as("total_departures"),
          max(col("b1")).cast("long").as("peak_b1"),
          max(col("b2")).cast("long").as("peak_b2"),
          sum(when(col("b2") > 0, 1L).otherwise(0L)).cast("long")
            .as("hours_b2"),
          expr("max_by(b2, h)").cast("long").as("end_b2"))
        .orderBy(col("event_type"))
    },

    // --- tx39: token burstiness census --------------------------------
    // Church–Gale burstiness: tf/df — how many times a token repeats
    // per document that contains it. Content words are bursty
    // (tf/df ≫ 1), function words are not; a templated corpus shows
    // inflated burstiness in mid-frequency octaves. Vocab-sized
    // state: ONE fact aggregate to (token, tf, df), then an
    // octave-of-tf census — integer fixed-point throughout.
    "tx39_burstiness" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
      val stats = tok.groupBy(col("tok"))
        .agg(count(lit(1)).cast("long").as("tf"),
          countDistinct(col("doc_id")).cast("long").as("df"))
        .withColumn("burst_fx", expr(s"(tf * $Fx) div df"))
      stats
        .withColumn("octave", (length(bin(col("tf"))) - 1).cast("long"))
        .groupBy(col("octave"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          expr(s"sum(burst_fx) div count(1)").cast("long")
            .as("mean_burst_fx"),
          max(col("burst_fx")).cast("long").as("max_burst_fx"),
          sum(when(col("burst_fx") >= 2 * Fx, 1L).otherwise(0L)).cast("long")
            .as("n_bursty"))
        .orderBy(col("octave"))
    },

    // --- pk24: budgeted mixture waterfill -----------------------------
    // The curation-planning step after scoring: a token budget (30% of
    // the corpus) fills from the highest-quality source down — quality
    // here is source-level type-token ratio (lexical diversity), ties
    // broken by source id. Greedy waterfill in closed form: one
    // window cumsum over the |sources|-row table; allocated =
    // clamp(budget − cum_before, 0, source_tokens).
    "pk24_budget_waterfill" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
      val bySrc = tok.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("src_tokens"),
          countDistinct(col("tok")).cast("long").as("distinct_toks"))
        .withColumn("ttr_fx", expr(s"(distinct_toks * $Fx) div src_tokens"))
      val tot = bySrc.agg(sum(col("src_tokens")).as("corpus_tokens"))
        .select(expr(s"(corpus_tokens * $BudgetPct) div 100").as("budget"))
      val ord = Window.orderBy(col("ttr_fx").desc, col("source"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bySrc.crossJoin(broadcast(tot))
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("cum_before",
          sum(col("src_tokens")).over(run) - col("src_tokens"))
        .withColumn("allocated", greatest(lit(0L),
          least(col("src_tokens"), col("budget") - col("cum_before"))))
        .select(col("rank"), col("source"), col("src_tokens"), col("ttr_fx"),
          col("allocated"),
          expr(s"(allocated * $Fx) div budget").as("budget_share_fx"))
        .orderBy(col("rank"))
    })

  def oracles: Map[String, String] = Map(
    "ev78_stage_cascade" ->
      s"""WITH counts AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM counts),
         |hours AS (
         |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
         |  FROM bounds),
         |nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours FROM hours),
         |cap AS (
         |  SELECT event_type,
         |    (CAST(SUM(n_events) AS BIGINT) * 11) // (10 * n_hours) AS c1,
         |    (CAST(SUM(n_events) AS BIGINT) * 21) // (20 * n_hours) AS c2
         |  FROM counts CROSS JOIN nh GROUP BY event_type, n_hours),
         |grid AS (
         |  SELECT t.event_type, hours.h
         |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM counts) t),
         |filled AS (
         |  SELECT g.event_type, g.h, COALESCE(c.n_events, 0) AS a,
         |    cap.c1, cap.c2
         |  FROM grid g
         |  LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
         |  JOIN cap ON g.event_type = cap.event_type),
         |st1 AS (
         |  SELECT *, SUM(a - c1) OVER w AS s1 FROM filled
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |b1t AS (
         |  SELECT *, s1 - LEAST(MIN(s1) OVER w, 0) AS b1 FROM st1
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |dept AS (
         |  SELECT *, a + COALESCE(LAG(b1, 1) OVER
         |    (PARTITION BY event_type ORDER BY h), 0) - b1 AS dep
         |  FROM b1t),
         |st2 AS (
         |  SELECT *, SUM(dep - c2) OVER w AS s2 FROM dept
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |b2t AS (
         |  SELECT *, s2 - LEAST(MIN(s2) OVER w, 0) AS b2 FROM st2
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_type,
         |  CAST(MIN(c1) AS BIGINT) AS cap_stage1,
         |  CAST(MIN(c2) AS BIGINT) AS cap_stage2,
         |  CAST(SUM(a) AS BIGINT) AS total_arrivals,
         |  CAST(SUM(dep) AS BIGINT) AS total_departures,
         |  CAST(MAX(b1) AS BIGINT) AS peak_b1,
         |  CAST(MAX(b2) AS BIGINT) AS peak_b2,
         |  CAST(SUM(CASE WHEN b2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hours_b2,
         |  CAST(max_by(b2, h) AS BIGINT) AS end_b2
         |FROM b2t GROUP BY event_type ORDER BY event_type""".stripMargin,

    "tx39_burstiness" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${Dedup.duckToks}) AS tok FROM documents),
         |stats AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tok GROUP BY tok),
         |b AS (
         |  SELECT CAST(length(bin(tf)) - 1 AS BIGINT) AS octave,
         |    (tf * $Fx) // df AS burst_fx
         |  FROM stats)
         |SELECT octave, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(CAST(SUM(burst_fx) AS BIGINT) // COUNT(*) AS BIGINT)
         |    AS mean_burst_fx,
         |  CAST(MAX(burst_fx) AS BIGINT) AS max_burst_fx,
         |  CAST(SUM(CASE WHEN burst_fx >= ${2 * Fx} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bursty
         |FROM b GROUP BY octave ORDER BY octave""".stripMargin,

    "pk24_budget_waterfill" ->
      s"""WITH tok AS (
         |  SELECT source, unnest(${Dedup.duckToks}) AS tok FROM documents),
         |bysrc AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS src_tokens,
         |    CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_toks
         |  FROM tok GROUP BY source),
         |q AS (
         |  SELECT source, src_tokens,
         |    (distinct_toks * $Fx) // src_tokens AS ttr_fx
         |  FROM bysrc),
         |tot AS (
         |  SELECT (CAST(SUM(src_tokens) AS BIGINT) * $BudgetPct) // 100
         |    AS budget FROM q),
         |r AS (
         |  SELECT *, CAST(row_number() OVER w AS BIGINT) AS rank,
         |    SUM(src_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) - src_tokens AS cum_before
         |  FROM q CROSS JOIN tot
         |  WINDOW w AS (ORDER BY ttr_fx DESC, source))
         |SELECT rank, source, src_tokens, CAST(ttr_fx AS BIGINT) AS ttr_fx,
         |  CAST(GREATEST(0, LEAST(src_tokens, budget - cum_before))
         |    AS BIGINT) AS allocated,
         |  CAST(GREATEST(0, LEAST(src_tokens, budget - cum_before)) * $Fx
         |    // budget AS BIGINT) AS budget_share_fx
         |FROM r ORDER BY rank""".stripMargin)
}
