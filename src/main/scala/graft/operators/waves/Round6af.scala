package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 thirty-second wave: bitemporal as-of grid (q60) and hapax
  * census (tx32).
  *
  * Posture notes: q60's grid is a compile-time 4×4 of quarter
  * cutoffs — the fact table explodes by at most 16 (bounded fanout),
  * then one aggregate per (user, cell) keyed window-free maximum;
  * never a per-cell pass over the facts. tx32 is the token-frequency
  * fold every tx op shares, cut per language — vocab-sized shuffle,
  * bounded output.
  */
object Round6af extends Operators {

  private val Fx = 1000000L

  /** q60: quarter cutoffs for the transaction (arrival order) and
    * valid (event time) axes — chosen inside the events table's
    * 2024 range so every cell is non-degenerate.
    */
  private val TxQuarters: Seq[Int] = Seq(1, 2, 3, 4)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q60: bitemporal as-of grid --------------------------------------
    // The two-clock reconstruction behind every backfill audit: "as
    // of what we KNEW at transaction time T, what was each user's
    // state at valid time V?" Transaction order = event_id (arrival),
    // valid order = ts. For each (T quarter, V quarter) cell: users
    // with a reconstructed state and their value mass. Late-arriving
    // corrections show up as cells where T < V's own quarter differs
    // from the diagonal — the bitemporal drift a single-clock system
    // cannot even express.
    "q60_bitemporal_grid" -> { (s, d) =>
      // scatter (r13 opt): the 16-cell grid join is a
      // BroadcastNestedLoopJoin with a 16x fanout + per-cell max_by
      // fold, and it inherits the events scan's ONE partition
      // (Probe stage census: a 1.25 s single-task stage = most of the query)
      val ev = graft.core.Par.scatter(Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          expr("unix_micros(ts)").as("us")))
      val bounds = ev.agg(
        min(col("us")).as("vlo"), max(col("us")).as("vhi"),
        min(col("event_id")).as("tlo"), max(col("event_id")).as("thi"))
      // quarter cutoff = lo + q*(span)/4, exclusive upper quarters
      val grid = broadcast(bounds.select(explode(typedLit(TxQuarters)).as("tq"),
          col("tlo"), col("thi"), col("vlo"), col("vhi"))
        .select(col("tq"), explode(typedLit(TxQuarters)).as("vq"),
          expr("tlo + (tq * (thi - tlo)) div 4").as("t_cut"),
          expr("vlo + (vq * (vhi - vlo)) div 4").as("v_cut"))
        .select(col("tq"), col("vq"), col("t_cut"), col("v_cut")))
      ev.join(grid,
          col("event_id") <= col("t_cut") && col("us") <= col("v_cut"))
        .groupBy(col("tq"), col("vq"), col("user_id"))
        .agg(max_by(col("value"), struct(col("us"), col("event_id"))).as("state"))
        .groupBy(col("tq"), col("vq"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("state").cast("decimal(18,6)")).cast("double").as("state_mass"))
        .orderBy(col("tq"), col("vq"))
    },

    // --- tx32: hapax legomena census -------------------------------------
    // The corpus-quality number type counts hide: per language, the
    // vocabulary, its hapax types (frequency exactly 1), the hapax
    // share of the vocabulary and of the token MASS. A high hapax
    // mass share means the long tail is noise (OCR junk, ids); a low
    // one means the corpus repeats itself — both read against tx18's
    // growth curve.
    "tx32_hapax_census" -> { (s, d) =>
      val freq = Tables.documents(s, d)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("freq"))
      freq.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("vocab"),
          sum(when(col("freq") === 1L, 1L).otherwise(0L)).cast("long").as("hapax"),
          sum(col("freq")).cast("long").as("mass"))
        .withColumn("hapax_type_fx", expr(s"(hapax * $Fx) div vocab"))
        .withColumn("hapax_mass_fx", expr(s"(hapax * $Fx) div mass"))
        .select(col("lang"), col("vocab"), col("hapax"), col("mass"),
          col("hapax_type_fx"), col("hapax_mass_fx"))
        .orderBy(col("lang"))
    })

  def oracles: Map[String, String] = Map(
    "q60_bitemporal_grid" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
         |b AS (
         |  SELECT MIN(us) AS vlo, MAX(us) AS vhi,
         |    MIN(event_id) AS tlo, MAX(event_id) AS thi FROM ev),
         |grid AS (
         |  SELECT tq, vq,
         |    tlo + (tq * (thi - tlo)) // 4 AS t_cut,
         |    vlo + (vq * (vhi - vlo)) // 4 AS v_cut
         |  FROM b
         |  CROSS JOIN (SELECT unnest([1,2,3,4]) AS tq) a
         |  CROSS JOIN (SELECT unnest([1,2,3,4]) AS vq) c),
         |st AS (
         |  SELECT tq, vq, user_id, state FROM (
         |    SELECT g.tq, g.vq, e.user_id, e.value AS state,
         |      row_number() OVER (PARTITION BY g.tq, g.vq, e.user_id
         |        ORDER BY e.us DESC, e.event_id DESC) AS rn
         |    FROM ev e JOIN grid g
         |      ON e.event_id <= g.t_cut AND e.us <= g.v_cut)
         |  WHERE rn = 1)
         |SELECT tq, vq, CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(CAST(state AS DECIMAL(18,6))) AS DOUBLE) AS state_mass
         |FROM st GROUP BY 1, 2 ORDER BY tq, vq""".stripMargin,

    "tx32_hapax_census" ->
      s"""WITH f AS (
         |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT lang, unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  GROUP BY 1, 2)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab,
         |  CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  CAST(SUM(freq) AS BIGINT) AS mass,
         |  (CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(COUNT(*) AS BIGINT) AS hapax_type_fx,
         |  (CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(SUM(freq) AS BIGINT) AS hapax_mass_fx
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin)
}
