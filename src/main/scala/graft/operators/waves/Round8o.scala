package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 fifteenth wave: half-life decay scoring (q79), reorder-
  * buffer sizing (ev79), PMI collocations (tx40).
  *
  * q79 is the recency-weighting every feature pipeline applies before
  * training on behavioral data — made integer-exact by using
  * power-of-two decay (weight = Fx >> age_weeks, capped) instead of
  * exp(−λt), so both engines agree bit-for-bit with no libm.
  *
  * ev79 answers the question ev35's inversion census raises but does
  * not price: HOW BIG a reorder buffer releases this stream in event-
  * time order? Occupancy at the k-th in-order release is
  * max_{j≤k} A(j) − k where A(j) is the arrival rank of the j-th
  * event by event time — one running-max window, closed form.
  */
object Round8o extends Operators {

  private val Fx = 10000L

  /** q79: decay cap in weeks (Fx >> 13 = 1, never rounds to zero). */
  private val MaxWeeks = 13

  /** tx40: minimum pair count and report size. */
  private val MinPairCount = 3
  private val TopK = 50

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q79: half-life decay activity scoring ------------------------
    // weight = Fx >> min(age_weeks, 13): a 1-week half-life in pure
    // integer shifts. Per-user scores fold per type, then an octave
    // census keeps the output bounded (|types| × ~14 rows at any SF).
    "q79_halflife_decay" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
      val mx = ev.agg(max(col("day")).as("mxd"))
      val perUser = ev.crossJoin(broadcast(mx))
        .withColumn("w", least(expr("datediff(mxd, day) div 7"),
          lit(MaxWeeks.toLong)))
        .withColumn("wt_fx", expr(s"shiftright($Fx, cast(w AS INT))"))
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("wt_fx")).cast("long").as("score_fx"))
      perUser
        .withColumn("octave", (length(bin(col("score_fx"))) - 1).cast("long"))
        .groupBy(col("event_type"), col("octave"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("score_fx")).cast("long").as("mass_fx"),
          max(col("score_fx")).cast("long").as("max_score_fx"))
        .orderBy(col("event_type"), col("octave"))
    },

    // --- ev79: reorder-buffer sizing -----------------------------------
    // Arrival order is event_id (the producer sequence); event-time
    // order is (ts, event_id) — the same total orders ev35 audits.
    // Occupancy after the k-th in-order release = running max of
    // arrival rank over ts order, minus k. The per-type window sort IS
    // the operator's semantics (an order audit needs a total order per
    // type); state beyond the sort is O(1) per row.
    "ev79_reorder_depth" -> { (s, d) =>
      val byArr = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      val byTs = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val run = Window.partitionBy(col("event_type")).orderBy(col("ts_rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"))
        .withColumn("arr_rank", row_number().over(byArr).cast("long"))
        .withColumn("ts_rank", row_number().over(byTs).cast("long"))
        .withColumn("depth", max(col("arr_rank")).over(run) - col("ts_rank"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          max(col("depth")).cast("long").as("buffer_size"),
          expr(s"sum(depth) * $Fx div count(1)").cast("long")
            .as("mean_depth_fx"),
          sum(when(col("depth") === 0, 1L).otherwise(0L)).cast("long")
            .as("n_drained"))
        .orderBy(col("event_type"))
    },

    // --- tx40: PMI collocations ----------------------------------------
    // Octave-quantized pointwise mutual information over adjacent word
    // pairs: pmi_oct = ⌊log2(c12·N)⌋ − ⌊log2(c1·c2)⌋ via integer bit
    // lengths — exact on both engines, no libm. c1/c2 are positional
    // (first/second-slot) marginals folded from the SAME bigram
    // aggregate, never a second fact pass. Top-50 selection is
    // orderBy+limit (TakeOrdered — no global sort materializes), rank
    // assigned over the 50-row result.
    "tx40_pmi_collocations" -> { (s, d) =>
      val counts = Dedup.barrier(Tables.documents(s, d)
        .withColumn("toks", split(trim(col("text")), "\\s+"))
        .filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).cast("long").as("c12")))
      val n = counts.agg(sum(col("c12")).cast("long").as("n_total"))
      val c1 = counts.groupBy(col("w1"))
        .agg(sum(col("c12")).cast("long").as("c1"))
      val c2 = counts.groupBy(col("w2"))
        .agg(sum(col("c12")).cast("long").as("c2"))
      val top = counts.filter(col("c12") >= MinPairCount)
        .join(c1, Seq("w1")).join(c2, Seq("w2"))
        .crossJoin(broadcast(n))
        .withColumn("pmi_oct",
          ((length(bin(col("c12") * col("n_total"))) - 1)
            - (length(bin(col("c1") * col("c2"))) - 1)).cast("long"))
        .orderBy(col("pmi_oct").desc, col("c12").desc, col("w1"), col("w2"))
        .limit(TopK)
      top.withColumn("rank", row_number().over(Window.orderBy(
          col("pmi_oct").desc, col("c12").desc, col("w1"), col("w2")))
          .cast("long"))
        .select(col("rank"), col("w1"), col("w2"), col("c12"), col("c1"),
          col("c2"), col("pmi_oct"))
        .orderBy(col("rank"))
    })

  def oracles: Map[String, String] = Map(
    "q79_halflife_decay" ->
      s"""WITH ev AS (
         |  SELECT event_type, user_id, CAST(ts AS DATE) AS day FROM events),
         |mx AS (SELECT MAX(day) AS mxd FROM ev),
         |per_user AS (
         |  SELECT event_type, user_id,
         |    CAST(SUM($Fx >> CAST(LEAST(
         |      date_diff('day', day, mxd) // 7, $MaxWeeks) AS INT))
         |      AS BIGINT) AS score_fx
         |  FROM ev CROSS JOIN mx GROUP BY 1, 2)
         |SELECT event_type,
         |  CAST(length(bin(score_fx)) - 1 AS BIGINT) AS octave,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(score_fx) AS BIGINT) AS mass_fx,
         |  CAST(MAX(score_fx) AS BIGINT) AS max_score_fx
         |FROM per_user GROUP BY 1, 2
         |ORDER BY event_type, octave""".stripMargin,

    "ev79_reorder_depth" ->
      s"""WITH ranked AS (
         |  SELECT event_type,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY event_id) AS BIGINT) AS arr_rank,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY ts, event_id) AS BIGINT) AS ts_rank
         |  FROM events),
         |occ AS (
         |  SELECT event_type, ts_rank,
         |    MAX(arr_rank) OVER (PARTITION BY event_type ORDER BY ts_rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - ts_rank AS depth
         |  FROM ranked)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(MAX(depth) AS BIGINT) AS buffer_size,
         |  CAST(CAST(SUM(depth) AS BIGINT) * $Fx // COUNT(*) AS BIGINT)
         |    AS mean_depth_fx,
         |  CAST(SUM(CASE WHEN depth = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_drained
         |FROM occ GROUP BY event_type ORDER BY event_type""".stripMargin,

    "tx40_pmi_collocations" ->
      s"""WITH base AS (
         |  SELECT ${Dedup.duckToks} AS toks FROM documents
         |  WHERE len(${Dedup.duckToks}) >= 2),
         |idx AS (
         |  SELECT toks, unnest(range(len(toks) - 1)) AS i FROM base),
         |counts AS (
         |  SELECT toks[i+1] AS w1, toks[i+2] AS w2,
         |    CAST(COUNT(*) AS BIGINT) AS c12
         |  FROM idx GROUP BY 1, 2),
         |n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_total FROM counts),
         |m1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
         |  FROM counts GROUP BY w1),
         |m2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2
         |  FROM counts GROUP BY w2),
         |scored AS (
         |  SELECT counts.w1, counts.w2, c12, c1, c2,
         |    CAST((length(bin(c12 * n_total)) - 1)
         |      - (length(bin(c1 * c2)) - 1) AS BIGINT) AS pmi_oct
         |  FROM counts
         |  JOIN m1 ON m1.w1 = counts.w1 JOIN m2 ON m2.w2 = counts.w2
         |  CROSS JOIN n WHERE c12 >= $MinPairCount),
         |top AS (
         |  SELECT * FROM scored
         |  ORDER BY pmi_oct DESC, c12 DESC, w1, w2 LIMIT $TopK)
         |SELECT CAST(row_number() OVER (ORDER BY pmi_oct DESC, c12 DESC,
         |    w1, w2) AS BIGINT) AS rank,
         |  w1, w2, c12, c1, c2, pmi_oct
         |FROM top ORDER BY rank""".stripMargin)
}
