package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 forty-fifth wave: conversion-latency percentiles (ev65)
  * and source-level sketch mergeability (dd35).
  *
  * Posture notes: ev65 reuses q43's histogram-CDF percentile recipe
  * (per-cohort partitioned windows over the bounded latency
  * histogram, no row-level sort). dd35's merged signatures are ONE
  * map-side-combinable fold of the (source, shingle) table — the
  * sketch-algebra point: a source's signature is the min-merge of
  * its documents', so corpus-level similarity costs |sources|·k
  * state, not a gram join; the exact arm (dd16's equi-join) is kept
  * only as the measured error reference.
  */
object Round6as extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev65: conversion latency percentiles ----------------------------
    // Product analytics' time-to-convert: per signup cohort month,
    // users converting (first purchase after first signup), and the
    // exact p50/p90 latency hours via the histogram-CDF recipe —
    // plus the conversion share. The funnel pair is one user-keyed
    // fold; percentiles never sort rows.
    "ev65_conversion_latency" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val firsts = ev
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup",
            expr("unix_micros(ts)"))).as("s_us"),
          min(when(col("event_type") === "purchase",
            expr("unix_micros(ts)"))).as("p_us"))
        .filter(col("s_us").isNotNull)
        .withColumn("cohort",
          date_trunc("month", timestamp_micros(col("s_us"))))
        .withColumn("converted",
          col("p_us").isNotNull && col("p_us") >= col("s_us"))
        .withColumn("lat_h",
          when(col("converted"),
            expr(Det.truncDiv("p_us - s_us", 3600000000L))))
      val hist = firsts.filter(col("converted"))
        .groupBy(col("cohort"), col("lat_h"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("cohort")).orderBy(col("lat_h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("cohort"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val pct = hist
        .withColumn("cum", sum(col("cnt")).over(wCum).cast("long"))
        .withColumn("n", sum(col("cnt")).over(wAll).cast("long"))
        .groupBy(col("cohort"))
        .agg(
          min(when(col("cum") * 100 >= col("n") * 50, col("lat_h"))).as("p50_h"),
          min(when(col("cum") * 100 >= col("n") * 90, col("lat_h"))).as("p90_h"))
      val coh = firsts.groupBy(col("cohort"))
        .agg(count(lit(1)).cast("long").as("n_signups"),
          sum(when(col("converted"), 1L).otherwise(0L)).cast("long")
            .as("n_converted"))
      coh.join(pct, Seq("cohort"), "left")
        .withColumn("convert_fx", expr(s"(n_converted * $Fx) div n_signups"))
        .select(col("cohort"), col("n_signups"), col("n_converted"),
          col("convert_fx"), col("p50_h"), col("p90_h"))
        .orderBy(col("cohort"))
    },

    // --- dd35: source-level sketch mergeability --------------------------
    // The algebra that makes MinHash production-grade: a source's
    // signature is the component-wise MIN of its documents' — so
    // corpus-level similarity needs |sources|·16 longs of state, not
    // a gram join. Per source pair: the sketch-estimated Jaccard
    // (agreeing components / 16) vs dd16-style exact, and the error
    // — mergeability priced on real data.
    "dd35_source_sketch" -> { (s, d) =>
      // NOT scatterBy'd (r13 opt, measured negative): pinning the
      // distinct at full parallelism read 1.59 → 2.02/1.75 s in an
      // alternating A/B — the 16-hash fold over the cached table is
      // lighter than 32-task scheduling across this query's stages.
      val sg = Dedup.barrier(Tables.documents(s, d)
        .withColumn("toks", TextAnalysis.tokens(col("text")))
        .filter(size(col("toks")) >= 3)
        .select(col("source"),
          explode(Dedup.shingleHashes(col("toks"))).as("sh"))
        .distinct())
      val sigs = sg.groupBy(col("source"))
        .agg(array((0 until Dedup.MinhashK).map(k =>
          min((lit(Dedup.A(k)) * pmod(col("sh"), lit(4294967296L))
            + lit(Dedup.B(k))) % lit(Dedup.P))): _*).as("sig"),
          count(lit(1)).cast("long").as("n_grams"))
      val pairs = sigs.select(col("source").as("source_a"),
          col("sig").as("sig_a"), col("n_grams").as("n_a"))
        .crossJoin(broadcast(sigs.select(col("source").as("source_b"),
          col("sig").as("sig_b"), col("n_grams").as("n_b"))))
        .filter(col("source_a") < col("source_b"))
        .withColumn("agree", aggregate(
          zip_with(col("sig_a"), col("sig_b"), (a, b) =>
            when(a === b, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x))
        .withColumn("est_fx", expr(s"(agree * $Fx) div ${Dedup.MinhashK}"))
      val shared = sg.select(col("sh"), col("source").as("source_a"))
        .join(sg.select(col("sh"), col("source").as("source_b")), Seq("sh"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
      pairs.join(shared, Seq("source_a", "source_b"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .withColumn("exact_fx",
          expr(s"(n_shared * $Fx) div (n_a + n_b - n_shared)"))
        .withColumn("err_fx", abs(col("est_fx") - col("exact_fx")))
        .select(col("source_a"), col("source_b"), col("est_fx"),
          col("exact_fx"), col("err_fx"))
        .orderBy(col("source_a"), col("source_b"))
    })

  def oracles: Map[String, String] = Map(
    "ev65_conversion_latency" ->
      s"""WITH f AS (
         |  SELECT user_id,
         |    MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
         |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
         |  FROM events GROUP BY 1),
         |t AS (
         |  SELECT date_trunc('month', make_timestamp(s_us)) AS cohort,
         |    p_us IS NOT NULL AND p_us >= s_us AS converted,
         |    CASE WHEN p_us IS NOT NULL AND p_us >= s_us
         |      THEN (p_us - s_us) // 3600000000 END AS lat_h
         |  FROM f WHERE s_us IS NOT NULL),
         |hist AS (
         |  SELECT cohort, lat_h, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM t WHERE converted GROUP BY 1, 2),
         |cdf AS (
         |  SELECT cohort, lat_h,
         |    SUM(cnt) OVER (PARTITION BY cohort ORDER BY lat_h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(cnt) OVER (PARTITION BY cohort) AS n
         |  FROM hist),
         |pct AS (
         |  SELECT cohort,
         |    MIN(CASE WHEN cum * 100 >= n * 50 THEN lat_h END) AS p50_h,
         |    MIN(CASE WHEN cum * 100 >= n * 90 THEN lat_h END) AS p90_h
         |  FROM cdf GROUP BY 1),
         |coh AS (
         |  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_signups,
         |    CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_converted
         |  FROM t GROUP BY 1)
         |SELECT coh.cohort, n_signups, n_converted,
         |  (n_converted * $Fx) // n_signups AS convert_fx, p50_h, p90_h
         |FROM coh LEFT JOIN pct ON coh.cohort = pct.cohort
         |ORDER BY coh.cohort""".stripMargin,

    "dd35_source_sketch" -> {
      val sigExprs = (0 until Dedup.MinhashK).map(k =>
        s"MIN((${Dedup.A(k)} * (sh % 4294967296) + ${Dedup.B(k)}) % ${Dedup.P}) AS sig_$k")
        .mkString(",\n    ")
      val agree = (0 until Dedup.MinhashK).map(k =>
        s"CASE WHEN a.sig_$k = b.sig_$k THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sg AS (
         |  SELECT DISTINCT source, sh FROM (
         |    SELECT source, unnest(${Dedup.duckShs}) AS sh
         |    FROM documents WHERE len(${Dedup.duckToks}) >= 3)),
         |sigs AS (
         |  SELECT source,
         |    $sigExprs,
         |    CAST(COUNT(*) AS BIGINT) AS n_grams
         |  FROM sg GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST($agree AS BIGINT) AS agree,
         |    a.n_grams AS n_a, b.n_grams AS n_b
         |  FROM sigs a JOIN sigs b ON a.source < b.source),
         |sh AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM sg a JOIN sg b ON a.sh = b.sh AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT p.source_a, p.source_b,
         |  (agree * $Fx) // ${Dedup.MinhashK} AS est_fx,
         |  (COALESCE(n_shared, 0) * $Fx) // (n_a + n_b - COALESCE(n_shared, 0))
         |    AS exact_fx,
         |  abs((agree * $Fx) // ${Dedup.MinhashK}
         |    - (COALESCE(n_shared, 0) * $Fx)
         |      // (n_a + n_b - COALESCE(n_shared, 0))) AS err_fx
         |FROM pairs p LEFT JOIN sh
         |  ON p.source_a = sh.source_a AND p.source_b = sh.source_b
         |ORDER BY p.source_a, p.source_b""".stripMargin
    })
}
