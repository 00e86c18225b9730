package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-5 tenth wave: sequence-length bucketing for batch packing
  * (pk09), weekly demand seasonality (q44), and the Zipf rank-octave
  * census (tx21).
  *
  * Posture notes: pk09 and tx21 use an integer-exact floor-log2
  * (`length(bin(n)) - 1` — both engines print binary without leading
  * zeros), never libm `log`, so the bucket key is engine-proof; q44's
  * day-of-week/hour come from epoch-microsecond integer arithmetic,
  * not calendar functions, because Spark (1=Sunday) and DuckDB
  * (0=Sunday) disagree on the convention. All three are single
  * hash-aggregates over the facts with windows/broadcasts only on
  * bounded group tables (buckets, types×168 cells, rank octaves).
  */
object Round5j extends Operators {

  /** Fixed-point scale shared by the share/ratio columns. */
  private val Fx = 1000000L

  /** Integer-exact floor(log2(n)) for n >= 1. */
  private def log2floor(n: org.apache.spark.sql.Column) =
    (length(bin(n.cast("long"))) - 1).cast("int")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk09: power-of-2 length bucketing ----------------------------
    // Trainers batch fixed-length sequences; padding every doc to the
    // GLOBAL max burns compute, padding to a power-of-2 bucket cap
    // recovers most of it without dynamic shapes. Per bucket
    // (2^k <= n_tokens < 2^(k+1)): docs, real tokens, observed cap,
    // the bucket's own pad-waste, and the fixed-point share of pad
    // tokens saved vs padding to the global max. One hash aggregate
    // over the corpus; the global max is a 1-row broadcast; the
    // bucket table is ~log2(max_len) rows.
    "pk09_length_buckets" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
        .filter(col("n") > 0)
        .withColumn("bucket", log2floor(col("n")))
      val g = docs.agg(max(col("n")).as("gmax"))
      docs.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("long").as("sum_tokens"),
          max(col("n")).as("cap_tokens"))
        .crossJoin(broadcast(g))
        .withColumn("bucket_waste_fx",
          expr(s"((n_docs * cap_tokens - sum_tokens) * $Fx) div (n_docs * cap_tokens)"))
        .withColumn("saved_vs_global_fx",
          expr(s"((n_docs * (gmax - cap_tokens)) * $Fx) div (n_docs * gmax)"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          col("cap_tokens"), col("bucket_waste_fx"), col("saved_vs_global_fx"))
        .orderBy(col("bucket"))
    },

    // --- q44: weekly seasonality profile ------------------------------
    // Capacity planning reads demand as a (day-of-week × hour) grid
    // per event type. Both keys derive from epoch microseconds
    // (1970-01-01 was a Thursday → +4, 0=Sunday), so the grid is
    // integer arithmetic end-to-end. One hash aggregate over events;
    // the share window runs on the bounded |types|×168 cell table.
    "q44_hour_seasonality" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
      Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
        .withColumn("dow", expr(
          s"((${graft.functions.Det.truncDiv("us", 86400000000L)} + 4) % 7 + 7) % 7").cast("int"))
        .withColumn("hour", expr("(((us % 86400000000) + 86400000000) % 86400000000) div 3600000000").cast("int"))
        .groupBy(col("event_type"), col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(w))
        .withColumn("share_fx", expr(s"(n * $Fx) div total"))
        .select(col("event_type"), col("dow"), col("hour"), col("n"), col("share_fx"))
        .orderBy(col("event_type"), col("dow"), col("hour"))
    },

    // --- tx21: Zipf rank-octave census --------------------------------
    // Natural corpora follow Zipf's law (freq ∝ 1/rank): the token
    // mass in each rank octave [2^k, 2^(k+1)) is then roughly
    // constant, and a synthetic or templated corpus shows up as a
    // decay curve that is anything but flat. Scale posture: tokens in
    // the same frequency class are interchangeable for octave
    // counting, so NO per-token rank is ever materialized — the vocab
    // (one hash aggregate over exploded tokens) folds again to
    // per-frequency class counts (a table bounded by the number of
    // DISTINCT frequencies, O(√corpus) under Zipf), a prefix sum over
    // that bounded table assigns each class its rank range
    // [off+1, off+cnt], and each class's range is intersected with
    // the ~log2|V| power-of-two octaves by pure interval arithmetic
    // (a ≤log2|V|-element sequence explode). The round-5 global
    // row_number this replaced funneled the whole vocabulary through
    // one task; this form's only unpartitioned window runs on the
    // distinct-frequency table. Output is bit-identical: octave
    // membership depends only on the rank RANGE, not the (freq desc,
    // tok) tie order inside a class.
    "tx21_zipf_octaves" -> { (s, d) =>
      val vocab = Tables.documents(s, d)
        .select(explode_outer(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val classes = vocab.groupBy(col("freq"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val ranged = classes
        .withColumn("endr",
          sum(col("cnt")).over(Window.orderBy(col("freq").desc)).cast("long"))
        .withColumn("startr", col("endr") - col("cnt") + 1L)
      val oct = ranged
        .select(col("freq"), col("startr"), col("endr"),
          explode(sequence(log2floor(col("startr")), log2floor(col("endr")))).as("octave"))
        .withColumn("lo", greatest(col("startr"), expr("shiftleft(cast(1 as bigint), octave)")))
        .withColumn("hi", least(col("endr"),
          expr("shiftleft(cast(1 as bigint), octave + 1) - 1")))
        .withColumn("n_in", col("hi") - col("lo") + 1L)
        .groupBy(col("octave"))
        .agg(sum(col("n_in")).cast("long").as("n_toks"),
          sum(col("n_in") * col("freq")).cast("long").as("mass"))
      val t = oct.agg(sum(col("mass")).cast("long").as("total"))
      oct.crossJoin(broadcast(t))
        .withColumn("prev_mass", lag(col("mass"), 1).over(Window.orderBy(col("octave"))))
        .withColumn("share_fx", expr(s"(mass * $Fx) div total"))
        .withColumn("decay_fx", expr(s"(mass * $Fx) div prev_mass"))
        .select(col("octave"), col("n_toks"), col("mass"),
          col("share_fx"), col("decay_fx"))
        .orderBy(col("octave"))
    })

  def oracles: Map[String, String] = Map(
    "pk09_length_buckets" ->
      s"""WITH d AS (
         |  SELECT CAST(len(${Dedup.duckToks}) AS BIGINT) AS n FROM documents
         |  WHERE len(${Dedup.duckToks}) > 0),
         |b AS (SELECT n, CAST(length(bin(n)) - 1 AS INTEGER) AS bucket FROM d),
         |g AS (SELECT MAX(n) AS gmax FROM b),
         |a AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n) AS BIGINT) AS sum_tokens, MAX(n) AS cap_tokens
         |  FROM b GROUP BY bucket)
         |SELECT bucket, n_docs, sum_tokens, cap_tokens,
         |  ((n_docs * cap_tokens - sum_tokens) * $Fx) // (n_docs * cap_tokens)
         |    AS bucket_waste_fx,
         |  ((n_docs * (gmax - cap_tokens)) * $Fx) // (n_docs * gmax)
         |    AS saved_vs_global_fx
         |FROM a CROSS JOIN g ORDER BY bucket""".stripMargin,

    "q44_hour_seasonality" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |    CAST(((epoch_us(ts) // 86400000000 + 4) % 7 + 7) % 7 AS INTEGER) AS dow,
         |    CAST((((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
         |      // 3600000000 AS INTEGER) AS hour
         |  FROM events),
         |c AS (
         |  SELECT event_type, dow, hour, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM e GROUP BY event_type, dow, hour)
         |SELECT event_type, dow, hour, n,
         |  CAST((n * $Fx) // SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
         |    AS share_fx
         |FROM c ORDER BY event_type, dow, hour""".stripMargin,

    "tx21_zipf_octaves" ->
      s"""WITH v AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  WHERE tok IS NOT NULL AND tok <> '' GROUP BY tok),
         |r AS (
         |  SELECT freq,
         |    CAST(length(bin(ROW_NUMBER() OVER (ORDER BY freq DESC, tok))) - 1
         |      AS INTEGER) AS octave
         |  FROM v),
         |o AS (
         |  SELECT octave, CAST(COUNT(*) AS BIGINT) AS n_toks,
         |    CAST(SUM(freq) AS BIGINT) AS mass
         |  FROM r GROUP BY octave),
         |t AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM o)
         |SELECT octave, n_toks, mass,
         |  (mass * $Fx) // total AS share_fx,
         |  (mass * $Fx) // LAG(mass) OVER (ORDER BY octave) AS decay_fx
         |FROM o CROSS JOIN t ORDER BY octave""".stripMargin)
}
