package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 twenty-fifth wave: sentence-shape statistics (tx30) and
  * per-partition watermark skew (ev56).
  *
  * Posture notes: tx30 is one narrow scan (regex split, per-row
  * arithmetic) + one aggregate; ev56 folds the stream to per-
  * partition max event times (a |partitions|-row table) and compares
  * against the global tip broadcast.
  */
object Round6y extends Operators {

  private val Fx = 1000000L

  /** ev56's partition count (the topic layout under audit). */
  private val NParts = 8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- tx30: sentence-shape census ------------------------------------
    // Gopher's sentence rules read the sentence-length distribution;
    // this measures it: per lang, docs, sentences, mean tokens per
    // sentence, and the share of docs whose mean sentence length
    // falls outside the [3, 80]-token sanity band (ultra-choppy
    // listicles and unpunctuated walls both fail it). Sentences =
    // non-empty [.!?]-terminated spans; token counts reuse the
    // shared whitespace tokenization.
    "tx30_sentence_stats" -> { (s, d) =>
      val sentences = filter(split(col("text"), "[.!?]+"), x => trim(x) =!= "")
      val base = Tables.documents(s, d)
        .select(col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
          coalesce(size(sentences), lit(0)).cast("long").as("n_sents"))
        .filter(col("n_sents") > 0)
        // mean sentence tokens per doc in fixed point — integer
        // division matches on both engines
        .withColumn("mean_sent_fx", expr(s"(n_tokens * $Fx) div n_sents"))
      base.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_sents")).cast("long").as("n_sentences"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          sum(when(col("mean_sent_fx") < 3L * Fx ||
            col("mean_sent_fx") > 80L * Fx, 1L).otherwise(0L))
            .cast("long").as("docs_outside_band"))
        .withColumn("mean_sent_tokens_fx", expr(s"(n_tokens * $Fx) div n_sentences"))
        .withColumn("outside_share_fx", expr(s"(docs_outside_band * $Fx) div n_docs"))
        .orderBy(col("lang"))
    },

    // --- ev56: per-partition watermark skew ------------------------------
    // A stream's watermark is the MINIMUM of its partitions' event-
    // time frontiers, so one stalled partition stalls every window
    // downstream. Per partition (user-hash layout): records, frontier
    // (max event time), lag behind the global tip, and whether it
    // holds the watermark back more than 5 minutes — the page that
    // tells an operator WHICH partition to go look at. Per-partition
    // fold + a 1-row global tip broadcast.
    "ev56_partition_watermark_skew" -> { (s, d) =>
      val parts = Tables.events(s, d)
        .select(pmod(col("user_id"), lit(NParts.toLong)).as("part_id"),
          expr("unix_micros(ts)").as("us"))
        .groupBy(col("part_id"))
        .agg(count(lit(1)).cast("long").as("n_records"),
          max(col("us")).as("frontier_us"))
      val tip = parts.agg(max(col("frontier_us")).as("tip_us"))
      parts.crossJoin(broadcast(tip))
        .withColumn("lag_sec", expr("(tip_us - frontier_us) div 1000000"))
        .withColumn("stalls_watermark", col("lag_sec") > 300L)
        .select(col("part_id"), col("n_records"), col("frontier_us"),
          col("lag_sec"), col("stalls_watermark"))
        .orderBy(col("part_id"))
    })

  def oracles: Map[String, String] = Map(
    "tx30_sentence_stats" ->
      s"""WITH b AS (
         |  SELECT lang,
         |    CAST(len(${Dedup.duckToks}) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
         |      x -> trim(x) <> '')) AS BIGINT) AS n_sents
         |  FROM documents),
         |f AS (
         |  SELECT lang, n_tokens, n_sents,
         |    (n_tokens * $Fx) // n_sents AS mean_sent_fx
         |  FROM b WHERE n_sents > 0)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_sents) AS BIGINT) AS n_sentences,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN mean_sent_fx < ${3L * Fx}
         |    OR mean_sent_fx > ${80L * Fx} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_outside_band,
         |  (CAST(SUM(n_tokens) AS BIGINT) * $Fx) // CAST(SUM(n_sents) AS BIGINT)
         |    AS mean_sent_tokens_fx,
         |  (CAST(SUM(CASE WHEN mean_sent_fx < ${3L * Fx}
         |    OR mean_sent_fx > ${80L * Fx} THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(COUNT(*) AS BIGINT) AS outside_share_fx
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "ev56_partition_watermark_skew" ->
      s"""WITH p AS (
         |  SELECT user_id % $NParts AS part_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_records,
         |    MAX(epoch_us(ts)) AS frontier_us
         |  FROM events GROUP BY 1),
         |t AS (SELECT MAX(frontier_us) AS tip_us FROM p)
         |SELECT part_id, n_records, frontier_us,
         |  (tip_us - frontier_us) // 1000000 AS lag_sec,
         |  (tip_us - frontier_us) // 1000000 > 300 AS stalls_watermark
         |FROM p CROSS JOIN t ORDER BY part_id""".stripMargin)
}
