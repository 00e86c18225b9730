package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 eighth wave: the streaming as-of path gated end-to-end
  * (ev45) and tokenizer fertility (pk14).
  *
  * Posture notes: ev45 promotes the spec-only StreamJobs.streamAsOf
  * component into the oracle gate — O(keys) carried-version state,
  * exactly the reference's enrich-with-state-known-at-delivery-time
  * semantics; pk14 is one narrow scan folding both tokenizations per
  * doc map-side.
  */
object Round6h extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev45: streaming as-of enrichment, oracle-gated ----------------
    // ev15 gates the BATCH as-of (custom AsOfJoinExec); this drives
    // the STREAMING carry-forward (flatMapGroupsWithState, one
    // carried version per user — the reference's in-memory metadata
    // cache bound) over the same click/purchase feed and folds the
    // enriched stream to a per-user census: purchases, enriched
    // purchases, and the micro-unit sum of enriched values. The
    // DuckDB oracle is a native ASOF JOIN — so the gate proves the
    // stateful streaming path computes the exact batch semantics.
    "ev45_stream_asof_census" -> { (s, d) =>
      import graft.streaming.StreamJobs
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id").as("k"),
          expr("unix_micros(ts)").as("ts"),
          when(col("event_type") === "click", 0).otherwise(1).as("side"),
          when(col("event_type") === "click", col("value"))
            .otherwise(lit(null).cast("double")).as("v"))
        .as[StreamJobs.AsOfIn]
      val out = StreamJobs.streamAsOf(feed)
      val snap = StreamJobs.runMemorySnapshot(out.toDF(), "graft_ev45_mem", "append")
      snap.groupBy(col("k").as("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("asof_v").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_enriched"),
          coalesce(sum(when(col("asof_v").isNotNull,
            floor(col("asof_v") * 1000000).cast("long")).otherwise(0L)), lit(0L))
            .cast("long").as("sum_value_micro"))
        .orderBy(col("user_id"))
    },

    // --- pk14: tokenizer fertility ------------------------------------
    // The tokenizer-eval number every corpus report carries: BPE-ish
    // subword tokens per whitespace word (fertility), per language.
    // High fertility = the tokenizer fragments that language's text
    // (spending context budget); the census prices it per lang from
    // ONE narrow scan folding both tokenizations map-side — no
    // shuffle beyond the langs-sized aggregate.
    "pk14_tokenizer_fertility" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("ws"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).cast("long").as("ws_tokens"),
          sum(col("bpe")).cast("long").as("bpe_tokens"))
        .withColumn("fertility_fx", expr(s"(bpe_tokens * $Fx) div ws_tokens"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          col("fertility_fx"))
        .orderBy(col("lang"))
    })

  def oracles: Map[String, String] = Map(
    "ev45_stream_asof_census" ->
      """WITH j AS (
        |  SELECT l.user_id, r.value AS asof_value
        |  FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') l
        |  ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |                  WHERE event_type = 'click') r
        |    ON l.user_id = r.user_id AND r.ts <= l.ts)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CASE WHEN asof_value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_enriched,
        |  CAST(COALESCE(SUM(CASE WHEN asof_value IS NOT NULL
        |    THEN CAST(floor(asof_value * 1000000) AS BIGINT) ELSE 0 END), 0)
        |    AS BIGINT) AS sum_value_micro
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,

    "pk14_tokenizer_fertility" ->
      s"""WITH b AS (
         |  SELECT lang, CAST(len(${Dedup.duckToks}) AS BIGINT) AS ws,
         |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         |      AS BIGINT) AS bpe
         |  FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
         |  (CAST(SUM(bpe) AS BIGINT) * $Fx) // CAST(SUM(ws) AS BIGINT)
         |    AS fertility_fx
         |FROM b GROUP BY lang ORDER BY lang""".stripMargin)
}
