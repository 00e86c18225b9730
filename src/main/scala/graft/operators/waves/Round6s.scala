package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 nineteenth wave: the dead-letter replay loop (ev52), the
  * truncate-vs-chunk pricing table (pk16), and the dedup keeper-policy
  * sweep (dd30).
  *
  * Posture notes: ev52 is ev16's single-pass render→extract→validate
  * pipeline with the FIX applied in the same projection (no second
  * pass over the corpus, no DLQ re-scan); pk16 is one narrow scan
  * exploded over four context lengths; dd30 computes all three keeper
  * ranks in one window pass over the per-doc frame and melts policies
  * by a bounded explode.
  */
object Round6s extends Operators {

  private val Fx = 1000000L

  /** pk16's candidate context lengths. */
  private val Ctxs = Seq(512L, 1024L, 2048L, 4096L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev52: dead-letter replay loop ---------------------------------
    // ev16 splits valid/dead; operations then FIX the dead letters
    // and replay them. This runs that loop end to end under the
    // oracle: the ev16 corruption (trailing '!' on every 7th event
    // name) is repaired by the deterministic fix (strip trailing
    // '!'), repaired events re-validate against the same NEP name
    // regex, and the census proves first-pass + replayed = total
    // with zero still-dead. One pass: validity before AND after the
    // fix come from the same projection — the replay never re-scans.
    "ev52_dlq_replay" -> { (s, d) =>
      import graft.streaming.EventStreams
      val ev = graft.core.Par.scatter(Tables.events(s, d))
      val logs = ev.select(EventPipeline.logLines(
        when(pmod(col("event_id"), lit(7)) === 0,
          concat(col("event_type"), lit("!"))).otherwise(col("event_type"))): _*)
      val nameRegex = graft.model.NearEvent.NameRegex
      val ext = EventStreams.extractEvents(logs)
        .withColumn("first_valid", EventStreams.isValid)
        .withColumn("fixed_event", regexp_replace(col("event"), "!+$", ""))
        .withColumn("replay_valid",
          !col("first_valid") &&
            col("standard").isNotNull && col("fixed_event").isNotNull &&
            col("standard").rlike(nameRegex) && col("fixed_event").rlike(nameRegex))
      ext.agg(
        count(lit(1)).cast("long").as("n_total"),
        sum(when(col("first_valid"), 1L).otherwise(0L)).cast("long")
          .as("n_first_valid"),
        sum(when(col("replay_valid"), 1L).otherwise(0L)).cast("long")
          .as("n_replayed"),
        sum(when(!col("first_valid") && !col("replay_valid"), 1L).otherwise(0L))
          .cast("long").as("n_still_dead"))
        .withColumn("recovered_share_fx",
          expr(s"(n_replayed * $Fx) div greatest(n_total - n_first_valid, 1)"))
    },

    // --- pk16: truncate-vs-keep pricing --------------------------------
    // The cheapest long-doc policy is truncation; its cost is the
    // tail it throws away. Per candidate context length: docs
    // affected, tokens lost, and the lost share of the corpus — the
    // table a pipeline reads before choosing truncate (lose the
    // tail) over pk02's chunking (pay the overlap). One narrow scan,
    // a 4-value explode, one aggregate.
    "pk16_truncation_loss" -> { (s, d) =>
      Tables.documents(s, d)
        .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
        .select(col("n"), explode(typedLit(Ctxs)).as("ctx"))
        .groupBy(col("ctx"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n")).cast("long").as("total_tokens"),
          sum(when(col("n") > col("ctx"), 1L).otherwise(0L))
            .cast("long").as("docs_truncated"),
          sum(greatest(col("n") - col("ctx"), lit(0L)))
            .cast("long").as("tokens_lost"))
        .withColumn("loss_share_fx", expr(s"(tokens_lost * $Fx) div total_tokens"))
        .orderBy(col("ctx"))
    },

    // --- dd30: keeper-policy sweep -------------------------------------
    // dd10/tx27 audit ONE keeper rule (min doc_id); this prices the
    // alternatives: per policy (first id / best tx02 quality /
    // longest text), the kept corpus's token mass and mean quality.
    // If best-quality keeps meaningfully better text than first-id,
    // the cheap rule is leaving quality on the table — measured, not
    // assumed. One window pass computes all three ranks over the
    // per-doc frame (partitioned by the high-cardinality
    // fingerprint); policies melt via a 3-element explode.
    "dd30_keeper_policy_sweep" -> { (s, d) =>
      val toks = TextAnalysis.tokens(col("text"))
      val base = Dedup.barrier(Tables.documents(s, d)
        .withColumn("toks", toks)
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("stop_ratio",
          TextAnalysis.stopCount(col("toks")).cast("double") / col("n_tokens"))
        .withColumn("punct_ratio",
          regexp_count(col("text"), lit("[.,!?;:]")).cast("double") / length(col("text")))
        .select(col("doc_id"), Hashing.hash64(col("text")).as("fp"),
          col("n_tokens"), col("n_chars"),
          TextAnalysis.qualityScore(col("n_tokens"), col("stop_ratio"),
            col("punct_ratio")).as("q")))
      def w(o: org.apache.spark.sql.Column*) =
        Window.partitionBy(col("fp")).orderBy(o: _*)
      val ranked = base
        .withColumn("rn_id", row_number().over(w(col("doc_id"))))
        .withColumn("rn_q", row_number().over(w(col("q").desc, col("doc_id"))))
        .withColumn("rn_len", row_number().over(w(col("n_chars").desc, col("doc_id"))))
      ranked
        .select(col("n_tokens"), col("q"), explode(array(
          when(col("rn_id") === 1, "1_first_id"),
          when(col("rn_q") === 1, "2_best_quality"),
          when(col("rn_len") === 1, "3_longest"))).as("policy"))
        .filter(col("policy").isNotNull)
        .groupBy(col("policy"))
        .agg(count(lit(1)).cast("long").as("n_kept"),
          sum(col("n_tokens")).cast("long").as("kept_tokens"),
          sum(col("q").cast("decimal(18,6)")).as("q_sum"),
          count(lit(1)).as("n"))
        .withColumn("mean_quality",
          Det.trunc4(col("q_sum").cast("double") / col("n")))
        .select(col("policy"), col("n_kept"), col("kept_tokens"), col("mean_quality"))
        .orderBy(col("policy"))
    })

  def oracles: Map[String, String] = Map(
    // validity mirrors ev16's oracle convention (every 7th event is
    // corrupted; raw names are regex-valid — the invariant ev16's
    // gate proves every round), with the strip-fix re-check explicit
    "ev52_dlq_replay" ->
      s"""WITH c AS (
         |  SELECT CASE WHEN event_id % 7 = 0 THEN event_type || '!'
         |    ELSE event_type END AS ev
         |  FROM events),
         |f AS (
         |  SELECT ev, regexp_replace(ev, '!+$$', '') AS fixed,
         |    regexp_matches(ev, '^[a-zA-Z0-9._-]+$$') AS v1
         |  FROM c),
         |g AS (
         |  SELECT v1,
         |    NOT v1 AND regexp_matches(fixed, '^[a-zA-Z0-9._-]+$$') AS v2
         |  FROM f)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(SUM(CASE WHEN v1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first_valid,
         |  CAST(SUM(CASE WHEN v2 THEN 1 ELSE 0 END) AS BIGINT) AS n_replayed,
         |  CAST(SUM(CASE WHEN NOT v1 AND NOT v2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_still_dead,
         |  (CAST(SUM(CASE WHEN v2 THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // GREATEST(CAST(SUM(CASE WHEN NOT v1 THEN 1 ELSE 0 END) AS BIGINT), 1)
         |    AS recovered_share_fx
         |FROM g""".stripMargin,

    "pk16_truncation_loss" ->
      s"""WITH d AS (
         |  SELECT CAST(len(${Dedup.duckToks}) AS BIGINT) AS n FROM documents),
         |x AS (
         |  SELECT n, unnest([${Ctxs.mkString(", ")}]) AS ctx FROM d)
         |SELECT ctx, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CASE WHEN n > ctx THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_truncated,
         |  CAST(SUM(GREATEST(n - ctx, 0)) AS BIGINT) AS tokens_lost,
         |  (CAST(SUM(GREATEST(n - ctx, 0)) AS BIGINT) * $Fx)
         |    // CAST(SUM(n) AS BIGINT) AS loss_share_fx
         |FROM x GROUP BY ctx ORDER BY ctx""".stripMargin,

    "dd30_keeper_policy_sweep" -> {
      val toks = Dedup.duckToks
      s"""WITH d AS (
         |  SELECT doc_id, ${Hashing.duckHash64("text")} AS fp,
         |    CAST(len($toks) AS BIGINT) AS n_tokens, n_chars,
         |    CAST(${TextAnalysis.duckStop} AS DOUBLE) / len($toks) AS stop_ratio,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |      / length(text) AS punct_ratio
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, fp, n_tokens, n_chars,
         |    ${TextAnalysis.duckQuality} AS q
         |  FROM d),
         |r AS (
         |  SELECT n_tokens, q,
         |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn_id,
         |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn_q,
         |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id)
         |      AS rn_len
         |  FROM q),
         |m AS (
         |  SELECT n_tokens, q, unnest([
         |    CASE WHEN rn_id = 1 THEN '1_first_id' END,
         |    CASE WHEN rn_q = 1 THEN '2_best_quality' END,
         |    CASE WHEN rn_len = 1 THEN '3_longest' END]) AS policy
         |  FROM r)
         |SELECT policy, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
         |  ${Det.duckTrunc("CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)", 4)}
         |    AS mean_quality
         |FROM m WHERE policy IS NOT NULL
         |GROUP BY policy ORDER BY policy""".stripMargin
    })
}
