package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-5 seventh wave: the pipeline bookends — end-to-end curation
  * yield (tx20), the at-least-once redelivery audit every Kafka
  * consumer needs (ev33), and the output shard manifest that writes
  * the final training corpus (pk07).
  *
  * Posture notes: tx20 chains the SHARED tx19 rule battery
  * (Round5d.ruleFlags) and dd01's exact-dup keeper into one per-source
  * funnel — narrow rule compute, one fingerprint window partitioned by
  * the fingerprint key, two source-keyed aggregates joined on a
  * ~|sources| frame. ev33's duplicate-delivery census is one
  * hash-aggregate over the (unioned) delivery stream. pk07 shards by
  * content-stable hash64 mod N — the manifest is an N-row frame and
  * the only broadcast is the 1-row corpus total.
  */
object Round5g extends Operators {

  /** ev33: one in RedeliverMod events is delivered twice (the
    * deterministic stand-in for at-least-once redelivery). */
  val RedeliverMod = 20L

  /** pk07: output shard count for the packed corpus manifest. */
  val NShards = 32L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- tx20: curation-yield funnel ----------------------------------
    // The pipeline-summary census curation decisions are made from:
    // per source, how many documents (and tokens) survive the tx19
    // rule battery, then exact dedup among the survivors (dd01's
    // normalized fingerprint, keeper = min doc_id), and the final
    // token yield. Rule flags come from the SAME helper tx19 gates
    // (they cannot drift); the dedup window partitions by the
    // fingerprint key; the two censuses join on the sources-sized
    // frame.
    "tx20_curation_yield" -> { (s, d) =>
      val flags = Round5d.ruleFlags(Tables.documents(s, d))
        .withColumn("fp", Hashing.hash64(
          lower(regexp_replace(trim(col("text")), "\\s+", " "))))
        .select(col("doc_id"), col("source"), col("n_words"), col("keep"), col("fp"))
      val allCensus = flags.groupBy(col("source"))
        .agg(count(lit(1)).as("docs_in"),
          sum(col("n_words")).cast("long").as("tokens_in"))
      val wfp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val keptCensus = flags.filter(col("keep"))
        .withColumn("rn", row_number().over(wfp))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_rules"),
          sum(col("n_words")).cast("long").as("tokens_rules"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("long").as("docs_final"),
          sum(when(col("rn") === 1, col("n_words"))).cast("long").as("tokens_final"))
      allCensus.join(keptCensus, Seq("source"), "left")
        .na.fill(0L, Seq("docs_rules", "tokens_rules", "docs_final", "tokens_final"))
        .withColumn("yield_fx", expr("(tokens_final * 1000000) div tokens_in"))
        .select(col("source"), col("docs_in"), col("tokens_in"),
          col("docs_rules"), col("tokens_rules"),
          col("docs_final"), col("tokens_final"), col("yield_fx"))
        .orderBy(col("source"))
    },

    // --- ev33: at-least-once redelivery audit -------------------------
    // Kafka delivers at-least-once: consumers must dedup by key. This
    // census measures the redelivery pressure — a deterministic 1-in-
    // RedeliverMod replay (hash-mod on event_id, mirrored in the
    // oracle) unions onto the stream, then ONE aggregate per
    // event_type counts deliveries vs unique events. dup_rate_fx
    // prices the idempotence state the ev21/StreamDedup machinery
    // must carry.
    "ev33_redelivery_dedup" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"))
      val replayed = ev.filter(pmod(Hashing.hash64(
        col("event_id").cast("string")), lit(RedeliverMod)) === 0)
      ev.unionAll(replayed)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_delivered"),
          countDistinct(col("event_id")).as("n_unique"))
        .withColumn("n_dup", col("n_delivered") - col("n_unique"))
        .withColumn("dup_rate_fx", expr("(n_dup * 1000000) div n_delivered"))
        .select(col("event_type"), col("n_delivered"), col("n_unique"),
          col("n_dup"), col("dup_rate_fx"))
        .orderBy(col("event_type"))
    },

    // --- pk07: output shard manifest ----------------------------------
    // Writing the curated corpus means assigning every document a
    // stable output shard: shard = hash64(doc_id) mod NShards —
    // content-addressed, reproducible across runs and cluster sizes
    // (the mm06 placement audit, applied to the text corpus). The
    // manifest censuses docs/tokens/bytes per shard plus each shard's
    // doc share vs the balanced 1/N ideal; at 100 TB `shard` is the
    // partitionBy key of the final write.
    "pk07_shard_manifest" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("shard", pmod(Hashing.hash64(
          col("doc_id").cast("string")), lit(NShards)))
        .withColumn("n_toks", size(split(trim(col("text")), "\\s+")).cast("long"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      docs.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("n_tokens"),
          sum(col("n_chars")).cast("long").as("n_bytes"))
        .crossJoin(broadcast(total))
        .withColumn("share_fx", expr("(n_docs * 1000000) div n_total"))
        .withColumn("imb_fx", expr(s"(n_docs * $NShards * 1000000) div n_total"))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_bytes"),
          col("share_fx"), col("imb_fx"))
        .orderBy(col("shard"))
    })

  def oracles: Map[String, String] = Map(
    "tx20_curation_yield" -> {
      val fp = Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
      s"""${Round5d.duckRuleFlagsCtes},
         |fps AS (
         |  SELECT doc_id, $fp AS fp FROM documents),
         |fl AS (
         |  SELECT flags.doc_id, source, n_words, keep, fp
         |  FROM flags JOIN fps ON flags.doc_id = fps.doc_id),
         |a AS (
         |  SELECT source, COUNT(*) AS docs_in,
         |    CAST(SUM(n_words) AS BIGINT) AS tokens_in
         |  FROM fl GROUP BY source),
         |k AS (
         |  SELECT source, COUNT(*) AS docs_rules,
         |    CAST(SUM(n_words) AS BIGINT) AS tokens_rules,
         |    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_final,
         |    CAST(SUM(CASE WHEN rn = 1 THEN n_words END) AS BIGINT) AS tokens_final
         |  FROM (
         |    SELECT source, n_words,
         |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |    FROM fl WHERE keep) GROUP BY source)
         |SELECT a.source, docs_in, tokens_in,
         |  COALESCE(docs_rules, 0) AS docs_rules,
         |  COALESCE(tokens_rules, 0) AS tokens_rules,
         |  COALESCE(docs_final, 0) AS docs_final,
         |  COALESCE(tokens_final, 0) AS tokens_final,
         |  (COALESCE(tokens_final, 0) * 1000000) // tokens_in AS yield_fx
         |FROM a LEFT JOIN k ON a.source = k.source
         |ORDER BY a.source""".stripMargin
    },

    "ev33_redelivery_dedup" -> {
      val h = Hashing.duckHash64("CAST(event_id AS VARCHAR)")
      s"""WITH delivered AS (
         |  SELECT event_id, event_type FROM events
         |  UNION ALL
         |  SELECT event_id, event_type FROM events WHERE $h % $RedeliverMod = 0)
         |SELECT event_type, COUNT(*) AS n_delivered,
         |  COUNT(DISTINCT event_id) AS n_unique,
         |  COUNT(*) - COUNT(DISTINCT event_id) AS n_dup,
         |  ((COUNT(*) - COUNT(DISTINCT event_id)) * 1000000) // COUNT(*)
         |    AS dup_rate_fx
         |FROM delivered GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    "pk07_shard_manifest" -> {
      val h = Hashing.duckHash64("CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT $h % $NShards AS shard,
         |    CAST(len(${Dedup.duckToks}) AS BIGINT) AS n_toks, n_chars
         |  FROM documents),
         |t AS (SELECT COUNT(*) AS n_total FROM d)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
         |  (COUNT(*) * 1000000) // n_total AS share_fx,
         |  (COUNT(*) * $NShards * 1000000) // n_total AS imb_fx
         |FROM d CROSS JOIN t GROUP BY shard, n_total ORDER BY shard""".stripMargin
    })
}
