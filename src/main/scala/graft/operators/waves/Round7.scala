package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.sources.LakeIngest
import graft.streaming.EventStreams

/** Round-7 wave: real NEAR lake/indexer StreamerMessage ingest.
  *
  * ev72/ev73 close the last uncovered reference behavior (VERDICT r6
  * "what's missing" #2): parsing the actual
  * `near_indexer::StreamerMessage` JSON document shape
  * (main.rs:113-141 listen_blocks, events.rs:297-320 extract_events
  * field paths) rather than a synthesized stand-in — ev72 through the
  * batch reader, ev73 through the `readStream` twin over a real file
  * directory, both against the same direct-prediction oracle.
  */
object Round7 extends Operators {

  /** ENCODE the events table into genuine StreamerMessage JSON
    * documents: 5 events per block, shard = user_id mod 4, receipt
    * receiver = contract<user_id mod 5>.near, one noise log + one
    * `EVENT_JSON:` log per outcome, and 'error' rows carrying a
    * NEP-name-invalid event so validation must drop them. The
    * collect_lists are bounded (≤5 events/block) — scale-safe.
    */
  private[operators] def encodeMessages(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
    // symmetric %-guards (see docs/GATES.md round-6 parity note):
    // both engines truncate, inputs are nonnegative, but the
    // ((x % m) + m) % m form stays parity-exact for any sign.
    val kStr = regexp_extract(coalesce(col("props"), lit("")), "\"k\": (\\d+)", 1)
    val rows = ev.select(
      expr("1000 + event_id div 5").as("height"),
      expr("((user_id % 4) + 4) % 4").as("shard_id"),
      concat(lit("r"), col("event_id")).as("receipt_id"),
      concat(lit("contract"), expr("((user_id % 5) + 5) % 5"), lit(".near"))
        .as("receiver"),
      when(col("event_type") === "error", lit("bad event!"))
        .otherwise(col("event_type")).as("ename"),
      // coalesce, not when(kStr==""): an unparseable/overflowing digit
      // run casts to NULL, and the oracle's COALESCE(TRY_CAST, 0)
      // maps that to 0 — null-to-zero must match on both sides
      coalesce(kStr.cast("long"), lit(0L)).as("k"),
      unix_micros(col("ts")).as("ts_us"))
    val payload = to_json(struct(
      lit("nep297").as("standard"), lit("1.0.0").as("version"),
      col("ename").as("event"),
      array(struct(col("k").as("k"))).as("data")))
    val outcome = struct(
      struct(lit("system").as("predecessor_id"), col("receipt_id"),
        col("receiver").as("receiver_id")).as("receipt"),
      struct(col("receipt_id").as("id"),
        struct(col("receiver").as("executor_id"), lit(1L).as("gas_burnt"),
          array(lit("prepaid gas burned: 1"),
            concat(lit(graft.model.NearEvent.EventJsonPrefix), payload)).as("logs"))
          .as("outcome")).as("execution_outcome"))
    rows
      .groupBy(col("height"), col("shard_id"))
      .agg(collect_list(outcome).as("receipt_execution_outcomes"),
        min(col("ts_us")).as("shard_ts_us"))
      .groupBy(col("height"))
      .agg(collect_list(struct(col("shard_id"),
        col("receipt_execution_outcomes"))).as("shards"),
        min(col("shard_ts_us")).as("min_ts_us"))
      .select(to_json(struct(
        struct(lit("validator0.near").as("author"),
          struct(col("height"), md5(col("height").cast("string")).as("hash"),
            md5((col("height") - 1).cast("string")).as("prev_hash"),
            (col("min_ts_us") * 1000L).as("timestamp"),
            (col("min_ts_us") * 1000L).cast("string").as("timestamp_nanosec"))
            .as("header")).as("block"),
        col("shards"))).as("value"))
  }

  /** Census of the parsed+validated events per (contract, event) —
    * the shape the DuckDB oracle predicts straight from the events
    * table, shared by ev72 (batch) and ev73 (streaming).
    */
  private[operators] def ingestCensus(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(col("emit_info.contract_account_id").as("contract_account_id"),
        col("event"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        countDistinct(col("emit_info.block_height")).cast("long").as("n_blocks"),
        min(col("emit_info.block_height")).cast("long").as("min_height"),
        max(col("emit_info.block_height")).cast("long").as("max_height"),
        sum(get_json_object(col("data"), "$.data[0].k").cast("long"))
          .cast("long").as("sum_k"))
      .orderBy(col("contract_account_id"), col("event"))

  /** The shared oracle: predict the census without any JSON at all. */
  private val IngestOracle: String =
    """WITH e AS (
      |  SELECT
      |    'contract' || CAST(((user_id % 5) + 5) % 5 AS VARCHAR) || '.near'
      |      AS contract_account_id,
      |    event_type AS event,
      |    1000 + event_id // 5 AS height,
      |    COALESCE(TRY_CAST(regexp_extract(COALESCE(props, ''),
      |      '"k": (\d+)', 1) AS BIGINT), 0) AS k
      |  FROM events
      |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IS NOT NULL AND event_type <> 'error')
      |SELECT contract_account_id, event,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT height) AS BIGINT) AS n_blocks,
      |  CAST(MIN(height) AS BIGINT) AS min_height,
      |  CAST(MAX(height) AS BIGINT) AS max_height,
      |  CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev72: lake ingest round-trip census (batch) ----------------------
    // encode → the REAL ingest (LakeIngest.outcomeLogs: from_json over
    // the public lake schema + map-only triple unnest) →
    // EventStreams.extractEvents → validated → census. A parse bug
    // anywhere in the schema walk, prefix filter, envelope parse,
    // emit_info wiring or validation flips the gate.
    "ev72_lake_ingest" -> { (s, d) =>
      val messages = encodeMessages(s, d)
      // scatter the block documents before the schema walk (r13 opt):
      // the per-block from_json over the full StreamerMessage schema
      // is the query's real compute, and the encode's grouped output
      // otherwise parses on the handful of coalesced shard partitions
      // (Probe stage census: a 5-task 2.3 s stage + a 1-task 0.9 s stage)
      ingestCensus(EventStreams.validated(EventStreams.extractEvents(
        LakeIngest.outcomeLogs(graft.core.Par.scatter(messages), col("value")))))
    },

    // --- ev73: lake ingest through the STREAMING reader -------------------
    // The same round-trip driven the way a live lake tail runs:
    // encoded block documents land as real JSONL files, the
    // `readStream.text` twin (LakeIngest.readJsonlStream) parses them
    // under Trigger.AvailableNow into a memory snapshot, and the
    // census must STILL match the direct prediction — proving the
    // batch and streaming ingests share one exact code path
    // (file-source streaming = the reference's sync-from-interruption
    // posture over a lake directory).
    "ev73_lake_stream_ingest" -> { (s, d) =>
      import graft.streaming.StreamJobs
      val dir = s"/tmp/graft_ev73_lake_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      encodeMessages(s, d).coalesce(4).write.mode("overwrite").text(dir)
      val parsed = EventStreams.validated(EventStreams.extractEvents(
        LakeIngest.readJsonlStream(s, dir)))
      // file snapshot: parsed lake events are EVENT-proportional
      // (r13 1000x rung: that class of memory sink dies on driver
      // result size)
      val snap = StreamJobs.runFileSnapshot(parsed)
      ingestCensus(snap)
    })

  def oracles: Map[String, String] = Map(
    "ev72_lake_ingest" -> IngestOracle,
    "ev73_lake_stream_ingest" -> IngestOracle)
}
