package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.{Det, Hashing, IntersectCountExpr}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.sources.LakeIngest
import graft.streaming.EventStreams
import Operators.{Fx, Fx4}

/** The reference's event pipeline re-expressed Spark-first.
  *
  * near-event-streams extracts `EVENT_JSON:`-prefixed log lines,
  * validates them, filters by contract white/blacklists, keys them by
  * contract, flattens NEP-171 array payloads, enriches with token
  * metadata and routes them to Kafka topics
  * (`/root/reference/src/events.rs`, `event_types.rs`, `token.rs`).
  * Here each stage is a declarative DataFrame transform over the
  * driver's `events` table (mapping in SURVEY.md §3), so Catalyst owns
  * pushdown and the whole stage chain codegens; the per-contract
  * Kafka partitioning of the reference becomes shuffle-by-key, and the
  * per-token RPC metadata lookup becomes a broadcast dimension join —
  * the only formulations that survive 100 TB.
  *
  * Every `ev` operator and its oracle live in this object.
  */
object EventPipeline extends Operators {

  /** Topic prefix, nes.toml `near_events_topic_prefix` analog. */
  val TopicPrefix = "near.events"

  /** events.rs:283 extract_events — parse the JSON payload into typed
    * columns. `props` plays the `EVENT_JSON:` tail.
    */
  def parseProps(df: DataFrame): DataFrame =
    df.withColumn("prop_k",
      regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))

  /** event_types.rs:26-40 to_key/default_key/to_topic. */
  def topicOf(eventType: Column): Column =
    concat_ws(".", lit(TopicPrefix), eventType)

  /** An `events` row as the (log, emit-info) ingress row
    * [[graft.streaming.EventStreams.extractEvents]] reads: the row
    * rendered as an `app` standard `EVENT_JSON:` log line with
    * `eventName` as the envelope's event and `props` as its data.
    */
  def logLines(eventName: Column): Seq[Column] = Seq(
    concat(
      lit("EVENT_JSON:{\"standard\":\"app\",\"version\":\"1.0.0\",\"event\":\""),
      eventName, lit("\",\"data\":"), col("props"), lit("}")).as("log"),
    concat(lit("r"), col("event_id")).as("receipt_id"),
    col("ts").cast("long").as("block_timestamp"),
    col("event_id").as("block_height"),
    pmod(col("user_id"), lit(4)).as("shard_id"),
    concat(lit("c"), col("user_id")).as("contract_account_id"))

  /** ev27: events/user/day a client may send before throttling. */
  val RateLimit = 5

  /** ev29: every 4th metadata key "fails its lookup" — the
    * deterministic stand-in for token.rs's RPC failures, so the oracle
    * exercises both sides of the miss split.
    */
  val LookupFailMod = 4

  private[operators] val DayUs = 86400000000L

  /** ev30: arrival-order bucket width for the two-level prefix-max
    * (the watermark replay). Bucket table size is n/EvBucket — a
    * keys-sized frame at any SF.
    */
  val EvBucket = 512L

  /** ev30: candidate watermark delays (seconds) the audit prices. */
  val WmDelaysS: Seq[Long] = Seq(0L, 1L, 10L, 60L, 300L)

  /** ev30's two-level watermark replay as a reusable transform:
    * for (`id`, `t`) rows, the lateness of each row's `t` behind the
    * running max over all rows with smaller-or-equal `id` — WITHOUT a
    * global sort-window. Per-bucket max (hash agg) + prefix max over
    * the keys-sized bucket table + within-bucket runmax partitioned
    * by bucket. Exact: max over [0, id] = max(prefix of prior
    * buckets, runmax within own bucket).
    */
  def latenessTwoLevel(df: DataFrame, id: String, t: String,
      bucket: Long = EvBucket): DataFrame = {
    val ev = df.select(col(id).as("__id"), col(t).as("__t"))
      .withColumn("__bkt", expr(s"__id div $bucket"))
    val pre = Window.orderBy(col("__bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val pref = ev.groupBy(col("__bkt")).agg(max(col("__t")).as("__bmax"))
      .withColumn("__pmax", coalesce(max(col("__bmax")).over(pre), lit(Long.MinValue)))
      .select(col("__bkt"), col("__pmax"))
    val inb = Window.partitionBy(col("__bkt")).orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.join(broadcast(pref), Seq("__bkt"))
      .withColumn("late",
        greatest(max(col("__t")).over(inb), col("__pmax")) - col("__t"))
      .select(col("__id").as(id), col("__t").as(t), col("late"))
  }

  /** ev32: ids per continuity bucket. Buckets tile the height space,
    * so per-bucket missing counts + boundary gaps partition ALL
    * missing heights exactly (spec-proved conservation law). */
  val HeightBucket = 500L

  /** ev32: deterministic stand-in for missed blocks — heights with
    * hash64(id) % DropMod == 0 are "unprocessed" (mirrored in the
    * oracle), so the audit has real gaps to find in the contiguous
    * test ids. */
  val DropMod = 97L

  /** ev33: one in RedeliverMod events is delivered twice (the
    * deterministic stand-in for at-least-once redelivery). */
  val RedeliverMod = 20L

  /** ev34: journey prefix length and how many paths to report. */
  val PathLen = 3

  val PathTopK = 25

  /** ev35: 1-in-JitterMod events arrive with their event time shifted
    * back by up to MaxJitterUs (48 h — the synthetic feed's median
    * per-user inter-event gap is ~7.5 h, so a sub-hour jitter would
    * inject no observable disorder).
    */
  val JitterMod = 17L

  val MaxJitterUs = 172800000000L

  /** ev37: burst threshold — a minute is bursting when its count is
    * ≥ BurstX × the type's mean over ACTIVE minutes.
    */
  val BurstX = 3L

  /** The burst census over a (event_type, minute, n) cell table —
    * ONE definition consumed by batch ev37 and the streaming twin
    * ev38, so the alerting math cannot drift between the
    * lambda halves. Baseline joins back by broadcast (types are
    * bounded); the burst predicate is integer cross-multiplication.
    */
  private[operators] def burstCensus(cells: DataFrame): DataFrame = {
    val types = cells.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_active_minutes"),
        sum(col("n")).cast("long").as("total_events"),
        max(col("n")).as("peak_minute_n"))
    cells.join(broadcast(types), Seq("event_type"))
      .withColumn("burst",
        when(col("n") * col("n_active_minutes") >= lit(BurstX) * col("total_events"),
          1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(first(col("n_active_minutes")).as("n_active_minutes"),
        first(col("total_events")).as("total_events"),
        first(col("peak_minute_n")).as("peak_minute_n"),
        sum(col("burst")).cast("long").as("n_burst_minutes"))
      .withColumn("burst_share_fx",
        expr(s"(n_burst_minutes * $Fx) div n_active_minutes"))
      .select(col("event_type"), col("n_active_minutes"), col("total_events"),
        col("peak_minute_n"), col("n_burst_minutes"), col("burst_share_fx"))
      .orderBy(col("event_type"))
  }

  /** Session gap thresholds under evaluation, in seconds. */
  private val GapsS = Seq(300L, 1800L, 7200L)

  /** ev51's session gap (seconds) — ev09's batch convention. */
  private val GapSec = 1800L

  /** Cutover instant: the live stream takes over here. */
  private val Cutover = "2024-01-16 00:00:00"

  /** At-least-once seam: the stream side re-reads this much overlap
    * before the cutover so a backfill/stream race can never drop the
    * boundary records — the dedup absorbs the double delivery.
    */
  private val OverlapSec = 3600L

  /** ev56's partition count (the topic layout under audit). */
  private val NParts = 8

  /** ev57: events/minute one consumer drains (the reference's
    * single-threaded send loop throughput analog).
    */
  private val ConsumerRate = 100L

  /** ev59: topic partition count and the scale-up step under audit. */
  private val ScaleParts = 64L

  private val WOld = 2

  private val WNew = 3

  /** Rendezvous (highest-random-weight) owner of partition `p` among
    * consumers 0..w-1: argmax of hash64(p '|' c), ties to lower c.
    */
  private def rendezvousOwner(p: Column, w: Int): Column = {
    val weighted = (0 until w).map(c =>
      struct(Hashing.hash64(concat_ws("|", p.cast("string"),
        lit(c.toString))).as("h"), lit(-c.toLong).as("negc")))
    // struct max = lexicographic (h, negc): highest weight, ties to
    // the LOWER consumer id (larger negc) — mirrored in the oracle
    (lit(0L) - array_max(array(weighted: _*)).getField("negc")).cast("long")
  }

  /** ev60: 1-in-N replay sample (ev33's dial) and the candidate
    * dedup windows (seconds).
    */
  private val ReplaySampleMod = 10L

  private val Windows: Seq[Long] = Seq(300L, 900L, 3600L, 7200L)

  /** Replay delay domain: (0, 2h] in seconds, hash-derived. */
  private val MaxDelayS = 7200L

  /** ev61: multi-window burn-rate alert lines (Google SRE's 2x/6x). */
  private val SlowBurnFx = 2L * Fx

  private val FastBurnFx = 6L * Fx

  /** ev62: candidate session gaps (seconds). */
  private val Gaps: Seq[Long] = Seq(600L, 1800L, 3600L)

  /** Minimum events for a stable cadence estimate. */
  private val MinEvents = 5L

  /** Session gap (seconds) — ev09's 30-minute convention. */
  private val GapS = 1800L

  /** ev70: candidate debounce windows (hours). */
  private val Debounce: Seq[Long] = Seq(1L, 3L, 6L)

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

  /** ev74: lateness percentiles (integer rank picks). */
  val Percentiles: Seq[Int] = Seq(50, 90, 99)

  /** ev75: candidate watermark delays (seconds). */
  val DelaysS: Seq[Long] = Seq(300L, 3600L, 21600L)

  /** ev80: commit intervals (hours) priced. */
  private val Commits = Seq(1L, 6L, 24L)

  // --- the other planning loops, closed the same way -------------------
  // dd46 set the pattern: a census operator already prices the dial
  // (ev74 lateness, pk07/pk19 shard bytes, q37 key skew); the chooser
  // is pure integer arithmetic over that bounded census, so the oracle
  // replays the DECISION and the hash match proves what a deployment
  // would actually set. Each chooser is factored over a census frame
  // so specs can feed measured censuses without re-running the source.

  /** Watermark dial stops a deployment actually uses (seconds). */
  val WatermarkDialS = Seq(60L, 300L, 900L, 3600L)

  /** ev82 rule over ev74's census (event_type, n_events, p99_us):
    * the SHORTEST watermark delay covering p99 lateness (≤1% late
    * drops — ev23's drop census is the downstream check); delay is
    * state-store retention (ev75's model prices it), so shorter is
    * strictly cheaper. If no stop covers p99, the longest stop
    * minimizes the overshoot — and flags the type as needing a
    * reorder fix upstream, not a bigger watermark.
    */
  def watermarkAutopick(census: DataFrame): DataFrame = {
    val j = census
      .withColumn("delay_s", explode(array(WatermarkDialS.map(lit): _*)))
      .withColumn("within_target",
        when(col("delay_s") * lit(1000000L) >= col("p99_us"), 1L)
          .otherwise(0L).cast("long"))
    // per-type pick over the |dial| = 4-row frame (bounded window,
    // same partitioning as the census group — no extra shuffle class)
    val wt = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    j.withColumn("chosen_delay",
        coalesce(
          min(when(col("within_target") === 1L, col("delay_s"))).over(wt),
          max(col("delay_s")).over(wt)))
      .withColumn("chosen",
        when(col("delay_s") === col("chosen_delay"), 1L)
          .otherwise(0L).cast("long"))
      .select(col("event_type"), col("delay_s"), col("n_events"),
        col("p99_us"), col("within_target"), col("chosen"))
  }

  /** ev74's lateness census narrowed to the p99 pick the watermark
    * rule consumes (same frontier construction, one percentile). The
    * quantile is the HISTOGRAM pick ([[Rank.histQuantilesByKey]]'s
    * shape): the r11 form ranked every event per type — the last
    * fact-stream sort in the chooser lane (16.0x wall at 100x data);
    * folding to per-(type, late_us) counts first bounds the sort at
    * the distinct lateness values, with bit-identical picks.
    */
  def latenessCensus(s: SparkSession, d: String): DataFrame = {
    val wa = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .select(col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"),
        max(expr("unix_micros(ts)")).over(wa).as("frontier"))
      .withColumn("late_us", col("frontier") - col("us"))
    Rank.histQuantilesByKey(late, "event_type", col("late_us"),
        Seq(99), p => s"p${p}_us", "_max_late_us")
      .select(col("event_type"), col("n_rows").as("n_events"),
        col("p99_us"))
  }

  /** The dense hourly grid (ev24, ev76, ev78) from ONE fact scan:
    * `counts` (event_type, h, n_events) is persisted, and the hour
    * range and the type set derive from it, not from re-scanning
    * events. Returns (counts, hours: every hour from the first to the
    * last, grid: hours × event types).
    */
  private def hourGrid(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    val counts = Dedup.barrier(ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n_events")))
    val hours = counts.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("h"))
    (counts, hours, hours.crossJoin(counts.select(col("event_type")).distinct()))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // extract_events: JSON payload → typed columns (events.rs:283-350)
    "ev01_extract_parse" -> { (s, d) =>
      parseProps(Tables.events(s, d))
        .filter(col("prop_k").isNotNull && col("prop_k") >= 50)
        .select(col("event_id"), col("event_type"), col("prop_k"), col("value"))
        .orderBy(col("event_id"))
    },

    // NEP name validation drop-invalid (event_types.rs:8-24, events.rs:310)
    "ev02_validate_regex" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type").rlike(graft.model.NearEvent.NameRegex) &&
          col("props").rlike("^\\{.*\\}$"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_valid"))
        .orderBy(col("event_type"))
    },

    // to_topic + catch-all fanout census (events.rs:148-196 send_events)
    "ev03_topic_route" -> { (s, d) =>
      val ev = Tables.events(s, d)
      // explode over both destinations: one scan (a union re-evaluates
      // the upstream per branch)
      val routed = ev.select(
        explode(array(topicOf(col("event_type")), lit(s"$TopicPrefix.all"))).as("topic"),
        col("value"))
      routed.groupBy(col("topic"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("topic"))
    },

    // whitelist/blacklist contract filter (events.rs:252-281)
    "ev04_filter_lists" -> { (s, d) =>
      val whitelist = (0L to 60L by 2).map(java.lang.Long.valueOf)
      Tables.events(s, d)
        .filter(col("user_id").isin(whitelist: _*) && !col("event_type").isin("error"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },

    // key-by-contract + latest-per-key (events.rs:100-146 group map)
    "ev05_keyby_latest" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    },

    // NEP-171 array flatten (event_types.rs:42-66) as token explode
    "ev06_flatten_explode" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    },

    // metadata enrichment via broadcast dim join + build_id
    // (events.rs:198-250, token.rs:23-26 build_id "contract:token")
    "ev07_enrich_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val c = Tables.customer(s, d)
      ev.join(broadcast(c), ev("user_id") === c("c_custkey"))
        .withColumn("_id", concat_ws(":", col("user_id"), col("event_id")))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
          min(col("_id")).as("min_id"))
        .orderBy(col("c_mktsegment"))
    },

    // tumbling-window processing stats (stats.rs:23-77 stats_logger)
    "ev08_stats_window" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .withColumn("events_per_sec", graft.functions.Det.trunc(col("n_events") / lit(3600.0), 6))
        .orderBy(col("hour_ts"))
    },

    // gap-based sessionization (30 min), batch analog of stateful streams
    "ev09_sessionize" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sessions = Tables.events(s, d)
        .withColumn("prev_s", lag(col("ts").cast("long"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_s").isNull || (col("ts").cast("long") - col("prev_s")) > 1800, 1)
            .otherwise(0))
        .withColumn("sess_id",
          sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessions.groupBy(col("user_id"))
        .agg(max(col("sess_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },

    // signup→purchase conversion funnel
    "ev10_event_funnel" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val first = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val conv = first.join(purch,
          col("user_id") === col("p_user") && col("p_ts") > col("signup_ts"), "left_semi")
      first.agg(count(lit(1)).as("n_signup")).crossJoin(
        conv.agg(count(lit(1)).as("n_converted")))
    },

    // the stats pipeline run THROUGH Structured Streaming: readStream
    // over the events parquet → tumbling-window agg → memory sink,
    // returned as the final batch snapshot. Streaming results are in
    // the same DuckDB correctness gate as batch (stats.rs re-expressed
    // on the streaming engine).
    "ev11_stream_stats" -> { (s, d) =>
      val agg = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      graft.streaming.StreamJobs
        .runMemorySnapshot(agg, "graft_ev11_mem", "complete")
        .orderBy(col("hour_ts"), col("event_type"))
    },

    // Spark-native gap sessions (session_window) — same semantics the
    // streaming engine uses for stateful session aggregation
    "ev12_session_window" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("sess_start"), col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    },

    // the REAL reference pipeline end-to-end under the oracle: events
    // rendered as EVENT_JSON log lines, then
    // extractEvents → validated → toKafkaRecords (EventStreams), with
    // per-topic delivery census. Exercises prefix filter, JSON
    // envelope parse, emit_info attachment, to_key/to_topic and the
    // catch-all fanout (events.rs full path).
    "ev13_pipeline_e2e" -> { (s, d) =>
      // JSON render + parse + regex validation per row is the hot loop
      // here — scatter the narrow input so it runs on every core
      // instead of inheriting the scan's split count
      val ev = graft.core.Par.scatter(Tables.events(s, d))
      val logs = ev.select(logLines(col("event_type")): _*)
      val events = graft.streaming.EventStreams.validated(
        graft.streaming.EventStreams.extractEvents(logs))
      graft.streaming.EventStreams
        .toKafkaRecords(events, TopicPrefix, s"$TopicPrefix.all")
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n_records"), countDistinct(col("key")).as("n_keys"))
        .orderBy(col("topic"))
    },

    // JSON path extraction (get_json_object — the generic EventData
    // payload access for standards without typed schemas)
    "ev14_json_extract" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k").isNotNull)
        .groupBy(floor(col("k") / 10).cast("long").as("k_bucket"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("k_bucket"))
    },

    // as-of enrichment: each purchase picks up the latest prior click
    // value for its user (metadata-at-block-height semantics,
    // token.rs get_nft_token at finality → SCD enrichment at scale)
    "ev15_asof_enrich" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("value"))
      // the custom whole-operator plan (AsOfJoinExec) runs under the
      // oracle gate; spec-verified equal to the composed joinAsOf
      AsOf.joinAsOfNative(purchases, clicks, "user_id", "ts", "c_ts", Seq("value"))
        .select(col("event_id"), col("asof_value"))
        .orderBy(col("event_id"))
    },

    // --- ev16: dead-letter split under the oracle --------------------
    // The reference logs-and-drops invalid events (events.rs:310-340);
    // the scalable analog routes them to a dead-letter frame. Inject a
    // deterministic corruption (every 7th event gets an illegal name
    // char) and census both sides of the split.
    "ev16_dead_letter" -> { (s, d) =>
      val ev = graft.core.Par.scatter(Tables.events(s, d))
      val logs = ev.select(EventPipeline.logLines(
        when(pmod(col("event_id"), lit(7)) === 0,
          concat(col("event_type"), lit("!"))).otherwise(col("event_type"))): _*)
      // single pass: a status column from the SAME validity predicate
      // the dead-letter split uses — a union of the two split branches
      // would re-run the whole render+parse pipeline per branch
      graft.streaming.EventStreams.extractEvents(logs)
        .withColumn("status",
          when(graft.streaming.EventStreams.isValid, "valid").otherwise("dead"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_events"), countDistinct(col("event")).as("n_names"))
        .orderBy(col("status"))
    },

    // --- ev17: interval join via binned equi-join --------------------
    // Purchases pick up all same-user clicks in the prior 30 minutes.
    // RangeJoin.binned turns the non-equi predicate into an equi-join
    // on (user_id, time-bin) — one shuffle, no nested loop.
    "ev17_interval_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"), col("value"))
      RangeJoin.binned(purchases, clicks, "ts", "start_ts", "end_ts", 1800L, Seq("user_id"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("event_id"))
    },

    // stats.rs:36-56 lag-to-tip: per-window processing rate + blocks
    // behind the tip + estimated catch-up time. The tip (global max
    // height) is a scalar broadcast — at 100 TB this is the one
    // permissible "global" aggregate because it reduces to 8 bytes.
    "ev18_lag_stats" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val tip = ev.agg(max(col("event_id")).as("tip"))
      ev.groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n_blocks"), max(col("event_id")).as("last_height"))
        .crossJoin(broadcast(tip))
        .select(
          col("hour_ts"), col("n_blocks"),
          graft.functions.Det.trunc(col("n_blocks") / lit(3600.0), 6).as("bps"),
          (col("tip") - col("last_height")).as("lag_blocks"),
          graft.functions.Det.trunc(
            (col("tip") - col("last_height")) / (col("n_blocks") / lit(3600.0)), 2).as("catchup_sec"))
        .orderBy(col("hour_ts"))
    },

    // the ev13 pipeline run THROUGH Structured Streaming: readStream →
    // log render → extract → validate → kafka-record fanout → per-topic
    // census in complete mode — the reference's continuous delivery
    // path on the streaming engine, gated by the same oracle as ev13.
    "ev19_stream_pipeline" -> { (s, d) =>
      val ev = graft.streaming.StreamJobs.eventsFileStream(s, d)
      // explicit repartition count overrides the trimmed shuffle conf
      // inside runMemorySnapshot: the JSON render/parse stage runs
      // wide, only the stateful agg runs at 4 state partitions
      val logs = ev.repartition(s.sparkContext.defaultParallelism)
        .select(logLines(col("event_type")): _*)
      val events = graft.streaming.EventStreams.validated(
        graft.streaming.EventStreams.extractEvents(logs))
      // streaming disallows distinct aggregates: keep the stream's
      // state at (topic, key) granularity (bounded by key cardinality)
      // and fold the tiny snapshot to the census in batch — the same
      // split a compacted-topic census uses
      val agg = graft.streaming.EventStreams
        .toKafkaRecords(events, TopicPrefix, s"$TopicPrefix.all")
        .groupBy(col("topic"), col("key"))
        .agg(count(lit(1)).as("n"))
      graft.streaming.StreamJobs
        .runMemorySnapshot(agg, "graft_ev19_mem", "complete")
        .groupBy(col("topic"))
        .agg(sum(col("n")).as("n_records"), count(lit(1)).as("n_keys"))
        .orderBy(col("topic"))
    },

    // --- ev20: NEP-171 array flatten under the oracle ----------------
    // try_flatten_nep171_event (event_types.rs:42-66): a mint carrying
    // an ARRAY of token payloads explodes to one flat event per token.
    // Mint logs are rendered deterministically from events rows so the
    // oracle can mirror the flattening arithmetic.
    "ev20_nep171_flatten" -> { (s, d) =>
      val ev = graft.core.Par.scatter(Tables.events(s, d))
        .filter(col("event_type") === "purchase")
      val logs = ev.select(
        concat(
          lit("EVENT_JSON:{\"standard\":\"nep171\",\"version\":\"1.0.0\",\"event\":\"nft_mint\",\"data\":[{\"owner_id\":\"u"),
          col("user_id"),
          lit("\",\"token_ids\":[\"t"), col("event_id"),
          lit("a\",\"t"), col("event_id"), lit("b\"]}]}")).as("log"),
        concat(lit("r"), col("event_id")).as("receipt_id"),
        col("ts").cast("long").as("block_timestamp"),
        col("event_id").as("block_height"),
        pmod(col("user_id"), lit(4)).as("shard_id"),
        concat(lit("c"), col("user_id")).as("contract_account_id"))
      val flat = graft.streaming.EventStreams.flattenNep171(
        graft.streaming.EventStreams.validated(
          graft.streaming.EventStreams.extractEvents(logs)))
      flat.groupBy(col("owner_id"))
        .agg(count(lit(1)).as("n_tokens"), min(col("token_id")).as("min_token"))
        .orderBy(col("owner_id"))
    },

    // --- ev21: streaming dedup-by-key (dropDuplicatesWithinWatermark)
    // The reference keys every Kafka record by contract; repeated
    // deliveries collapse. Run through the streaming engine, then
    // census the surviving keys (representative rows are arbitrary,
    // the KEY SET is deterministic and oracle-checkable).
    "ev21_stream_dedup" -> { (s, d) =>
      // the oracle states a GLOBAL distinct contract, so the watermark
      // must exceed the corpus's event-time span — otherwise a
      // multi-batch read (multiple files / maxFilesPerTrigger) would
      // evict dedup state mid-stream and late duplicates would
      // survive. 10 years >> any test corpus; at production scale
      // pick the real dedup horizon instead.
      val dedup = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
      // file snapshot, not memory: the deduped stream is EVENT-
      // proportional, and the r13 1000x rung proved that class of
      // memory sink dies on driver result size (ev47 at 100M events)
      graft.streaming.StreamJobs
        .runFileSnapshot(dedup)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"))
        .orderBy(col("event_type"))
    },

    // --- ev22: CDC compaction with tombstones ------------------------
    // The compacted-topic materialization: the event stream is a
    // changelog keyed by user, the latest record per key wins
    // (ts, then event_id — the offset — breaks ties), and a tombstone
    // ('error' here) deletes the key from the compacted state. One
    // shuffle on the key + per-key window — the same shape Kafka log
    // compaction guarantees, computed declaratively.
    "ev22_cdc_upsert" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .groupBy(col("event_type").as("last_event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("last_event_type"))
    },

    // --- ev23: watermark late-drop census ----------------------------
    // The batch analog of streaming late-data rejection: per key, an
    // event arriving (offset order = event_id) with event time more
    // than 10 min behind the high-water mark of everything already
    // seen for that key is "late". Partitioned running-max window —
    // per-key watermarks shuffle on the key, nothing global.
    "ev23_late_drop" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("hwm", max(col("ts")).over(w))
        .withColumn("late",
          (col("ts") < col("hwm") - expr("INTERVAL 10 MINUTES")).cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(coalesce(col("late"), lit(0))).as("n_late"))
        .orderBy(col("event_type"))
    },

    // --- ev24: time-series gap fill (densification) ------------------
    // Sparse hourly counts densify onto the full hour grid with zero
    // fill — the stats.rs-style dashboard needs every interval
    // present. The grid builds from two AGGREGATES (bounds × distinct
    // types, thousands of rows at any scale), never from the fact
    // table; facts contribute one groupBy, the grid left-joins the
    // tiny count table.
    "ev24_gap_fill" -> { (s, d) =>
      val (counts, _, grid) = hourGrid(s, d)
      grid.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy(col("event_type"), col("h"))
    },

    // --- ev25: multi-step funnel -------------------------------------
    // signup → first view AFTER signup → first purchase AFTER that
    // view, with per-step conversion rates — ev10's two-step funnel
    // generalized to ordered steps. Every stage is keyed on user
    // (co-partitioned joins); the census is one row.
    "ev25_funnel_steps" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      val vw = ev.filter(col("event_type") === "view")
        .join(su, Seq("user_id"))
        .filter(col("ts") > col("s_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(vw, Seq("user_id"))
        .filter(col("ts") > col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      su.join(vw, Seq("user_id"), "left")
        .join(pu, Seq("user_id"), "left")
        .agg(count(col("s_ts")).as("n_signup"),
          count(col("v_ts")).as("n_viewed"),
          count(col("p_ts")).as("n_purchased"))
        .select(col("n_signup"), col("n_viewed"), col("n_purchased"),
          Det.trunc4(col("n_viewed").cast("double") / col("n_signup"))
            .as("view_rate"),
          Det.trunc4(col("n_purchased").cast("double") / col("n_signup"))
            .as("purchase_rate"))
    },

    // --- ev26: in-flight processing gauge ----------------------------
    // The reference's `block_heights_processing` gauge (stats.rs:8-10,
    // stats.rs:85-97 start/end_process_block): how many items are
    // concurrently in flight. Re-expressed as a sweep-line over
    // processing spans [ts, ts + value sec): each span splits into the
    // days it covers and contributes +1/-1 at its CLIPPED in-day
    // start/end, so every (type, day) partition sweeps its TRUE
    // concurrency — spans carried over midnight count in both days.
    // Deltas net per distinct instant (tie-order independence),
    // running sum = the gauge, daily peak per type. Partitions are
    // bounded day slices, no global sort; integer microseconds
    // end-to-end so both engines agree exactly.
    "ev26_inflight_gauge" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = graft.core.Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("value"))
        .withColumn("s_us", expr("unix_micros(ts)"))
        .withColumn("e_us",
          col("s_us") + floor(col("value") * lit(1000000.0)).cast("long"))
      val spans = ev
        .select(col("event_type"), col("s_us"), col("e_us"),
          explode(sequence(to_date(col("ts")),
            to_date(timestamp_micros(col("e_us"))))).as("day"))
        .withColumn("day_s", expr("unix_micros(cast(day as timestamp))"))
        .withColumn("cs", greatest(col("s_us"), col("day_s")))
        .withColumn("ce", least(col("e_us"), col("day_s") + lit(86400000000L)))
      val pts = spans.select(col("event_type"), col("day"), col("cs").as("t"),
          lit(1L).as("delta"))
        .unionByName(spans.select(col("event_type"), col("day"), col("ce").as("t"),
          lit(-1L).as("delta")))
        .groupBy(col("event_type"), col("day"), col("t"))
        .agg(sum(col("delta")).as("net"))
      val w = Window.partitionBy(col("event_type"), col("day")).orderBy(col("t"))
      pts.withColumn("inflight", sum(col("net")).over(w))
        .groupBy(col("event_type"), col("day"))
        .agg(max(col("inflight")).as("day_peak"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          max(col("day_peak")).as("peak_inflight"),
          Det.trunc4(avg(col("day_peak"))).as("avg_daily_peak"))
        .orderBy(col("event_type"))
    },

    // --- ev27: sliding-window rate-limit census ----------------------
    // Admission-control audit: events per user over a trailing 24 h
    // RANGE window; an event beyond RateLimit in its window is
    // throttled. Partitioned by user_id — per-key sorted ranges, the
    // batch twin of a mapGroupsWithState token bucket; nothing global.
    // Census per event_type so the abuse profile is per-surface.
    "ev27_rate_limit" -> { (s, d) =>
      val win = Window.partitionBy(col("user_id")).orderBy(col("t"))
        .rangeBetween(-86399999999L, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("t"))
        .withColumn("cnt", count(lit(1)).over(win))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("cnt") > RateLimit, 1L).otherwise(0L)).as("n_throttled"),
          countDistinct(when(col("cnt") > RateLimit, col("user_id"))).as("n_users_throttled"),
          max(col("cnt")).as("max_burst"))
        .orderBy(col("event_type"))
    },

    // --- ev28: q34's hourly baseline THROUGH Structured Streaming ----
    // The streaming twin SURVEY promises for the anomaly census: the
    // hourly (n, Σv, Σv²) partials computed as a windowed streaming
    // aggregation (readStream → 1h tumbling window → snapshot), gated
    // by the same DuckDB hourly definition the batch q34 consumes. In
    // production this runs under a watermark in append mode and the
    // batch join picks up finalized hours; Σv² stays decimal-exact
    // until the single final double cast.
    "ev28_stream_hourly" -> { (s, d) =>
      val dec = "decimal(38,0)"
      val agg = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .withColumn("v", floor(col("value") * lit(1000000.0)).cast("long"))
        .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_h"), sum(col("v")).as("s_h"),
          sum(col("v").cast(dec) * col("v").cast(dec)).cast("double").as("q_h"))
      graft.streaming.StreamJobs
        .runMemorySnapshot(agg, "graft_ev28_mem", "complete")
        .select(col("event_type"),
          expr("unix_micros(w.start) div 3600000000").as("hr"),
          col("n_h"), col("s_h"), col("q_h"))
        .orderBy(col("event_type"), col("hr"))
    },

    // --- ev29: degraded-mode enrichment (lookup miss → defaults) -----
    // token.rs:67-155 get_nft_token/get_metadatas: a metadata lookup
    // that errors or parses to garbage yields Ok(None) — the event is
    // STILL DELIVERED, enriched with the default (empty) metadata
    // shape, never dropped. The scalable re-expression is a LEFT join
    // against the metadata dim with explicit default fill on the null
    // side, plus an enrich_status column so the degraded fraction is
    // observable (the reference logs each fallback;
    // at 100 TB a status column census replaces grep-the-logs).
    // The dim drops every LookupFailMod-th key to make misses
    // deterministic; at scale the dim is whatever metadata service
    // snapshot exists, and the same plan holds — broadcast when small,
    // shuffle join when not.
    "ev29_enrich_fallback" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val dim = Tables.customer(s, d)
        .filter(pmod(col("c_custkey"), lit(LookupFailMod)) =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      ev.join(broadcast(dim), ev("user_id") === dim("c_custkey"), "left")
        .select(
          col("user_id"), col("value"),
          when(col("c_custkey").isNotNull, lit("ok"))
            .otherwise(lit("fallback")).as("enrich_status"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
        .groupBy(col("enrich_status"), col("segment"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("enrich_status"), col("segment"))
    },

    // --- ev30: watermark-delay sizing audit ---------------------------
    // Before picking `withWatermark`'s delay you need the lateness
    // distribution: for each event, how far behind the running max
    // event-time (the watermark replay, arrival order = ingest id) did
    // it arrive, and what fraction of data would each candidate delay
    // drop. A naive runmax is a single global sort-window; the
    // scalable shape is two-level scan: per-bucket max (one hash agg),
    // prefix-max over the keys-sized bucket table (tiny window),
    // broadcast back, and a within-bucket runmax partitioned by
    // bucket. The delay pricing is a bounded ×|delays| explode — same
    // bounded-fanout posture as q39's ×7.
    "ev30_watermark_fit" -> { (s, d) =>
      latenessTwoLevel(Tables.events(s, d)
          .select(col("event_id"), expr("unix_micros(ts)").as("t")),
          "event_id", "t")
        .select(col("late").as("late_us"), explode(typedLit(WmDelaysS)).as("delay_s"))
        .groupBy(col("delay_s"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > col("delay_s") * 1000000L, 1L).otherwise(0L))
            .cast("long").as("n_late"))
        .withColumn("late_ratio",
          Det.trunc4(col("n_late").cast("double") / col("n_events")))
        .orderBy(col("delay_s"))
    },

    // --- ev31: event-type transition matrix ---------------------------
    // The first-order Markov census of user journeys: for every
    // consecutive event pair within a user's timeline, count
    // (from_type → to_type) and its probability among transitions
    // leaving from_type. The lag window partitions by user (ordered
    // by (ts, event_id) — total order, engine-proof); the transition
    // table is ≤ |types|² rows, so the per-from normalization window
    // runs on a constant-size frame. First events (no predecessor)
    // drop out of the census.
    "ev31_type_transitions" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .withColumn("from_type", lag(col("event_type"), 1).over(wu))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
      val wf = Window.partitionBy(col("from_type"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      trans
        .withColumn("from_total", sum(col("n_transitions")).over(wf).cast("long"))
        .withColumn("p_fx", expr("(n_transitions * 1000000) div from_total"))
        .select(col("from_type"), col("to_type"), col("n_transitions"),
          col("from_total"), col("p_fx"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // --- ev32: block-height continuity audit --------------------------
    // The reference indexes consecutive block heights (main.rs
    // listen_blocks; configs.rs sync modes pick the starting height) —
    // the operational question is "did we process every height?".
    // Re-expressed as a census: processed heights bucket by
    // id div HeightBucket; per bucket, (count, min, max) fold in one
    // hash aggregation, missing-inside = span − count, and the
    // cross-bucket gap comes from a lag window over the BUCKETS-sized
    // table (fact rows never sort globally). A bucket with
    // missing_in = 0 and gap_before = 0 is provably complete.
    //
    // Posture notes: ev32's continuity check is two-level — per-bucket
    // aggregation over the fact stream, then a lag window on the
    // buckets-sized table only (the ev30 recipe; the fact table never
    // crosses a global sort). q42 is one pass with conditional
    // aggregation (no self-join of the two periods) and broadcast
    // dims. ss14 reuses ss03's exact cell assignment; its census
    // output is K rows. All ratios are fixed-point integers (`div`),
    // so the oracle hash-matches with no float tolerance.
    "ev32_height_gaps" -> { (s, d) =>
      val processed = Tables.events(s, d)
        .select(col("event_id"))
        .filter(pmod(Hashing.hash64(col("event_id").cast("string")),
          lit(DropMod)) =!= 0)
      val buckets = processed
        .withColumn("bucket", expr(s"event_id div $HeightBucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_ids"),
          min(col("event_id")).as("id_min"),
          max(col("event_id")).as("id_max"))
      // lag over the bucket table: n/HeightBucket rows, keys-sized
      val wb = Window.orderBy(col("bucket"))
      buckets
        .withColumn("missing_in",
          col("id_max") - col("id_min") + 1 - col("n_ids"))
        .withColumn("gap_before", coalesce(
          col("id_min") - lag(col("id_max"), 1).over(wb) - 1, lit(0L)))
        .select(col("bucket"), col("n_ids"), col("id_min"), col("id_max"),
          col("missing_in"), col("gap_before"))
        .orderBy(col("bucket"))
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

    // --- ev34: user journey paths -------------------------------------
    // The "common paths" product report: each user's first PathLen
    // event types (by (ts, event_id) — a total order, engine-proof)
    // concatenate into a journey prefix; the census counts users per
    // path with a fixed-point share. The per-user window partitions
    // by user_id; the path table is ≤ |types|^PathLen rows; top-K
    // plans as TakeOrderedAndProject.
    //
    // Posture notes: ev34's per-user window partitions by user and the
    // path census is a hash aggregate (top-K plans as TakeOrdered)
    "ev34_journey_paths" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      def step(n: Int) = max(when(col("rn") === n, col("event_type")))
      val paths = Tables.events(s, d)
        .withColumn("rn", row_number().over(wu))
        .filter(col("rn") <= PathLen)
        .groupBy(col("user_id"))
        .agg(concat_ws(">", (1 to PathLen).map(step): _*).as("path"))
      val total = paths.agg(count(lit(1)).as("n_users_total"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(total))
        .withColumn("share_fx", expr("(n_users * 1000000) div n_users_total"))
        .select(col("path"), col("n_users"), col("share_fx"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(PathTopK)
    },

    // --- ev35: out-of-order arrival audit -----------------------------
    // Streaming correctness hinges on how far event time runs behind
    // arrival order per key — this census prices it: per consecutive
    // arrival pair within a user (arrival order = event_id, a total
    // order), an inversion is an event whose (jittered) event time
    // precedes its predecessor's; the per-type census reports the
    // inversion rate and worst backstep. The raw feed is perfectly
    // ordered, so a deterministic 1-in-17 hash-mod jitter (ev33's
    // injection recipe, mirrored in the oracle) supplies the
    // disorder. One lag window partitioned by user_id — nothing
    // global; read with ev30, which prices the watermark delay this
    // audit shows is needed.
    "ev35_order_inversions" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us0"),
          Hashing.hash64(col("event_id").cast("string")).as("h"))
        .withColumn("us", when(pmod(col("h"), lit(JitterMod)) === 0,
          col("us0") - pmod(col("h"), lit(MaxJitterUs))).otherwise(col("us0")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("us") < col("prev_us"), 1L).otherwise(0L))
            .cast("long").as("n_inversions"),
          max(when(col("us") < col("prev_us"), col("prev_us") - col("us"))
            .otherwise(lit(0L))).as("max_backstep_us"))
        .withColumn("inv_rate_fx", expr(s"(n_inversions * $Fx) div n_pairs"))
        .select(col("event_type"), col("n_pairs"), col("n_inversions"),
          col("max_backstep_us"), col("inv_rate_fx"))
        .orderBy(col("event_type"))
    },

    // --- ev36: session-gap octave census ------------------------------
    // ev09/ev12 hard-code a 30-min session gap; this census shows
    // what the dial trades: per-user inter-event gaps (event-time
    // order, (ts, event_id) total order) fold into power-of-2 second
    // octaves, and because every gap in octave k is >= 2^k s, the
    // top-down cumulative count IS the number of session splits a
    // threshold of 2^k seconds would create. One lag window
    // partitioned by user_id, then everything runs on the ~35-row
    // octave table. Sub-second gaps land in octave -1.
    //
    // Posture notes: all three are DIAL-SIZING harnesses over
    // machinery other gated operators ship — ev36 prices ev09/ev12's
    // session-gap threshold from the measured inter-event gap
    // distribution, ss16 prices ss07's probe radius the way ss11
    // prices IVF's nprobe, dd22 watches dd06's cluster-size
    // distribution for the boilerplate explosions dd20 predicts.
    // Gap/size octaves reuse the integer-exact floor-log2
    // (`length(bin(n)) − 1`); every cumulative window runs on a
    // bounded octave table; the recall curve's per-radius shortlists
    // are TakeOrdered branches off ONE barriered scored frame.
    "ev36_gap_octaves" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val gaps = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_s", expr("(us - prev_us) div 1000000"))
        .withColumn("octave", when(col("gap_s") < 1, lit(-1))
          .otherwise((length(bin(col("gap_s"))) - 1).cast("int")))
      val oct = gaps.groupBy(col("octave")).agg(count(lit(1)).as("n_gaps"))
      val total = oct.agg(sum(col("n_gaps")).cast("long").as("n_total"))
      oct.crossJoin(broadcast(total))
        .withColumn("gap_lo_s", when(col("octave") < 0, lit(0L))
          .otherwise(expr("shiftleft(1L, octave)").cast("long")))
        .withColumn("share_fx", expr(s"(n_gaps * $Fx) div n_total"))
        .withColumn("n_splits_at_lo", sum(col("n_gaps")).over(
          Window.orderBy(col("octave").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .select(col("octave"), col("gap_lo_s"), col("n_gaps"),
          col("share_fx"), col("n_splits_at_lo"))
        .orderBy(col("octave"))
    },

    // --- ev37: burst-minute census ------------------------------------
    // Rate-spike detection at minute grain: events fold into
    // (event_type, minute) cells; a cell bursts when its count clears
    // BurstX times the type's mean over active minutes — evaluated as
    // n·n_active ≥ BurstX·total, integer cross-multiplication, so no
    // division rounding can disagree between engines. The per-type
    // baseline joins back by broadcast (types are bounded); the fact
    // table is touched exactly once. Complements q34 (hourly z-score
    // on value): this is the pure-rate spike at finer grain.
    //
    // Posture notes: ev37 is the two-level census recipe — facts fold
    // once into a (type, minute) table (bounded by the time span), the
    // per-type baseline is a types-sized aggregate broadcast back, and
    // the burst predicate is integer cross-multiplication (n·active ≥
    // 3·total), no division, no doubles. ss17 is one equi full-outer
    // join on the id domain folded to a 1-row census — the referential
    // audit every serving deployment runs before switching an index
    // live.
    "ev37_burst_minutes" -> { (s, d) =>
      burstCensus(Tables.events(s, d)
        .select(col("event_type"),
          expr(graft.functions.Det.truncDiv("unix_micros(ts)", 60000000L)).as("minute"))
        .groupBy(col("event_type"), col("minute"))
        .agg(count(lit(1)).as("n")))
    },

    // --- ev38: burst alerting THROUGH Structured Streaming ------------
    // The alerting half of ev37: minute cells maintained by the
    // streaming engine (tumbling window, complete mode — production
    // runs append+watermark and alerts on finalized minutes), burst
    // census applied to the snapshot with the SAME shared math as
    // the batch side, gated by the same oracle. Spec additionally
    // pins streamed === batch.
    //
    // Posture notes: ev38 is ev37's lambda twin — the minute cells
    // aggregate THROUGH Structured Streaming (readStream → 1-minute
    // tumbling window → snapshot) and the identical burst math
    // ([[burstCensus]], one definition for both halves) runs
    // on the snapshot; the DuckDB gate is the same census the batch
    // side answers to. ss18 is one posexplode + hash aggregate to a
    // dims-sized table with integer-fixed-point sums (Σv² through
    // decimal, the ev28 recipe), so mean/variance are engine-exact.
    "ev38_stream_bursts" -> { (s, d) =>
      val cells = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .groupBy(col("event_type"), window(col("ts"), "1 minute").as("w"))
        .agg(count(lit(1)).as("n"))
      val snap = graft.streaming.StreamJobs
        .runMemorySnapshot(cells, "graft_ev38_mem", "complete")
        .select(col("event_type"),
          expr("unix_micros(w.start) div 60000000").as("minute"), col("n"))
      // burstCensus self-joins its input; a memory-sink View cannot be
      // self-joined (MemoryPlan attributes don't deduplicate →
      // "conflicting references"). localCheckpoint rebases the
      // already-materialized snapshot onto a LogicalRDD, which can.
      burstCensus(snap.localCheckpoint(true))
    },

    // --- ev39: session-profile census ---------------------------------
    // What does a "session" actually look like under ev09's 30-min
    // dial? Sessions rebuild with the SAME construction (gap > 1800 s
    // over (ts, event_id) order), then fold by session SIZE: how many
    // sessions have k events, their total/average duration. The
    // size-keyed table is bounded by the longest session; durations
    // are integer epoch-second spans. Read with ev36 (which prices
    // the gap dial itself).
    "ev39_session_profile" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, d)
        .withColumn("t", col("ts").cast("long"))
        .withColumn("prev_s", lag(col("t"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_s").isNull || (col("t") - col("prev_s")) > 1800, 1)
            .otherwise(0))
        .withColumn("sess_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("sz"),
          (max(col("t")) - min(col("t"))).as("dur_s"))
      sess.groupBy(col("sz"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("dur_s")).cast("long").as("sum_dur_s"),
          max(col("dur_s")).as("max_dur_s"))
        .withColumn("avg_dur_s", expr("sum_dur_s div n_sessions"))
        .select(col("sz"), col("n_sessions"), col("avg_dur_s"),
          col("max_dur_s"))
        .orderBy(col("sz"))
    },

    // --- ev40: day-over-day type-mix drift ----------------------------
    // A source whose event-type mix shifts overnight usually means an
    // upstream deploy or a broken producer. Per day: the L1 distance
    // between today's and yesterday's type-share vectors (missing
    // types count their full share — the union of types per day pair
    // is handled by a full outer join on type). Facts fold ONCE into
    // (day, type) cells; everything else runs on the bounded
    // days×types table. drift_fx ∈ [0, 2e6] (2.0 = disjoint mixes).
    //
    // Posture notes: ev40 is the data-drift monitor every ingest
    // pipeline runs — one hash aggregate folds events into (day, type)
    // cells, shares and the day-over-day L1 distance compute on the
    // bounded days×types table (fixed-point, engine-exact). dd24 prices
    // dd02's similarity dial: ONE candidate-pair pass (the shared
    // min-shingle bucket join), a bounded ×|thresholds| literal explode,
    // and a thresholds-sized census — the dup-rate-vs-threshold curve
    // that decides how aggressive the dedup pass should be.
    "ev40_mix_drift" -> { (s, d) =>
      val cells = Tables.events(s, d)
        .select(expr(graft.functions.Det.truncDiv("unix_micros(ts)", 86400000000L)).as("day"),
          col("event_type"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("day_total", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("day"))))
        .withColumn("share_fx", expr(s"(n * $Fx) div day_total"))
      val a = cells.select(col("day"), col("event_type"), col("share_fx"))
      val b = cells.select((col("day") - 1).as("day"), col("event_type"),
        col("share_fx").as("share_next_fx"))
      a.join(b, Seq("day", "event_type"), "full_outer")
        .filter(col("day").isNotNull)
        .groupBy(col("day"))
        .agg(
          sum(abs(coalesce(col("share_fx"), lit(0L)) -
            coalesce(col("share_next_fx"), lit(0L)))).cast("long").as("drift_fx"),
          count(when(col("share_fx").isNotNull && col("share_next_fx").isNotNull, 1))
            .cast("long").as("n_types_both"))
        // the last day has no successor: its b-side is entirely absent,
        // which would read as max drift — report only day pairs where
        // the NEXT day exists (n_types_both > 0 on this feed)
        .filter(col("n_types_both") > 0)
        .select(col("day"), col("drift_fx"), col("n_types_both"))
        .orderBy(col("day"))
    },

    // --- ev41: daily new-vs-returning census --------------------------
    // Growth accounting: each active day splits into users seen for
    // the first time ever and returners. first_day is a MIN window
    // over the (user, day) daily aggregate partitioned by user — the
    // scalable replacement for the facts-vs-first-seen self-join.
    //
    // Posture notes: ev41 derives first-seen via a user-partitioned
    // window over the (user, day) aggregate — no self-join, two keyed
    // shuffles total
    "ev41_new_returning" -> { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"),
          expr(Det.truncDiv("unix_micros(ts)", DayUs)).as("day"))
      val daily = e.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_ev"))
      daily
        .withColumn("first_day",
          min(col("day")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("day"))
        .agg(sum(col("n_ev")).cast("long").as("n_events"),
          count(lit(1)).as("n_active"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .cast("long").as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
        .withColumn("new_share_fx", expr(s"(n_new * $Fx) div n_active"))
        .select(col("day"), col("n_events"), col("n_active"), col("n_new"),
          col("n_returning"), col("new_share_fx"))
        .orderBy(col("day"))
    },

    // --- ev42: first-seen census THROUGH Structured Streaming ---------
    // The streaming half of ev41's growth accounting: per-user MIN(ts)
    // maintained as streaming state (complete mode; the state is
    // O(users) — the canonical, unavoidable cost of exact
    // first-occurrence detection, the same bound streaming dedup
    // carries), snapshot folded to new-users-per-day. Gated by the
    // batch definition; the spec additionally pins it to ev41's n_new
    // column.
    //
    // ev42 keeps O(users) streaming state — the canonical first-
    // occurrence cost — and snapshots it
    "ev42_stream_first_seen" -> { (s, d) =>
      val firsts = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"), col("ts"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
      val snap = graft.streaming.StreamJobs
        .runMemorySnapshot(firsts, "graft_ev42_mem", "complete")
      snap
        .select(expr(Det.truncDiv("unix_micros(first_ts)", DayUs)).as("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_new"))
        .orderBy(col("day"))
    },

    // --- ev43: session-gap sensitivity sweep --------------------------
    // ev09 hard-codes the 30-minute session gap; this is the dial
    // study that justifies it: session counts and mean session size
    // under 5 min / 30 min / 2 h gaps, all three priced from ONE
    // (user-partitioned) lag pass — a session opens where the
    // previous-event gap exceeds T, so n_sessions(T) is a
    // conditional sum over the same gap column. Read with ev36
    // (which histograms the gaps themselves); this turns the
    // histogram into the decision table.
    //
    // Posture notes: ev43 prices ALL gap thresholds from ONE lag-
    // window pass (conditional sums, no per-threshold rerun)
    "ev43_session_gap_sweep" -> { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
      val withPrev = e.withColumn("prev",
        lag(col("us"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      val aggCols = count(lit(1)).cast("long").as("n_events") +:
        GapsS.map { t =>
          sum(when(col("prev").isNull ||
            col("us") - col("prev") > t * 1000000L, 1L).otherwise(0L))
            .cast("long").as(s"s$t")
        }
      val counts = withPrev.agg(aggCols.head, aggCols.tail: _*)
      counts.select(explode(array(GapsS.map { t =>
          struct(lit(t).as("gap_s"), col(s"s$t").as("n_sessions"),
            col("n_events").as("n_events"))
        }: _*)).as("r"))
        .select(col("r.gap_s"), col("r.n_sessions"), col("r.n_events"))
        .withColumn("events_per_session_fx",
          expr(s"(n_events * $Fx) div n_sessions"))
        .orderBy(col("gap_s"))
    },

    // --- ev44: exact hourly actives THROUGH Structured Streaming ------
    // ev11 streams hourly event counts; this streams hourly DISTINCT
    // USERS exactly: the stream folds to (hour, user) cells (state =
    // active pairs, the exact-distinct bound; production bounds it
    // with a watermark on the hour), and the distinct fold finishes
    // on the snapshot. Oracle is the batch COUNT(DISTINCT) — so the
    // gate proves the streaming path loses and invents nobody.
    //
    // ev44 keeps (hour, user) streaming state — the exact-distinct
    // analog of ev11's windowed counts — and finishes the distinct
    // fold on the bounded snapshot.
    "ev44_stream_hourly_actives" -> { (s, d) =>
      val pairs = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val snap = graft.streaming.StreamJobs
        .runMemorySnapshot(pairs, "graft_ev44_mem", "complete")
      snap.groupBy(col("hour_ts"))
        .agg(count(lit(1)).as("n_active"),
          sum(col("n")).cast("long").as("n_events"))
        .withColumn("events_per_user_fx", expr(s"(n_events * $Fx) div n_active"))
        .orderBy(col("hour_ts"))
    },

    // --- ev45: streaming as-of enrichment, oracle-gated ----------------
    // ev15 gates the BATCH as-of (custom AsOfJoinExec); this drives
    // the STREAMING carry-forward (flatMapGroupsWithState, one
    // carried version per user — the reference's in-memory metadata
    // cache bound) over the same click/purchase feed and folds the
    // enriched stream to a per-user census: purchases, enriched
    // purchases, and the micro-unit sum of enriched values. The
    // DuckDB oracle is a native ASOF JOIN — so the gate proves the
    // stateful streaming path computes the exact batch semantics.
    //
    // Posture notes: ev45 promotes the spec-only StreamJobs.streamAsOf
    // component into the oracle gate — O(keys) carried-version state,
    // exactly the reference's enrich-with-state-known-at-delivery-time
    // semantics
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

    // --- ev46: streaming CDC compaction, oracle-gated ------------------
    // ev22 computes the compacted changelog declaratively; this runs
    // the STATEFUL stream (StreamJobs.streamCompact — one carried
    // record per key, the compacted-topic bound) over the same feed:
    // event_type rides in the op field ('error' = tombstone, exactly
    // ev22's delete convention), the latest emission per key is the
    // compacted snapshot, and the same census must match ev22's
    // oracle row-for-row.
    //
    // Posture notes: both are flatMapGroupsWithState jobs with the
    // bounded state their Scaladoc claims (one compacted record per key;
    // O(limit) timestamps per key), driven over the event file stream
    // and folded to batch-oracle-checkable censuses.
    "ev46_stream_compact" -> { (s, d) =>
      import graft.streaming.StreamJobs
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id").as("k"),
          expr("unix_micros(ts)").as("ts"),
          col("event_id").as("off"),
          when(col("event_type") === "error", "delete")
            .otherwise(col("event_type")).as("op"),
          col("value").as("v"))
        .as[StreamJobs.ChangeIn]
      val out = StreamJobs.streamCompact(feed)
      val snap = StreamJobs.runMemorySnapshot(out.toDF(), "graft_ev46_mem", "append")
      val latest = snap
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("ts").desc, col("off").desc)))
        .filter(col("rn") === 1 && col("live"))
      latest.groupBy(col("op").as("last_event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("v").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("last_event_type"))
    },

    // --- ev47: streaming rate limiter, oracle-gated ---------------------
    // ev27 audits the trailing-24h admission window as a batch RANGE
    // window; this runs the O(limit)-state streaming limiter
    // (StreamJobs.rateLimit, tie-aware) over the same feed and
    // censuses its per-event verdicts. The oracle is ev27's batch
    // definition minus the burst column (the stream exposes
    // decisions, not window counts) — so the gate proves the bounded
    // state computes the exact sliding-window decision.
    "ev47_stream_rate_limit" -> { (s, d) =>
      import graft.streaming.StreamJobs
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"))
        .as[StreamJobs.RateIn]
      val out = StreamJobs.rateLimit(feed, RateLimit)
      // file snapshot: per-event verdicts are EVENT-proportional — the
      // r13 1000x rung (100M events) killed the memory sink here at
      // 4.4 GiB of driver results; the file sink keeps output
      // distributed (the production shape)
      val snap = StreamJobs.runFileSnapshot(out.toDF())
      snap.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("throttled"), 1L).otherwise(0L)).cast("long").as("n_throttled"),
          countDistinct(when(col("throttled"), col("user_id")))
            .cast("long").as("n_users_throttled"))
        .orderBy(col("event_type"))
    },

    // --- ev48: streaming near-dup, oracle-gated -------------------------
    // dd07 joins banded simhashes in batch; StreamNearDup makes the
    // same decision at ingest time (per-bucket retained signatures,
    // arrival order = doc_id). The census counts docs flagged as
    // near-dups of an EARLIER doc and the distinct flagged pairs —
    // matched against the batch pair definition (shared ≥1 band,
    // hamming ≤ 3, earlier-doc-keeps) in DuckDB.
    //
    // Posture note: the last spec-only stateful component promoted into
    // the oracle gate. The signature table replays as a FILE STREAM (the
    // stand-in for the real ingest log a production deployment tails);
    // state lives per band-bucket with the documented cap — set above
    // this corpus's max occupancy here, so the gate proves the streaming
    // path finds EXACTLY the batch banded join's pairs.
    "ev48_stream_neardup" -> { (s, d) =>
      import graft.streaming.{StreamJobs, StreamNearDup}
      import s.implicits._
      // the ingest log: (doc_id, seq, simhash), seq = doc_id order
      val sigs = Dedup.queries("dd04_simhash")(s, d)
        .select(col("doc_id"), col("doc_id").as("seq"), col("simhash"))
      val dir = java.nio.file.Files.createTempDirectory("graft-ev48-feed").toString
      sigs.write.mode("overwrite").parquet(dir)
      val feed = s.readStream
        .schema(sigs.schema)
        .parquet(dir)
        .as[StreamNearDup.DocSig]
      val hitStream = StreamNearDup.hits(
        StreamNearDup.banded(feed), maxPerBucket = 1 << 20)
      // FILE snapshot, not memory: the hit stream is data-proportional
      // (one row per banded near-dup pair), and a memory sink collects
      // it all to the driver — the sf10 ladder measured 2.1 GiB of
      // task results against the 1 GiB maxResultSize. The file sink
      // keeps the census distributed end to end.
      val snap = StreamJobs.runFileSnapshot(hitStream.toDF())
      // the same pair can fire in up to 4 bands — consumers dedup in
      // foreachBatch; here the census folds distinct pairs
      val pairs = snap.select(col("doc_id"), col("dup_of")).distinct()
      pairs.agg(
        count(lit(1)).cast("long").as("n_pairs"),
        coalesce(countDistinct(col("doc_id")), lit(0L)).cast("long")
          .as("n_dup_docs"),
        coalesce(countDistinct(col("dup_of")), lit(0L)).cast("long")
          .as("n_originals"))
    },

    // --- ev49: watermarked stream-stream interval join -----------------
    // ev17 answers "purchases pick up same-user clicks from the prior
    // 30 minutes" as a batch binned equi-join; this runs the SAME
    // correlation through Spark's native stream-stream join
    // (StreamJobs.intervalJoin: clicks stream × purchases stream,
    // both watermarked so join state is bounded and evicted — the
    // 100 TB-viable form of cross-topic correlation). The pair stream
    // folds to ev17's exact census, so the gate proves the stateful
    // streaming join computes the batch answer. Two independent
    // readStream lineages (not a self-join) keep attribute resolution
    // unambiguous.
    //
    // Posture notes: ev49 runs Spark's NATIVE watermarked stream-
    // stream join (both sides bounded state) and must land on ev17's
    // batch oracle
    "ev49_stream_interval_join" -> { (s, d) =>
      import graft.streaming.StreamJobs
      val clicks = StreamJobs.eventsFileStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("value"))
      val purchases = StreamJobs.eventsFileStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      // inclusive [c_ts, c_ts + 30 min] window on the purchase side =
      // ev17's [p_ts - 30 min, p_ts] window on the click side.
      // AvailableNow over one file: a deliberately lagging watermark
      // (1 hour) never evicts state before the single micro-batch
      // finishes, so the join is exact; on a live feed the same job
      // holds ~(bound + watermark) of state per side; ev82 reports
      // the per-type delay a live feed's lateness needs.
      val l = clicks.withWatermark("c_ts", "1 hour")
      val r = purchases.withWatermark("p_ts", "1 hour")
      val pairs = l.join(r,
        l("user_id") === r("p_user") &&
          r("p_ts") >= l("c_ts") &&
          r("p_ts") <= l("c_ts") + expr("INTERVAL 30 MINUTES"))
      // file snapshot: the pair stream grows linearly with events
      // (r13 1000x rung: event-proportional memory sinks die on
      // driver result size)
      val snap = StreamJobs.runFileSnapshot(
        pairs.select(col("event_id"), col("value")))
      snap.groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("event_id"))
    },

    // --- ev50: streaming upsert sink, oracle-gated ---------------------
    // ev22 defines compacted-topic materialization declaratively and
    // ev46 proves the stateful stream computes it; this closes the
    // remaining gap to DURABLE storage: the event stream drives
    // foreachBatch → Sinks.upsertByKey (latest-version-wins keyed
    // parquet store with tombstone deletes and the stage→swap crash
    // protocol), and the census of the STORE ON DISK must match
    // ev22's oracle. Version is the (ts, offset) struct — struct
    // ordering is lexicographic, exactly ev22's record order.
    //
    // Posture notes: ev50 drives foreachBatch + Sinks.upsertByKey —
    // the stage-and-swap parquet store — end to end and must land on
    // ev22's batch oracle
    "ev50_stream_upsert_sink" -> { (s, d) =>
      import graft.streaming.StreamJobs
      val root = java.nio.file.Files.createTempDirectory("graft_ev50_").toString
      val store = s"$root/store"
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id").as("k"),
          struct(expr("unix_micros(ts)").as("us"), col("event_id").as("off"))
            .as("version"),
          col("event_type"), col("value"),
          (col("event_type") === "error").as("deleted"))
      val q = feed.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.sinks.Sinks.upsertByKey(b.toDF(), store, "k", "version")
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(store)
        .groupBy(col("event_type").as("last_event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("last_event_type"))
    },

    // --- ev51: streaming sessionizer, oracle-gated ---------------------
    // The event stream drives StreamJobs.sessionize (explicit
    // per-user state, O(1) per key: start/last/count — state is
    // REMOVED on idle timeout in live runs), and the emitted
    // completed sessions fold to a census by session size. One
    // stateful shuffle on user_id; the census table is bounded by
    // the largest session.
    //
    // Gate semantics: the sessionizer emits a session when the NEXT
    // event's gap closes it (plus idle-timeout flushes on a live feed
    // that an AvailableNow run does not take), so the oracle counts
    // COMPLETED sessions — every session except each user's final one.
    // That subset is exactly what the reference-style "only emit
    // finished work" contract produces, and it is batch-replayable in
    // SQL, so the stateful path is provable against DuckDB.
    "ev51_stream_sessions" -> { (s, d) =>
      import graft.streaming.StreamJobs
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"), col("ts"))
        .as[StreamJobs.SessionEvent]
      val out = StreamJobs.sessionize(feed, GapSec, flushIdle = false)
      // file snapshot: completed sessions are EVENT-proportional — the
      // r13 1000x rung drove the memory sink into serialization
      // distress at 100M events; the file sink keeps output distributed
      val snap = StreamJobs.runFileSnapshot(out.toDF())
      snap.groupBy(col("n_events"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("duration_sec")).cast("long").as("total_duration_sec"))
        .orderBy(col("n_events"))
    },

    // --- ev52: dead-letter replay loop ---------------------------------
    // ev16 splits valid/dead; operations then FIX the dead letters
    // and replay them. This runs that loop end to end under the
    // oracle: the ev16 corruption (trailing '!' on every 7th event
    // name) is repaired by the deterministic fix (strip trailing
    // '!'), repaired events re-validate against the same NEP name
    // regex, and the census proves first-pass + replayed = total
    // with zero still-dead. One pass: validity before AND after the
    // fix come from the same projection — the replay never re-scans.
    //
    // Posture notes: ev52 is ev16's single-pass
    // render→extract→validate pipeline with the FIX applied in the
    // same projection (no second pass over the corpus, no DLQ re-scan)
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

    // --- ev53: backfill + live-stream seam reconciliation --------------
    // Standing up a pipeline against years of history runs a batch
    // BACKFILL to a cutover point and a STREAM from there; the trap
    // is the seam (gap → lost records, naive overlap → double
    // counts). This runs the real shape: batch side = events before
    // the cutover, stream side = the file stream filtered to
    // (cutover - overlap) onward — deliberately overlapping — union,
    // offset-key dedup, census. The oracle is the census of the
    // SINGLE source table: the seam must be invisible.
    //
    // Posture note: the union is two narrow scans; the seam dedup is
    // dropDuplicates on the offset key — one shuffle on event_id — and
    // the census must equal the single-source oracle, proving the
    // overlap window introduces no double counting.
    "ev53_backfill_seam" -> { (s, d) =>
      import graft.streaming.StreamJobs
      val cut = lit(Cutover).cast("timestamp")
      val batch = Tables.events(s, d)
        .filter(col("ts") < cut)
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      val streamed = StreamJobs.eventsFileStream(s, d)
        .filter(col("ts") >= cut - expr(s"INTERVAL $OverlapSec SECONDS"))
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      // file snapshot: the overlap window's rows scale with events
      // (r13 1000x rung: event-proportional memory sinks die on
      // driver result size)
      val live = StreamJobs.runFileSnapshot(streamed)
      batch.unionByName(live)
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          countDistinct(col("user_id")).cast("long").as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    },

    // --- ev54: producer-epoch zombie fencing ---------------------------
    // Exactly-once producers carry (producer id, epoch); a restarted
    // producer bumps the epoch and the broker FENCES late records
    // from the old one (zombies). Batch replay of that rule: per
    // producer (user-hash), offset order = event_id, epoch derived
    // from the offset; every 97th record is deterministically
    // regressed one epoch (the injected zombie, ev16's fault-
    // injection convention) and must be rejected by the running-max
    // fence. Census: totals, fenced count, affected producers — and
    // the fence must catch EXACTLY the injected set (spec + oracle).
    //
    // Posture notes: ev54 is one running-max window partitioned by the
    // producer key (the fencing decision is per-producer state,
    // exactly what a broker holds)
    "ev54_producer_fencing" -> { (s, d) =>
      val byProducer = Window.partitionBy(col("producer"))
        .orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val e = Tables.events(s, d)
        .select(col("event_id"), pmod(col("user_id"), lit(16)).as("producer"))
        .withColumn("epoch_base", expr("(event_id div 2048) % 4"))
        .withColumn("epoch", when(pmod(col("event_id"), lit(97)) === 0,
          col("epoch_base") - 1).otherwise(col("epoch_base")))
        .withColumn("hwm", max(col("epoch")).over(byProducer))
        .withColumn("fenced", col("hwm").isNotNull && col("epoch") < col("hwm"))
      e.agg(count(lit(1)).cast("long").as("n_records"),
          sum(when(col("fenced"), 1L).otherwise(0L)).cast("long").as("n_fenced"),
          countDistinct(when(col("fenced"), col("producer")))
            .cast("long").as("producers_fenced"))
        .withColumn("fenced_share_fx", expr(s"(n_fenced * $Fx) div n_records"))
    },

    // --- ev55: changelog-delta view maintenance ------------------------
    // A materialized per-type (users, sum) view maintained from CDC
    // deltas instead of recomputation: each record emits +1/+value
    // under ITS type (unless it is a tombstone) and −1/−value under
    // its PREDECESSOR's type (the retraction — Flink's changelog
    // algebra). Folding all deltas must equal the ev22 compacted
    // census exactly: adds and retracts cancel through every
    // intermediate version, leaving precisely the live latest state.
    //
    // Posture notes: ev55 derives the +/− delta stream with one lag
    // window per key and folds it with one aggregate — the Flink-style
    // changelog algebra, provably landing on ev22's compacted census
    // (the third independent mechanism gated against that oracle, after
    // the declarative ev22 and the stateful ev46/ev50). q54 runs
    // Rank.ntileExact twice (no global sort windows) and joins the two
    // decile frames co-partitioned on the customer key.
    "ev55_retraction_view" -> { (s, d) =>
      val byKey = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val recs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), expr("unix_micros(ts)").as("us"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byKey))
        .withColumn("prev_value", lag(col("value"), 1).over(byKey))
        .withColumn("prev_dead", lag(col("event_type") === "error", 1).over(byKey))
      // adds: the record's own (type, value) when not a tombstone;
      // retracts: the predecessor's (type, value) when that
      // predecessor was live
      val adds = recs.filter(col("event_type") =!= "error")
        .select(col("event_type").as("t"), lit(1L).as("dn"),
          col("value").cast("decimal(18,6)").as("dv"))
      val retracts = recs.filter(col("prev_type").isNotNull && !col("prev_dead"))
        .select(col("prev_type").as("t"), lit(-1L).as("dn"),
          (-col("prev_value")).cast("decimal(18,6)").as("dv"))
      adds.unionByName(retracts)
        .groupBy(col("t").as("last_event_type"))
        .agg(sum(col("dn")).cast("long").as("n_users"),
          sum(col("dv")).cast("double").as("sum_value"))
        .filter(col("n_users") > 0)
        .orderBy(col("last_event_type"))
    },

    // --- ev56: per-partition watermark skew ------------------------------
    // A stream's watermark is the MINIMUM of its partitions' event-
    // time frontiers, so one stalled partition stalls every window
    // downstream. Per partition (user-hash layout): records, frontier
    // (max event time), lag behind the global tip, and whether it
    // holds the watermark back more than 5 minutes — the page that
    // tells an operator WHICH partition to go look at. Per-partition
    // fold + a 1-row global tip broadcast.
    //
    // ev56 folds the stream to per- partition max event times (a
    // |partitions|-row table) and compares against the global tip
    // broadcast.
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
    },

    // --- ev57: backpressure / consumer sizing ----------------------------
    // Little's law applied to topic sizing: per event type, the mean
    // and peak per-minute arrival rates over the type's active span,
    // the burst ratio, and the consumer counts that drain mean vs
    // peak load at a fixed per-consumer rate — the capacity page
    // that says which topics need partitions, not threads. A topic
    // sized for its mean but bursting 3x stalls its consumer group
    // exactly when traffic matters.
    //
    // Posture notes: ev57 folds the stream to per-(type, minute) counts
    // (ONE fact aggregate, map-side combinable) and sizes consumers
    // from the |types|-row summary. dd32 reuses dd03's banded candidate
    // join (bucketed equi-join, never all-pairs) and pays the exact
    // verify only on the shortlist, slim-pair style — arrays rejoin
    // from the barriered shingle table for survivors only.
    "ev57_consumer_sizing" -> { (s, d) =>
      val perMin = Tables.events(s, d)
        .select(col("event_type"),
          expr(Det.truncDiv("unix_micros(ts)", 60000000L)).as("minute"))
        .groupBy(col("event_type"), col("minute"))
        .agg(count(lit(1)).cast("long").as("n"))
      perMin.groupBy(col("event_type"))
        .agg(
          sum(col("n")).cast("long").as("n_events"),
          (max(col("minute")) - min(col("minute")) + 1L).as("span_min"),
          max(col("n")).cast("long").as("peak_rate"))
        .withColumn("mean_rate_fx", expr(s"(n_events * $Fx) div span_min"))
        .withColumn("burst_fx", expr(s"(peak_rate * $Fx * span_min) div n_events"))
        .withColumn("consumers_mean",
          expr(s"(n_events + $ConsumerRate * span_min - 1) div ($ConsumerRate * span_min)"))
        .withColumn("consumers_peak",
          expr(s"(peak_rate + ${ConsumerRate - 1}) div $ConsumerRate"))
        .select(col("event_type"), col("n_events"), col("span_min"),
          col("mean_rate_fx"), col("peak_rate"), col("burst_fx"),
          col("consumers_mean"), col("consumers_peak"))
        .orderBy(col("event_type"))
    },

    // --- ev58: value-drift TVD census ------------------------------------
    // Production drift monitoring for a numeric stream: exact global
    // value deciles (cut from the full window), then each decile's
    // share in the first vs second half of the time range. The
    // per-decile |p − q| column sums to 2·TVD — the alarm number —
    // while the per-decile signs say WHERE the distribution moved
    // (mass leaving low deciles = values trending up).
    //
    // Posture notes: ev58 tiles values with Rank.ntileExact (no global
    // sort window at scale) and folds to a 10-row decile × half
    // census; the only broadcast is the 1-row time-bounds aggregate.
    // q58 is one fact shuffle on the order key (map-side partial sums)
    // joined to orders, folded to a |status|-row report — all money in
    // integer cents/basis points so both engines agree bit-for-bit.
    "ev58_value_drift_tvd" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"), expr("unix_micros(ts)").as("us"))
      // integer midpoint with `div` — `/` is double division in both
      // engines and DuckDB's BIGINT cast ROUNDS where Spark truncates
      val bounds = ev.agg(min(col("us")).as("min_us"), max(col("us")).as("max_us"))
        .select(expr("(min_us + max_us) div 2").as("mid_us"))
      val tiled = Rank.ntileExact(
        ev.crossJoin(broadcast(bounds))
          .withColumn("half", when(col("us") <= col("mid_us"), 1L).otherwise(2L)),
        10, "decile", col("value"), Seq(col("event_id")))
      val census = tiled.groupBy(col("decile"))
        .agg(sum(when(col("half") === 1L, 1L).otherwise(0L)).cast("long").as("n_h1"),
          sum(when(col("half") === 2L, 1L).otherwise(0L)).cast("long").as("n_h2"))
      val totals = census.agg(sum(col("n_h1")).cast("long").as("t1"),
        sum(col("n_h2")).cast("long").as("t2"))
      census.crossJoin(broadcast(totals))
        .withColumn("p_fx", expr(s"(n_h1 * $Fx) div t1"))
        .withColumn("q_fx", expr(s"(n_h2 * $Fx) div t2"))
        .withColumn("abs_diff_fx", abs(col("p_fx") - col("q_fx")))
        .select(col("decile").cast("int").as("decile"), col("n_h1"), col("n_h2"),
          col("p_fx"), col("q_fx"), col("abs_diff_fx"))
        .orderBy(col("decile"))
    },

    // --- ev59: rebalance cost, modulo vs rendezvous ----------------------
    // Scaling a consumer group 2 → 3 reassigns partitions; every
    // moved partition replays state. Modulo assignment (p % W) moves
    // almost everything when W changes; rendezvous hashing moves the
    // theoretical minimum (~1/W_new). Per strategy: partitions
    // moved, event mass affected, moved share — the page that says
    // which assignment policy a stateful consumer group can afford.
    //
    // Posture notes: ev59 folds the stream once to per-partition loads
    // (bounded table), then evaluates both assignment strategies over
    // |partitions| × |consumers| exploded rows — all bounded, the fact
    // table is touched once. q61's bottom-k runs through
    // Rank.topKByKey (salted, no whole-group sort task); the estimate
    // arithmetic is pure integer against the 2^60 hash space — EXACTLY
    // oracle-gated, like q13's relational HLL (Sketch.hllDistinct)
    // since round 13.
    "ev59_rebalance_cost" -> { (s, d) =>
      val loads = Tables.events(s, d)
        .select(pmod(col("user_id"), lit(ScaleParts)).as("p"))
        .groupBy(col("p"))
        .agg(count(lit(1)).cast("long").as("n_events"))
      val assigned = loads
        .withColumn("mod_old", pmod(col("p"), lit(WOld.toLong)))
        .withColumn("mod_new", pmod(col("p"), lit(WNew.toLong)))
        .withColumn("rdv_old", rendezvousOwner(col("p"), WOld))
        .withColumn("rdv_new", rendezvousOwner(col("p"), WNew))
      val perStrategy = assigned.select(
        explode(array(
          struct(lit("modulo").as("strategy"),
            (col("mod_old") =!= col("mod_new")).as("moved"),
            col("n_events")),
          struct(lit("rendezvous").as("strategy"),
            (col("rdv_old") =!= col("rdv_new")).as("moved"),
            col("n_events")))).as("s"))
        .select(col("s.strategy").as("strategy"), col("s.moved").as("moved"),
          col("s.n_events").as("n_events"))
      perStrategy.groupBy(col("strategy"))
        .agg(count(lit(1)).cast("long").as("n_partitions"),
          sum(when(col("moved"), 1L).otherwise(0L)).cast("long").as("n_moved"),
          sum(when(col("moved"), col("n_events")).otherwise(0L)).cast("long")
            .as("events_affected"),
          sum(col("n_events")).cast("long").as("events_total"))
        .withColumn("moved_share_fx", expr(s"(events_affected * $Fx) div events_total"))
        .select(col("strategy"), col("n_partitions"), col("n_moved"),
          col("events_affected"), col("moved_share_fx"))
        .orderBy(col("strategy"))
    },

    // --- ev60: dedup-window sweep ----------------------------------------
    // dropDuplicatesWithinWatermark state is priced by its window:
    // too short leaks duplicates downstream, too long holds state.
    // Replays (ev33's 1-in-10 hash sample) arrive with a
    // hash-derived delay in (0, 2h]; per candidate window: replays
    // caught (delay ≤ W), leaked, the leak share, and the mean state
    // rows the window holds (events·W / span) — the page that picks
    // W from measured redelivery lag instead of folklore.
    //
    // Posture notes: ev60 derives the replay stream with the ev33
    // hash-sample recipe (no data motion beyond one fact fold) and
    // prices each candidate window on the |windows|-row summary. q62
    // is one user-keyed fact-fact equi-join (purchases gather their
    // own user's prior clicks; the range predicate rides the join) —
    // the ev17 interval recipe — folded to a 24-row hour census.
    "ev60_dedup_window_sweep" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), expr("unix_micros(ts)").as("us"))
      val replays = ev
        .filter(pmod(Hashing.hash64(col("event_id").cast("string")),
          lit(ReplaySampleMod)) === 0)
        .withColumn("delay_s",
          pmod(Hashing.hash64(concat_ws("|", col("event_id").cast("string"),
            lit("d"))), lit(MaxDelayS)) + 1L)
      val rstats = replays.agg(count(lit(1)).cast("long").as("n_replays"))
      val estats = ev.agg(count(lit(1)).cast("long").as("n_events"),
        expr("(max(us) - min(us)) div 1000000").as("span_s"))
      val caught = replays
        .select(explode(typedLit(Windows)).as("w_s"), col("delay_s"))
        .groupBy(col("w_s"))
        .agg(sum(when(col("delay_s") <= col("w_s"), 1L).otherwise(0L))
          .cast("long").as("n_caught"))
      caught.crossJoin(broadcast(rstats)).crossJoin(broadcast(estats))
        .withColumn("n_leaked", col("n_replays") - col("n_caught"))
        .withColumn("leak_fx", expr(s"(n_leaked * $Fx) div n_replays"))
        .withColumn("state_rows", expr("(n_events * w_s) div span_s"))
        .select(col("w_s"), col("n_replays"), col("n_caught"),
          col("n_leaked"), col("leak_fx"), col("state_rows"))
        .orderBy(col("w_s"))
    },

    // --- ev61: SLO burn rate ---------------------------------------------
    // The SRE error-budget alert evaluated exactly: per hour, the
    // error share vs the stream's overall baseline, as a burn rate
    // (1.0 = budget-neutral), with the standard 2x slow-burn and 6x
    // fast-burn alert flags — the page that says WHICH hours would
    // have paged. One hour-keyed fold; the baseline is a 1-row
    // broadcast.
    "ev61_slo_burn_rate" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(expr(Det.truncDiv("unix_micros(ts)", 3600000000L)).as("hour"),
          (col("event_type") === "error").as("is_err"))
      val hours = ev.groupBy(col("hour"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(when(col("is_err"), 1L).otherwise(0L)).cast("long").as("n_errors"))
      val base = hours.agg(sum(col("n_events")).cast("long").as("t_events"),
        sum(col("n_errors")).cast("long").as("t_errors"))
      hours.crossJoin(broadcast(base))
        // overflow-safe two-step: fixed-point shares first, then the
        // ratio (n_errors·t_events·Fx would overflow at fleet scale)
        .withColumn("err_fx", expr(s"(n_errors * $Fx) div n_events"))
        .withColumn("base_fx", expr(s"(t_errors * $Fx) div t_events"))
        .withColumn("burn_fx", expr(s"(err_fx * $Fx) div base_fx"))
        .withColumn("slow_alert", col("burn_fx") >= SlowBurnFx)
        .withColumn("fast_alert", col("burn_fx") >= FastBurnFx)
        .select(col("hour"), col("n_events"), col("n_errors"),
          col("err_fx"), col("burn_fx"), col("slow_alert"),
          col("fast_alert"))
        .orderBy(col("hour"))
    },

    // --- ev62: session state-store sizing --------------------------------
    // flatMapGroupsWithState memory is peak CONCURRENT sessions, not
    // total: per candidate gap (10/30/60 min), the session count and
    // the exact peak concurrency — a session occupies state from its
    // first event until last event + gap (the timeout that evicts
    // it). Peak via two-level prefix sums: hour-bucket partials, a
    // prefix over the bounded hour table, within-hour running sums
    // offset by the carry — exact, no global window.
    "ev62_state_store_sizing" -> { (s, d) =>
      // the per-user lag is gap-independent: compute it ONCE behind a
      // barrier and let the three sweep arms reuse the cached frame
      // (one fact window pass instead of three)
      val wu = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val ev = Dedup.barrier(Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(wu)))
      val results = Gaps.map { g =>
        val gUs = g * 1000000L
        // each arm reads its session table twice (delta stream +
        // count): cache it so the window pass runs once per arm
        val sessions = Dedup.barrierAlso(ev
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              col("us") - col("prev_us") > gUs, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(min(col("us")).as("start_us"),
            (max(col("us")) + gUs).as("evict_us")))
        val deltas = sessions.select(
          explode(array(
            struct(col("start_us").as("t"), lit(1L).as("delta")),
            struct(col("evict_us").as("t"), lit(-1L).as("delta")))).as("e"))
          .select(col("e.t").as("t"), col("e.delta").as("delta"))
          .withColumn("hour", expr(Det.truncDiv("t", 3600000000L)))
        val hourTotals = deltas.groupBy(col("hour"))
          .agg(sum(col("delta")).as("hour_delta"))
          .withColumn("carry_in",
            coalesce(sum(col("hour_delta")).over(
              Window.orderBy(col("hour"))
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val wh = Window.partitionBy(col("hour"))
          .orderBy(col("t"), col("delta"))
        val peak = deltas
          .withColumn("run_in_hour", sum(col("delta")).over(
            wh.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(hourTotals.select(col("hour"), col("carry_in")), Seq("hour"))
          .agg(max(col("carry_in") + col("run_in_hour")).cast("long")
            .as("peak_concurrent"))
        sessions.agg(count(lit(1)).cast("long").as("n_sessions"))
          .crossJoin(broadcast(peak))
          .select(lit(g).as("gap_s"), col("n_sessions"), col("peak_concurrent"))
      }
      results.reduce(_ unionByName _).orderBy(col("gap_s"))
    },

    // --- ev63: hourly resample with linear interpolation -----------------
    // The time-series primitive every monitoring stack needs: the
    // stream's mean value per hour on a DENSE hourly grid, with
    // empty hours linearly interpolated between their surrounding
    // observations (edges clamp to the nearest). Output: hour,
    // observed count, value in fixed point, and whether the point is
    // real or interpolated.
    //
    // Posture notes: ev63 folds facts to the bounded hour table once,
    // densifies it from broadcast bounds (sequence explode over ONE
    // row), and interpolates with last/next-value windows over that
    // aggregate frame — the time-series resampling pattern with no
    // fact-sized window. q67 is closed-form OLS over per-(group, day)
    // partials — two bounded folds, no iteration.
    "ev63_resample_interpolate" -> { (s, d) =>
      val hours = Tables.events(s, d)
        .select(expr(Det.truncDiv("unix_micros(ts)", 3600000000L)).as("hour"),
          col("value"))
        .groupBy(col("hour"))
        // floor before the long cast: DuckDB's decimal→BIGINT cast
        // ROUNDS where Spark truncates
        .agg(count(lit(1)).cast("long").as("n"),
          floor(sum(col("value").cast("decimal(18,6)")) * Fx)
            .cast("long").as("sum_fx"))
        .withColumn("val_fx", expr("sum_fx div n"))
      val bounds = hours.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      val grid = broadcast(bounds)
        .select(explode(sequence(col("lo"), col("hi"))).as("hour"))
      val w = Window.orderBy(col("hour"))
      val dense = grid.join(hours.select(col("hour"), col("n"), col("val_fx")),
          Seq("hour"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("prev_val", last(col("val_fx"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("prev_hour", last(when(col("val_fx").isNotNull, col("hour")),
          ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("next_val", first(col("val_fx"), ignoreNulls = true)
          .over(w.rowsBetween(1, Window.unboundedFollowing)))
        .withColumn("next_hour", first(when(col("val_fx").isNotNull, col("hour")),
          ignoreNulls = true).over(w.rowsBetween(1, Window.unboundedFollowing)))
      dense
        .withColumn("interpolated", col("val_fx").isNull)
        .withColumn("out_fx",
          when(col("val_fx").isNotNull, col("val_fx"))
            .when(col("prev_val").isNull, col("next_val"))
            .when(col("next_val").isNull, col("prev_val"))
            .otherwise(expr(
              """prev_val + ((next_val - prev_val) * (hour - prev_hour))
                | div (next_hour - prev_hour)""".stripMargin)))
        .select(col("hour"), col("n"), col("out_fx"), col("interpolated"))
        .orderBy(col("hour"))
    },

    // --- ev64: compaction-debt growth curve ------------------------------
    // A latest-wins keyed store (ev22's) accumulates dead versions
    // until compaction: per day, records written, records that are
    // ALREADY superseded by a newer version of their key as of the
    // data tip, and the cumulative dead share — the debt curve whose
    // slope says how often compaction must run. Per-user windows
    // mark supersession; the census folds to days.
    "ev64_compaction_debt" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("us").desc, col("event_id").desc)
      val recs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("rn", row_number().over(wu))
        .withColumn("dead", col("rn") > 1)
        .withColumn("day", expr(Det.truncDiv("us", 86400000000L)))
      val daily = recs.groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("n_written"),
          sum(when(col("dead"), 1L).otherwise(0L)).cast("long").as("n_dead"))
      val wd = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum_written", sum(col("n_written")).over(wd).cast("long"))
        .withColumn("cum_dead", sum(col("n_dead")).over(wd).cast("long"))
        .withColumn("debt_fx", expr(s"(cum_dead * $Fx) div cum_written"))
        .select(col("day"), col("n_written"), col("n_dead"),
          col("cum_written"), col("cum_dead"), col("debt_fx"))
        .orderBy(col("day"))
    },

    // --- ev65: conversion latency percentiles ----------------------------
    // Product analytics' time-to-convert: per signup cohort month,
    // users converting (first purchase after first signup), and the
    // exact p50/p90 latency hours via the histogram-CDF recipe —
    // plus the conversion share. The funnel pair is one user-keyed
    // fold; percentiles never sort rows.
    //
    // Posture notes: ev65 reuses q43's histogram-CDF percentile recipe
    // (per-cohort partitioned windows over the bounded latency
    // histogram, no row-level sort). dd35's merged signatures are ONE
    // map-side-combinable fold of the (source, shingle) table — the
    // sketch-algebra point: a source's signature is the min-merge of
    // its documents', so corpus-level similarity costs |sources|·k
    // state, not a gram join; the exact arm (dd16's equi-join) is kept
    // only as the measured error reference.
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

    // --- ev67: behavioral-regularity bands -------------------------------
    // Bots keep time; humans don't: per user (≥ 5 events), the
    // squared coefficient of variation of inter-arrival gaps — a
    // metronome scores ~0, a Poisson process ~1, bursty humans > 1.
    // Censused as CV² bands with user and event mass — the
    // automation-share page a platform-integrity team reads before
    // touching any single account.
    //
    // Posture note: per-user windows (entity-partitioned) fold each
    // user to three gap moments; the banding and census run on the
    // users-sized table. Squares go through engine-identical doubles
    // under trunc4 (second-per-gap integers first, so the double is
    // exact far beyond any realistic gap).
    "ev67_bot_regularity" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val gaps = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
        .withColumn("gap_s",
          expr(Det.truncDiv("us - lag(us, 1) OVER " +
            "(PARTITION BY user_id ORDER BY us, event_id)", 1000000L)))
        .filter(col("gap_s").isNotNull)
      val users = gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_g"),
          sum(col("gap_s")).cast("long").as("sg"),
          sum(col("gap_s") * col("gap_s")).cast("long").as("sgg"),
          (count(lit(1)) + 1L).cast("long").as("n_events"))
        .filter(col("n_events") >= MinEvents && col("sg") > 0L)
        .withColumn("cv2_4", Det.trunc4(
          (col("n_g").cast("double") * col("sgg").cast("double") -
            col("sg").cast("double") * col("sg").cast("double")) /
            (col("sg").cast("double") * col("sg").cast("double"))))
      val banded = users.withColumn("band",
        when(col("cv2_4") < 0.25, lit("0_metronome"))
          .when(col("cv2_4") < 0.5, lit("1_regular"))
          .when(col("cv2_4") < 1.0, lit("2_steady"))
          .when(col("cv2_4") < 2.0, lit("3_poissonish"))
          .otherwise(lit("4_bursty")))
      val totals = banded.agg(count(lit(1)).cast("long").as("t_users"))
      banded.groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("n_events")).cast("long").as("n_events"))
        .crossJoin(broadcast(totals))
        .withColumn("user_share_fx", expr(s"(n_users * $Fx) div t_users"))
        .select(col("band"), col("n_users"), col("n_events"),
          col("user_share_fx"))
        .orderBy(col("band"))
    },

    // --- ev68: engagement ramp -------------------------------------------
    // Retention says WHO comes back; the ramp says HOW MUCH: per
    // user-age day (days since the user's first event), active
    // users, events, and events per active user — the burn-in curve
    // that separates a sticky product (ramp up) from a churn funnel
    // (spike then decay). One fold keyed by (user, age_day), then
    // the bounded age census.
    //
    // Posture notes: ev68 is one fact fold keyed by (user, age-day)
    // then an age-day census — user-relative keys need no global
    // anything. q72 derives per-customer order gaps with
    // customer-partitioned windows, quartiles customers with
    // Rank.ntileExact, and reads gap percentiles off the histogram-CDF
    // recipe per quartile.
    "ev68_engagement_ramp" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr(Det.truncDiv("unix_micros(ts)", 86400000000L))
          .as("day"))
      val firsts = ev.groupBy(col("user_id")).agg(min(col("day")).as("day0"))
      ev.join(firsts, Seq("user_id"))
        .withColumn("age_day", col("day") - col("day0"))
        .groupBy(col("age_day"))
        .agg(countDistinct(col("user_id")).cast("long").as("active_users"),
          count(lit(1)).cast("long").as("n_events"))
        .withColumn("events_per_user_fx",
          expr(s"(n_events * $Fx) div active_users"))
        .select(col("age_day"), col("active_users"), col("n_events"),
          col("events_per_user_fx"))
        .orderBy(col("age_day"))
    },

    // --- ev69: bounce census by hour of day ------------------------------
    // The bounce rate, sessionized: per hour-of-day of session
    // start, sessions started, single-event sessions (bounces), the
    // bounce share, and mean session length — WHEN the product loses
    // people at hello. ev09's 30-minute gap sessions from
    // user-partitioned windows; the census is 24 rows.
    //
    // Posture note: ev09's gap-session definition via user-partitioned
    // windows, folded per session then censused by the 24-row
    // hour-of-day key.
    "ev69_bounce_census" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(wu))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > GapS * 1000000L, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(min(col("us")).as("start_us"),
          count(lit(1)).cast("long").as("n_events"))
      sess
        // symmetric ((h % 24) + 24) % 24 guard on BOTH engine sides
        // (ADVICE r6) — parity-exact for any sign of start_us
        .withColumn("hour",
          expr(s"(((${Det.truncDiv("start_us", 3600000000L)}) % 24 + 24) % 24)").cast("int"))
        .groupBy(col("hour"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L)).cast("long")
            .as("n_bounces"),
          sum(col("n_events")).cast("long").as("n_events"))
        .withColumn("bounce_fx", expr(s"(n_bounces * $Fx) div n_sessions"))
        .withColumn("mean_len_fx", expr(s"(n_events * $Fx) div n_sessions"))
        .select(col("hour"), col("n_sessions"), col("n_bounces"),
          col("bounce_fx"), col("mean_len_fx"))
        .orderBy(col("hour"))
    },

    // --- ev70: alert debounce sweep --------------------------------------
    // ev61 says WHICH hours alert; this prices the pager policy: per
    // candidate debounce window (1/3/6 quiet hours close an
    // episode), raw alert hours collapse into episodes — pages
    // actually sent — with the longest episode length. The
    // flapping-suppression dial, measured. Alert runs from ev61's
    // bounded hourly frame; per-debounce merging via lag windows
    // over that frame.
    "ev70_alert_debounce" -> { (s, d) =>
      val hourly = queries("ev61_slo_burn_rate")(s, d)
        .filter(col("slow_alert"))
        .select(col("hour"))
      val alerts = Dedup.barrier(hourly)
      val results = Debounce.map { db =>
        val w = Window.orderBy(col("hour"))
        val runs = alerts
          .withColumn("prev", lag(col("hour"), 1).over(w))
          .withColumn("new_ep",
            when(col("prev").isNull || col("hour") - col("prev") > db, 1L)
              .otherwise(0L))
          .withColumn("ep", sum(col("new_ep")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("ep"))
          .agg(count(lit(1)).cast("long").as("hours_in_ep"),
            (max(col("hour")) - min(col("hour")) + 1L).as("span_h"))
        runs.agg(count(lit(1)).cast("long").as("n_episodes"),
            sum(col("hours_in_ep")).cast("long").as("alert_hours"),
            max(col("span_h")).cast("long").as("longest_span_h"))
          .select(lit(db).as("debounce_h"), col("n_episodes"),
            col("alert_hours"), col("longest_span_h"))
      }
      results.reduce(_ unionByName _).orderBy(col("debounce_h"))
    },

    // --- ev71: overload → error contingency ------------------------------
    // The incident hypothesis every postmortem tests: do error-heavy
    // minutes FOLLOW high-traffic minutes? The 2×2 contingency of
    // (previous minute ≥ 2× mean traffic) × (this minute's error
    // share ≥ 2× base), each cell with its observed count and the
    // overall lift P(err-heavy | overloaded) / P(err-heavy) — causal
    // reading forbidden, capacity planning encouraged.
    //
    // Posture note: one fact fold to the bounded minute table; the lag
    // window, thresholds and 2×2 census all run on that frame.
    "ev71_overload_errors" -> { (s, d) =>
      val cells = Tables.events(s, d)
        .select(expr(Det.truncDiv("unix_micros(ts)", 60000000L)).as("minute"),
          (col("event_type") === "error").as("is_err"))
        .groupBy(col("minute"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("is_err"), 1L).otherwise(0L)).cast("long").as("n_err"))
      val base = cells.agg(count(lit(1)).cast("long").as("n_min"),
        sum(col("n")).cast("long").as("t_n"),
        sum(col("n_err")).cast("long").as("t_err"))
      val w = Window.orderBy(col("minute"))
      val tagged = cells
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .filter(col("prev_n").isNotNull)
        .crossJoin(broadcast(base))
        .withColumn("overloaded", col("prev_n") * col("n_min") >= lit(2L) * col("t_n"))
        .withColumn("err_heavy",
          col("n_err") * col("t_n") >= lit(2L) * col("n") * col("t_err"))
      val census = tagged.groupBy(col("overloaded"), col("err_heavy"))
        .agg(count(lit(1)).cast("long").as("n_minutes"))
      val lift = tagged.agg(
        sum(when(col("overloaded") && col("err_heavy"), 1L).otherwise(0L))
          .cast("long").as("both"),
        sum(when(col("overloaded"), 1L).otherwise(0L)).cast("long").as("over"),
        sum(when(col("err_heavy"), 1L).otherwise(0L)).cast("long").as("heavy"),
        count(lit(1)).cast("long").as("all_m"))
        .withColumn("lift_fx", expr(
          s"(both * all_m * $Fx) div greatest(over * heavy, 1)"))
        .select(col("lift_fx"))
      census.crossJoin(broadcast(lift))
        .select(col("overloaded"), col("err_heavy"), col("n_minutes"),
          col("lift_fx"))
        .orderBy(col("overloaded"), col("err_heavy"))
    },

    // --- ev72: lake ingest round-trip census (batch) ----------------------
    // encode → the REAL ingest (LakeIngest.outcomeLogs: from_json over
    // the public lake schema + map-only triple unnest) →
    // EventStreams.extractEvents → validated → census. A parse bug
    // anywhere in the schema walk, prefix filter, envelope parse,
    // emit_info wiring or validation flips the gate.
    //
    // ev72/ev73 close the last uncovered reference behavior (VERDICT r6
    // "what's missing" #2): parsing the actual
    // `near_indexer::StreamerMessage` JSON document shape
    // (main.rs:113-141 listen_blocks, events.rs:297-320 extract_events
    // field paths) rather than a synthesized stand-in — ev72 through the
    // batch reader, ev73 through the `readStream` twin over a real file
    // directory, both against the same direct-prediction oracle.
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
    },

    // --- ev74: watermark-lateness quantiles -------------------------------
    // The number that sets every watermark delay: how late do events
    // actually arrive? Frontier = per-user running max event time in
    // arrival order (event_id); lateness = frontier − event time at
    // arrival. Census per event type: exact p50/p90/p99/max lateness
    // via the HISTOGRAM pick (fold to per-(type, late_us) counts, then
    // MIN value whose cumulative count reaches idx = (n−1)·p div 100
    // + 1 — bit-identical to the rank pick, q71's recipe) — the page
    // that turns withWatermark("10 minutes") from folklore into a
    // measured bound. The r11 shape ranked EVERY event per type
    // (row_number over the fact stream — the last fact sort in the
    // chooser lane, 16.0x wall at 100x data); the histogram bounds
    // the sort at the distinct lateness values per type instead.
    "ev74_lateness_quantiles" -> { (s, d) =>
      val wa = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val late = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("frontier", max(col("us")).over(wa))
        .withColumn("late_us", col("frontier") - col("us"))
      Rank.histQuantilesByKey(late, "event_type", col("late_us"),
          Percentiles, p => s"p${p}_us", "max_late_us")
        .withColumnRenamed("n_rows", "n_events")
        .orderBy(col("event_type"))
    },

    // --- ev75: stream-stream join state model ----------------------------
    // ev62 sizes keyed state; this sizes TIME-windowed state: a
    // watermarked interval join retains every row younger than delay
    // D, so retained(minute m) = prefix(m) − prefix(m − D/60) on the
    // DENSE minute grid (ev24's gap-fill recipe — prefix diffs are
    // equi-joins on the shifted minute, no as-of lookup, no bounded
    // frame re-aggregation). Per candidate delay: mean and max
    // retained rows and the grid size — the state-store budget line
    // for each withWatermark setting, computed in two aggregates +
    // one grid join per delay.
    "ev75_join_state_model" -> { (s, d) =>
      import s.implicits._
      val counts = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 60000000").as("m"))
        .groupBy(col("m")).agg(count(lit(1)).cast("long").as("c"))
      val bounds = counts.agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      val grid = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("m"))
        .join(counts, Seq("m"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val pre = Dedup.barrier(grid
        .withColumn("prefix", sum(col("c")).over(
          Window.orderBy(col("m"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
        .select(col("m"), col("prefix")))
      val delays = DelaysS.toDF("delay_s")
      val shifted = pre.crossJoin(broadcast(delays))
        .join(pre.select(col("m").as("m_old"), col("prefix").as("prefix_old")),
          col("m_old") === col("m") - expr("delay_s div 60"), "left")
        .withColumn("retained",
          col("prefix") - coalesce(col("prefix_old"), lit(0L)))
      shifted.groupBy(col("delay_s"))
        .agg(count(lit(1)).cast("long").as("n_minutes"),
          sum(col("retained")).cast("long").as("retained_sum"),
          max(col("retained")).cast("long").as("max_state_rows"))
        .withColumn("mean_state_fx",
          expr(s"(retained_sum * ${1000000L}) div n_minutes"))
        .select(col("delay_s"), col("n_minutes"), col("max_state_rows"),
          col("mean_state_fx"))
        .orderBy(col("delay_s"))
    },

    // --- ev76: hourly backlog under 110%-of-mean capacity -----------------
    // Per type: capacity = ceil-free integer 110% of the mean hourly
    // arrival rate (div-truncated, the conservative side), then the
    // Lindley trajectory on the dense grid. The census reports the
    // sizing answer: peak backlog, backlogged hours, whether the
    // queue drained by the horizon, and the drain deficit if not.
    //
    // Posture note: ev57 sizes consumers from the STATIC rate census;
    // ev76 prices what actually happens over time when capacity is set
    // anyway — the Lindley queue recursion L_t = max(0, L_{t-1} + a_t −
    // c) folded into its CLOSED FORM L_t = S_t − min(0, min_{k≤t} S_k)
    // (S = running sum of arrivals − capacity), so the whole trajectory
    // is two cumulative windows over the gap-filled hourly grid — no
    // recursion, no UDAF, no per-row loop. Windows partition by
    // event_type over the bounded hour grid (ev24's one-scan build).
    "ev76_backlog_trajectory" -> { (s, d) =>
      val (counts, hours, grid) = hourGrid(s, d)
      val cap = counts.groupBy(col("event_type"))
        .agg(sum(col("n_events")).as("total"))
        .crossJoin(broadcast(hours.agg(count(lit(1)).as("n_hours"))))
        .select(col("event_type"),
          expr("(total * 11) div (10 * n_hours)").as("cap"))
      val filled = grid.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n_events"), lit(0L)).as("arrivals"))
        .join(cap, Seq("event_type"))
      val run = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val traj = filled
        .withColumn("s", sum(col("arrivals") - col("cap")).over(run))
        .withColumn("lag",
          col("s") - least(min(col("s")).over(run), lit(0L)))
      traj.groupBy(col("event_type"))
        .agg(min(col("cap")).cast("long").as("cap_per_hour"),
          sum(col("arrivals")).cast("long").as("total_arrivals"),
          max(col("lag")).cast("long").as("peak_backlog"),
          sum(when(col("lag") > 0, 1L).otherwise(0L)).cast("long")
            .as("hours_backlogged"),
          expr("max_by(lag, h)").cast("long").as("end_backlog"))
        .orderBy(col("event_type"))
    },

    // --- ev77: Little's-law conservation audit ------------------------
    //
    // ev77 closes the queueing family (ev26 gauge, ev57 sizing, ev76
    // Lindley) with the conservation law that VALIDATES such telemetry:
    // ∫N(t)dt over the observation window (sweep-line, what a gauge
    // integrates) must equal Σ clamped span durations (what per-event
    // logs sum) — Spark runs the sweep, the oracle sums durations
    // directly, and the hash match is the Little's-law identity
    // L·T = ΣW, not a reimplementation check (q75's cross-algorithm
    // pattern).
    "ev77_little_law" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), expr("unix_micros(ts)").as("s_us"),
          (expr("unix_micros(ts)") +
            floor(col("value") * lit(1000000.0)).cast("long")).as("e_us"))
      val evB = Dedup.barrier(ev)
      val bounds = evB.agg(min(col("s_us")).as("t0"), max(col("s_us")).as("t1"))
      val sp = evB.crossJoin(broadcast(bounds))
        .withColumn("ce", greatest(col("s_us"), least(col("e_us"), col("t1"))))
      // net deltas per distinct instant (tie-order independence), then
      // the per-type sweep: running gauge × segment width
      val pts = sp.select(col("event_type"), col("s_us").as("t"), lit(1L).as("delta"))
        .unionByName(sp.select(col("event_type"), col("ce").as("t"),
          lit(-1L).as("delta")))
        .groupBy(col("event_type"), col("t"))
        .agg(sum(col("delta")).as("net"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
      val busy = pts
        .withColumn("run", sum(col("net")).over(w))
        .withColumn("nxt", lead(col("t"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type"))
        .agg(sum((col("nxt") - col("t")) * col("run")).cast("long").as("busy_us"))
      val arr = evB.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_arrivals"))
      arr.join(busy, Seq("event_type"))
        .crossJoin(broadcast(bounds))
        .withColumn("window_us", (col("t1") - col("t0")).cast("long"))
        .withColumn("avg_inflight_fx", expr(s"(busy_us * $Fx4) div window_us"))
        .withColumn("mean_span_us", expr("busy_us div n_arrivals"))
        .withColumn("rate_ps_fx", expr(s"(n_arrivals * 1000000 * $Fx4) div window_us"))
        .select(col("event_type"), col("n_arrivals"), col("busy_us"),
          col("window_us"), col("avg_inflight_fx"), col("mean_span_us"),
          col("rate_ps_fx"))
        .orderBy(col("event_type"))
    },

    // --- ev78: two-stage backlog cascade ------------------------------
    //
    // ev78 extends ev76's single-queue Lindley trajectory to the shape
    // real ingestion has — a CHAIN (broker → writer): stage-2 arrivals
    // are stage-1 departures (conservation: d_t = a_t + B1_{t−1} − B1_t),
    // and the whole cascade stays in closed form — two stacked
    // prefix-sum/prefix-min windows over the same (type, hour) grid, no
    // recursion, no driver loop. The documented insight: stage 1 SMOOTHES
    // (departures are capped at c1), so stage 2's backlog is driven by
    // the c1→c2 capacity gap, not by raw arrival bursts.
    "ev78_stage_cascade" -> { (s, d) =>
      val (counts, hours, grid) = hourGrid(s, d)
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

    // --- ev79: reorder-buffer sizing -----------------------------------
    // Arrival order is event_id (the producer sequence); event-time
    // order is (ts, event_id) — the same total orders ev35 audits.
    // Occupancy after the k-th in-order release = running max of
    // arrival rank over ts order, minus k. The per-type window sort IS
    // the operator's semantics (an order audit needs a total order per
    // type); state beyond the sort is O(1) per row.
    //
    // ev79 answers the question ev35's inversion census raises but does
    // not price: HOW BIG a reorder buffer releases this stream in event-
    // time order? Occupancy at the k-th in-order release is
    // max_{j≤k} A(j) − k where A(j) is the arrival rank of the j-th
    // event by event time — one running-max window, closed form.
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
          expr(s"sum(depth) * $Fx4 div count(1)").cast("long")
            .as("mean_depth_fx"),
          sum(when(col("depth") === 0, 1L).otherwise(0L)).cast("long")
            .as("n_drained"))
        .orderBy(col("event_type"))
    },

    // --- ev80: checkpoint replay pricing -------------------------------
    //
    // ev80 prices the checkpoint-interval dial the way ev64 priced
    // compaction debt: a failure replays everything since the last
    // commit, so the worst case per (type, interval) is the largest
    // commit-window volume — windows align to absolute epoch hours
    // (`eh div c`), no global-min broadcast needed.
    "ev80_replay_cost" -> { (s, d) =>
      val hours = Dedup.barrier(Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("eh"))
        .groupBy(col("event_type"), col("eh"))
        .agg(count(lit(1)).cast("long").as("n")))
      Commits.map { c =>
        hours.groupBy(col("event_type"), expr(s"eh div $c").as("w"))
          .agg(sum(col("n")).cast("long").as("wn"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).cast("long").as("n_windows"),
            max(col("wn")).cast("long").as("max_replay"),
            expr(s"sum(wn) * $Fx4 div count(1)").cast("long")
              .as("mean_replay_fx"),
            sum(col("wn")).cast("long").as("total"))
          .select(lit(c).as("commit_hours"), col("event_type"),
            col("n_windows"), col("max_replay"), col("mean_replay_fx"),
            expr(s"max_replay * $Fx4 div total").as("worst_share_fx"))
      }.reduce(_ unionByName _)
        .orderBy(col("commit_hours"), col("event_type"))
    },

    // --- ev81: Fano-factor overdispersion census --------------------------
    //
    // ev81 asks whether the Poisson assumption every sizing operator
    // (ev57/ev26) quietly makes actually HOLDS: the Fano factor
    // (variance-to-mean of per-minute counts, zeros included) per type,
    // computed over the global [t0, t1] minute window ARITHMETICALLY —
    // zero minutes contribute nothing to Σn and Σn², so no minute grid
    // is materialized, just the 1-row bounds aggregate. Fano ≈ 1 means
    // Poisson sizing is sound; ≫ 1 flags bursty types that need ev78's
    // backlog treatment rather than mean-rate provisioning.
    "ev81_fano_overdispersion" -> { (s, d) =>
      val minutes = Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 60000000").as("m"))
      val counts = Dedup.barrier(minutes
        .groupBy(col("event_type"), col("m"))
        .agg(count(lit(1)).cast("long").as("n")))
      val bounds = counts.agg((max(col("m")) - min(col("m")) + 1)
        .cast("long").as("n_minutes"))
      counts.groupBy(col("event_type"))
        .agg(sum(col("n")).cast("long").as("n_events"),
          count(lit(1)).cast("long").as("active_minutes"),
          sum(col("n") * col("n")).cast("long").as("sum_sq"))
        .crossJoin(broadcast(bounds))
        .withColumn("mean_per_minute_fx",
          expr(s"n_events * $Fx4 div n_minutes"))
        .withColumn("fano_fx", expr(
          s"(n_minutes * sum_sq - n_events * n_events) * $Fx4" +
            " div (n_minutes * n_events)"))
        .select(col("event_type"), col("n_minutes"), col("active_minutes"),
          col("n_events"), col("mean_per_minute_fx"), col("fano_fx"))
        .orderBy(col("event_type"))
    },

    // --- ev82: watermark-delay autopick --------------------------------
    // ev74 measures how late events actually arrive; ev82 turns that
    // census into the withWatermark() setting per event type — one
    // dial row per (type, stop) with the winner flagged, the frame a
    // streaming deployment reads instead of folklore-picking "10
    // minutes". All lateness windows user-partitioned (ev74's
    // construction — Spark's real watermark frontier is global, but a
    // global arrival-order window is a fact-table sort; per-user is
    // the scalable lower bound on it). The gated corpus arrives
    // in-order (p99 = 0 at every SF → the shortest stop wins
    // everywhere); the spec's synthetic censuses carry the covering
    // and overflow branches. The pick runs over a bounded |types|×4
    // frame.
    "ev82_watermark_autopick" -> { (s, d) =>
      watermarkAutopick(latenessCensus(s, d))
        .orderBy(col("event_type"), col("delay_s"))
    },

    // --- ev83: the v2-engine sessionizer, oracle-gated ------------------
    // Same session semantics as ev51 (gap sessionization, emissions =
    // sessions a successor closed) but through transformWithState +
    // ValueState under the RocksDB provider the v2 engine requires
    // (the drain pins it on seeing the transformWithState node).
    // The census is per session size with a DISTINCT-user column, so
    // ev83's oracle is not a row-for-row copy of ev51's: it also
    // proves the v2 engine attributes sessions to the right keys.
    "ev83_stream_tws_sessions" -> { (s, d) =>
      import graft.streaming.{StateV2, StreamJobs}
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"), col("ts"))
        .as[StreamJobs.SessionEvent]
      val snap = StreamJobs.runFileSnapshot(StateV2.sessionizeTws(feed, GapSec).toDF())
      snap.groupBy(col("n_events"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          countDistinct(col("user_id")).cast("long").as("n_users"),
          sum(col("duration_sec")).cast("long").as("total_duration_sec"))
        .orderBy(col("n_events"))
    },

    // --- ev84: MapState first-occurrence detector, oracle-gated ---------
    // First time each (user, event_type) pair appears: MapState keyed
    // by type holds the first-seen micros, re-deliveries never
    // re-emit. Emissions are the distinct pairs; the census folds
    // them per type (n_users = pairs, plus the earliest/latest first-
    // contact micros). Ordered-batch contract as streamAsOf: the
    // gated corpus replays as one event-time-ordered feed.
    "ev84_stream_tws_first_seen" -> { (s, d) =>
      import graft.streaming.{StateV2, StreamJobs}
      import s.implicits._
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"),
          col("event_type"),
          expr("unix_micros(ts)").as("t"))
        .as[StateV2.TypedEvent]
      val snap = StreamJobs.runFileSnapshot(StateV2.firstSeenTws(feed).toDF())
      snap.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          min(col("first_us")).cast("long").as("earliest_us"),
          max(col("first_us")).cast("long").as("latest_us"))
        .orderBy(col("event_type"))
    }
  )

  /** ev17's oracle SQL; ev49 replays it. */
  private val intervalJoinSql =
    """SELECT p.event_id, COUNT(*) AS n_overlaps,
      | CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT user_id, ts AS start_ts, ts + INTERVAL 30 MINUTE AS end_ts, value
      |      FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.start_ts AND p.ts <= c.end_ts
      |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin

  /** ev22's oracle SQL; ev46, ev50, ev55 replay it. */
  private val cdcUpsertSql =
    """SELECT event_type AS last_event_type, COUNT(*) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 AND event_type <> 'error'
      |GROUP BY event_type ORDER BY last_event_type""".stripMargin

  /** ev37's oracle SQL; ev38 replays it. */
  private val burstMinutesSql =
    s"""WITH cells AS (
       |  SELECT event_type, epoch_us(ts) // 60000000 AS minute,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY event_type, minute),
       |t AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_active_minutes,
       |    CAST(SUM(n) AS BIGINT) AS total_events,
       |    CAST(MAX(n) AS BIGINT) AS peak_minute_n
       |  FROM cells GROUP BY event_type)
       |SELECT c.event_type, t.n_active_minutes, t.total_events,
       |  t.peak_minute_n,
       |  CAST(SUM(CASE WHEN c.n * t.n_active_minutes >=
       |    $BurstX * t.total_events THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_burst_minutes,
       |  (CAST(SUM(CASE WHEN c.n * t.n_active_minutes >=
       |    $BurstX * t.total_events THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
       |    // t.n_active_minutes AS burst_share_fx
       |FROM cells c JOIN t ON c.event_type = t.event_type
       |GROUP BY c.event_type, t.n_active_minutes, t.total_events,
       |  t.peak_minute_n
       |ORDER BY c.event_type""".stripMargin

  /** ev61's oracle SQL; ev70 replays it. */
  private val sloBurnRateSql =
    s"""WITH h AS (
       |  SELECT epoch_us(ts) // 3600000000 AS hour,
       |    CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_errors
       |  FROM events GROUP BY 1),
       |b AS (
       |  SELECT CAST(SUM(n_events) AS BIGINT) AS t_events,
       |    CAST(SUM(n_errors) AS BIGINT) AS t_errors FROM h)
       |SELECT hour, n_events, n_errors, err_fx,
       |  (err_fx * $Fx) // base_fx AS burn_fx,
       |  (err_fx * $Fx) // base_fx >= $SlowBurnFx AS slow_alert,
       |  (err_fx * $Fx) // base_fx >= $FastBurnFx AS fast_alert
       |FROM (
       |  SELECT hour, n_events, n_errors,
       |    (n_errors * $Fx) // n_events AS err_fx,
       |    (t_errors * $Fx) // t_events AS base_fx
       |  FROM h CROSS JOIN b) ORDER BY hour""".stripMargin

  def oracles: Map[String, String] = Map(
    "ev01_extract_parse" ->
      """SELECT event_id, event_type,
        | CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS prop_k, value
        |FROM events
        |WHERE CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) >= 50
        |ORDER BY event_id""".stripMargin,

    "ev02_validate_regex" ->
      """SELECT event_type, COUNT(*) AS n_valid FROM events
        |WHERE regexp_matches(event_type, '^[a-zA-Z0-9._-]+$')
        |  AND regexp_matches(props, '^\{.*\}$')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev03_topic_route" ->
      """SELECT topic, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT 'near.events.' || event_type AS topic, value FROM events
        |  UNION ALL
        |  SELECT 'near.events.all' AS topic, value FROM events)
        |GROUP BY topic ORDER BY topic""".stripMargin,

    "ev04_filter_lists" ->
      """SELECT user_id, COUNT(*) AS n_events FROM events
        |WHERE user_id IN (0,2,4,6,8,10,12,14,16,18,20,22,24,26,28,30,32,34,36,38,40,42,44,46,48,50,52,54,56,58,60)
        |  AND event_type NOT IN ('error')
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev05_keyby_latest" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "ev06_flatten_explode" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "ev07_enrich_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | MIN(user_id || ':' || event_id) AS min_id
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "ev08_stats_window" ->
      """SELECT hour_ts, n_events, n_users, sum_value,
        | floor((n_events / 3600.0) * 1000000) / 1000000 AS events_per_sec
        |FROM (
        |  SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n_events,
        |    COUNT(DISTINCT user_id) AS n_users,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1)
        |ORDER BY hour_ts""".stripMargin,

    "ev09_sessionize" ->
      """SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN prev_s IS NULL
        |                OR (CAST(floor(epoch(ts)) AS BIGINT) - prev_s) > 1800
        |           THEN 1 ELSE 0 END AS new_sess
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |        LAG(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        |      FROM events)))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev10_event_funnel" ->
      """SELECT (SELECT COUNT(*) FROM (
        |   SELECT user_id FROM events WHERE event_type = 'signup' GROUP BY user_id)) AS n_signup,
        | (SELECT COUNT(*) FROM (
        |   SELECT s.user_id FROM
        |     (SELECT user_id, MIN(ts) AS signup_ts FROM events
        |      WHERE event_type = 'signup' GROUP BY user_id) s
        |   WHERE EXISTS (SELECT 1 FROM events p
        |                 WHERE p.event_type = 'purchase'
        |                   AND p.user_id = s.user_id
        |                   AND p.ts > s.signup_ts))) AS n_converted""".stripMargin,

    "ev11_stream_stats" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, event_type,
        | COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin,

    // gap >= 30 min starts a new session (session_window end-exclusive);
    // epoch_us keeps the comparison at full microsecond precision
    "ev12_session_window" ->
      """SELECT user_id, MIN(ts) AS sess_start, COUNT(*) AS n_events FROM (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN prev_us IS NULL
        |                OR (epoch_us(ts) - prev_us) >= 1800000000 THEN 1
        |           ELSE 0 END AS new_sess
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |        LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |      FROM events)))
        |GROUP BY user_id, sess_id ORDER BY user_id, sess_start""".stripMargin,

    "ev13_pipeline_e2e" ->
      """SELECT topic, COUNT(*) AS n_records,
        | COUNT(DISTINCT key) AS n_keys
        |FROM (
        |  SELECT 'near.events.app.' || event_type AS topic,
        |         'c' || user_id AS key FROM events
        |  UNION ALL
        |  SELECT 'near.events.all' AS topic, 'c' || user_id AS key FROM events)
        |GROUP BY topic ORDER BY topic""".stripMargin,

    "ev14_json_extract" ->
      """SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10) AS BIGINT) AS k_bucket,
        | COUNT(*) AS n_events
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY 1 ORDER BY k_bucket""".stripMargin,

    "ev15_asof_enrich" ->
      """SELECT l.event_id, r.value AS asof_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |                WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin,

    "ev16_dead_letter" ->
      """SELECT status, COUNT(*) AS n_events, COUNT(DISTINCT name) AS n_names FROM (
        |  SELECT CASE WHEN event_id % 7 = 0 THEN 'dead' ELSE 'valid' END AS status,
        |         CASE WHEN event_id % 7 = 0 THEN event_type || '!' ELSE event_type END AS name
        |  FROM events)
        |GROUP BY status ORDER BY status""".stripMargin,

    "ev17_interval_join" -> intervalJoinSql,

    "ev18_lag_stats" ->
      """SELECT hour_ts, n_blocks,
        | floor((n_blocks / 3600.0) * 1000000) / 1000000 AS bps,
        | tip - last_height AS lag_blocks,
        | floor(((tip - last_height) / (n_blocks / 3600.0)) * 100) / 100 AS catchup_sec
        |FROM (
        |  SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n_blocks,
        |    MAX(event_id) AS last_height
        |  FROM events GROUP BY 1),
        |  (SELECT MAX(event_id) AS tip FROM events)
        |ORDER BY hour_ts""".stripMargin,

    "ev19_stream_pipeline" ->
      """SELECT topic, COUNT(*) AS n_records,
        | COUNT(DISTINCT key) AS n_keys
        |FROM (
        |  SELECT 'near.events.app.' || event_type AS topic,
        |         'c' || user_id AS key FROM events
        |  UNION ALL
        |  SELECT 'near.events.all' AS topic, 'c' || user_id AS key FROM events)
        |GROUP BY topic ORDER BY topic""".stripMargin,

    "ev20_nep171_flatten" ->
      """SELECT 'u' || user_id AS owner_id,
        | COUNT(*) * 2 AS n_tokens,
        | MIN('t' || event_id || 'a') AS min_token
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY owner_id""".stripMargin,

    "ev21_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_keys
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev22_cdc_upsert" -> cdcUpsertSql,

    "ev23_late_drop" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN hwm IS NOT NULL AND ts < hwm - INTERVAL 10 MINUTE
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |FROM (
        |  SELECT event_type, ts,
        |    MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev24_gap_fill" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM e),
        |grid AS (
        |  SELECT t.event_type, g.h
        |  FROM (SELECT DISTINCT event_type FROM e) t,
        |       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        |        FROM b) g),
        |c AS (SELECT event_type, h, COUNT(*) AS n_events FROM e GROUP BY 1, 2)
        |SELECT grid.event_type, grid.h,
        |  CAST(COALESCE(c.n_events, 0) AS BIGINT) AS n_events
        |FROM grid LEFT JOIN c ON grid.event_type = c.event_type AND grid.h = c.h
        |ORDER BY grid.event_type, grid.h""".stripMargin,

    "ev25_funnel_steps" ->
      s"""WITH su AS (
         |  SELECT user_id, MIN(ts) AS s_ts FROM events
         |  WHERE event_type = 'signup' GROUP BY user_id),
         |vw AS (
         |  SELECT e.user_id, MIN(e.ts) AS v_ts
         |  FROM events e JOIN su ON e.user_id = su.user_id
         |  WHERE e.event_type = 'view' AND e.ts > su.s_ts
         |  GROUP BY e.user_id),
         |pu AS (
         |  SELECT e.user_id, MIN(e.ts) AS p_ts
         |  FROM events e JOIN vw ON e.user_id = vw.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > vw.v_ts
         |  GROUP BY e.user_id)
         |SELECT COUNT(s_ts) AS n_signup, COUNT(v_ts) AS n_viewed,
         |  COUNT(p_ts) AS n_purchased,
         |  ${Det.duckTrunc("CAST(COUNT(v_ts) AS DOUBLE) / COUNT(s_ts)", 4)} AS view_rate,
         |  ${Det.duckTrunc("CAST(COUNT(p_ts) AS DOUBLE) / COUNT(s_ts)", 4)} AS purchase_rate
         |FROM su LEFT JOIN vw ON su.user_id = vw.user_id
         |        LEFT JOIN pu ON su.user_id = pu.user_id""".stripMargin,

    "ev26_inflight_gauge" ->
      s"""WITH ev AS (
         |  SELECT event_type, ts, epoch_us(ts) AS s_us,
         |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
         |  FROM events),
         |spans AS (
         |  SELECT event_type, s_us, e_us,
         |    CAST(unnest(generate_series(CAST(ts AS DATE),
         |      CAST(make_timestamp(e_us) AS DATE), INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM ev),
         |clip AS (
         |  SELECT event_type, day,
         |    GREATEST(s_us, epoch_us(CAST(day AS TIMESTAMP))) AS cs,
         |    LEAST(e_us, epoch_us(CAST(day AS TIMESTAMP)) + 86400000000) AS ce
         |  FROM spans),
         |pts AS (
         |  SELECT event_type, day, t, CAST(SUM(delta) AS BIGINT) AS net FROM (
         |    SELECT event_type, day, cs AS t, 1 AS delta FROM clip
         |    UNION ALL
         |    SELECT event_type, day, ce AS t, -1 AS delta FROM clip)
         |  GROUP BY event_type, day, t),
         |gauge AS (
         |  SELECT event_type, day,
         |    SUM(net) OVER (PARTITION BY event_type, day ORDER BY t) AS inflight
         |  FROM pts),
         |daily AS (
         |  SELECT event_type, day, MAX(inflight) AS day_peak
         |  FROM gauge GROUP BY event_type, day)
         |SELECT event_type, COUNT(*) AS n_days,
         |  CAST(MAX(day_peak) AS BIGINT) AS peak_inflight,
         |  ${Det.duckTrunc("AVG(day_peak)", 4)} AS avg_daily_peak
         |FROM daily GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev27_rate_limit" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         |w AS (
         |  SELECT user_id, event_type,
         |    COUNT(*) OVER (PARTITION BY user_id ORDER BY t
         |                   RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW) AS cnt
         |  FROM e)
         |SELECT event_type, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN cnt > $RateLimit THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled,
         |  COUNT(DISTINCT CASE WHEN cnt > $RateLimit THEN user_id END) AS n_users_throttled,
         |  CAST(MAX(cnt) AS BIGINT) AS max_burst
         |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev28_stream_hourly" ->
      s"""SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
         |  COUNT(*) AS n_h,
         |  CAST(SUM(v) AS BIGINT) AS s_h,
         |  CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS q_h
         |FROM (SELECT event_type, ts,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events)
         |GROUP BY event_type, hr ORDER BY event_type, hr""".stripMargin,

    "ev29_enrich_fallback" ->
      s"""WITH dim AS (
         |  SELECT c_custkey, c_mktsegment FROM customer
         |  WHERE c_custkey % $LookupFailMod <> 0)
         |SELECT
         |  CASE WHEN c_custkey IS NOT NULL THEN 'ok' ELSE 'fallback' END AS enrich_status,
         |  COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
         |  COUNT(*) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM events LEFT JOIN dim ON user_id = c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev30_watermark_fit" ->
      s"""WITH e AS (
         |  SELECT event_id, epoch_us(ts) AS t FROM events),
         |w AS (
         |  SELECT t, max(t) OVER (ORDER BY event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t AS late_us
         |  FROM e),
         |x AS (
         |  SELECT late_us, CAST(delay_s AS BIGINT) AS delay_s
         |  FROM w CROSS JOIN
         |    (SELECT unnest([${WmDelaysS.mkString(", ")}]) AS delay_s) ds)
         |SELECT delay_s, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_late,
         |  ${Det.duckTrunc(
             "SUM(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END) * 1.0" +
               " / COUNT(*)", 4)} AS late_ratio
         |FROM x GROUP BY delay_s ORDER BY delay_s""".stripMargin,

    "ev31_type_transitions" ->
      """WITH t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n_transitions
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS from_total,
        |  (n_transitions * 1000000)
        |    // CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS p_fx
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "ev32_height_gaps" -> {
      val h = Hashing.duckHash64("CAST(event_id AS VARCHAR)")
      s"""WITH p AS (
         |  SELECT event_id FROM events WHERE $h % $DropMod <> 0),
         |b AS (
         |  SELECT event_id // $HeightBucket AS bucket,
         |    COUNT(*) AS n_ids, MIN(event_id) AS id_min,
         |    MAX(event_id) AS id_max
         |  FROM p GROUP BY 1)
         |SELECT bucket, n_ids, id_min, id_max,
         |  id_max - id_min + 1 - n_ids AS missing_in,
         |  COALESCE(id_min - lag(id_max) OVER (ORDER BY bucket) - 1, 0)
         |    AS gap_before
         |FROM b ORDER BY bucket""".stripMargin
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

    "ev34_journey_paths" -> {
      val steps = (1 to PathLen).map(n =>
        s"max(CASE WHEN rn = $n THEN event_type END)").mkString(", ")
      s"""WITH r AS (
         |  SELECT user_id, event_type,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |p AS (
         |  SELECT user_id, concat_ws('>', $steps) AS path
         |  FROM r WHERE rn <= $PathLen GROUP BY user_id),
         |t AS (SELECT COUNT(*) AS n_users_total FROM p)
         |SELECT path, COUNT(*) AS n_users,
         |  (COUNT(*) * 1000000) // n_users_total AS share_fx
         |FROM p CROSS JOIN t GROUP BY path, n_users_total
         |ORDER BY n_users DESC, path LIMIT $PathTopK""".stripMargin
    },

    "ev35_order_inversions" -> {
      val h = Hashing.duckHash64("CAST(event_id AS VARCHAR)")
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CASE WHEN $h % $JitterMod = 0
         |      THEN epoch_us(ts) - ($h % $MaxJitterUs)
         |      ELSE epoch_us(ts) END AS us
         |  FROM events),
         |lg AS (
         |  SELECT event_type, us,
         |    LAG(us) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
         |  FROM e)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_inversions,
         |  CAST(MAX(CASE WHEN us < prev_us THEN prev_us - us ELSE 0 END)
         |    AS BIGINT) AS max_backstep_us,
         |  (CAST(SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // COUNT(*) AS inv_rate_fx
         |FROM lg WHERE prev_us IS NOT NULL
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    "ev36_gap_octaves" ->
      s"""WITH g AS (
         |  SELECT (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
         |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) // 1000000
         |    AS gap_s
         |  FROM events),
         |o AS (
         |  SELECT CASE WHEN gap_s < 1 THEN -1
         |    ELSE CAST(length(bin(gap_s)) - 1 AS INTEGER) END AS octave,
         |    CAST(COUNT(*) AS BIGINT) AS n_gaps
         |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_gaps) AS BIGINT) AS n_total FROM o)
         |SELECT octave,
         |  CASE WHEN octave < 0 THEN 0 ELSE CAST(2 ** octave AS BIGINT) END
         |    AS gap_lo_s,
         |  n_gaps, (n_gaps * $Fx) // n_total AS share_fx,
         |  CAST(SUM(n_gaps) OVER (ORDER BY octave DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_splits_at_lo
         |FROM o CROSS JOIN t ORDER BY octave""".stripMargin,

    "ev37_burst_minutes" -> burstMinutesSql,

    // the SAME census the batch ev37 answers to — the lambda parity
    // claim is exactly that both halves satisfy one oracle
    "ev38_stream_bursts" -> burstMinutesSql,

    "ev39_session_profile" ->
      """WITH marked AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    CASE WHEN prev_s IS NULL
        |              OR (CAST(floor(epoch(ts)) AS BIGINT) - prev_s) > 1800
        |         THEN 1 ELSE 0 END AS new_sess,
        |    ts, event_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        |    FROM events)),
        |ids AS (
        |  SELECT user_id, t,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sess_id
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS sz,
        |    CAST(MAX(t) - MIN(t) AS BIGINT) AS dur_s
        |  FROM ids GROUP BY user_id, sess_id)
        |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(dur_s) AS BIGINT) // COUNT(*) AS avg_dur_s,
        |  CAST(MAX(dur_s) AS BIGINT) AS max_dur_s
        |FROM sess GROUP BY sz ORDER BY sz""".stripMargin,

    "ev40_mix_drift" ->
      s"""WITH cells AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY day, event_type),
         |sh AS (
         |  SELECT day, event_type,
         |    (n * $Fx) // SUM(n) OVER (PARTITION BY day) AS share_fx
         |  FROM cells),
         |j AS (
         |  SELECT COALESCE(a.day, b.day) AS day,
         |    COALESCE(a.share_fx, 0) AS s_a, COALESCE(b.share_fx, 0) AS s_b,
         |    CASE WHEN a.share_fx IS NOT NULL AND b.share_fx IS NOT NULL
         |         THEN 1 END AS in_both
         |  FROM sh a FULL OUTER JOIN
         |    (SELECT day - 1 AS day, event_type, share_fx FROM sh) b
         |    ON a.day = b.day AND a.event_type = b.event_type)
         |SELECT day, CAST(SUM(abs(s_a - s_b)) AS BIGINT) AS drift_fx,
         |  CAST(COUNT(in_both) AS BIGINT) AS n_types_both
         |FROM j WHERE day IS NOT NULL
         |GROUP BY day HAVING COUNT(in_both) > 0 ORDER BY day""".stripMargin,

    "ev41_new_returning" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) // $DayUs AS day FROM events),
         |daily AS (
         |  SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_ev
         |  FROM e GROUP BY user_id, day),
         |fs AS (SELECT user_id, MIN(day) AS first_day FROM daily GROUP BY user_id)
         |SELECT day, CAST(SUM(n_ev) AS BIGINT) AS n_events,
         |  CAST(COUNT(*) AS BIGINT) AS n_active,
         |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |  CAST(COUNT(*) - SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_returning,
         |  (CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // COUNT(*) AS new_share_fx
         |FROM daily JOIN fs USING (user_id)
         |GROUP BY day ORDER BY day""".stripMargin,

    "ev42_stream_first_seen" ->
      s"""WITH f AS (
         |  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id)
         |SELECT epoch_us(first_ts) // $DayUs AS day,
         |  CAST(COUNT(*) AS BIGINT) AS n_new
         |FROM f GROUP BY day ORDER BY day""".stripMargin,

    "ev43_session_gap_sweep" -> {
      val arms = GapsS.map { t =>
        s"""SELECT $t AS gap_s,
           |  CAST(SUM(CASE WHEN prev IS NULL OR us - prev > ${t * 1000000L}
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           |  CAST(COUNT(*) AS BIGINT) AS n_events
           |FROM g""".stripMargin
      }
      s"""WITH g AS (
         |  SELECT epoch_us(ts) AS us,
         |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS prev
         |  FROM events)
         |SELECT gap_s, n_sessions, n_events,
         |  (n_events * $Fx) // n_sessions AS events_per_session_fx
         |FROM (${arms.mkString("\nUNION ALL\n")})
         |ORDER BY gap_s""".stripMargin
    },

    "ev44_stream_hourly_actives" ->
      s"""WITH c AS (
         |  SELECT date_trunc('hour', ts) AS hour_ts, user_id,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2)
         |SELECT hour_ts, CAST(COUNT(*) AS BIGINT) AS n_active,
         |  CAST(SUM(n) AS BIGINT) AS n_events,
         |  (CAST(SUM(n) AS BIGINT) * $Fx) // COUNT(*) AS events_per_user_fx
         |FROM c GROUP BY hour_ts ORDER BY hour_ts""".stripMargin,

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

    // the SAME census definition as ev22's oracle — the streaming
    // path must land on the batch answer
    "ev46_stream_compact" -> cdcUpsertSql,

    "ev47_stream_rate_limit" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         |w AS (
         |  SELECT user_id, event_type,
         |    COUNT(*) OVER (PARTITION BY user_id ORDER BY t
         |                   RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW) AS cnt
         |  FROM e)
         |SELECT event_type, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN cnt > ${RateLimit} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_throttled,
         |  COUNT(DISTINCT CASE WHEN cnt > ${RateLimit} THEN user_id END)
         |    AS n_users_throttled
         |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev48_stream_neardup" -> {
      // dd04's simhash + dd07's BANDED pair join (candidates from the
      // band equi-join, never all-pairs — the oracle must survive
      // sf0.1 too), hamming <= 3, later doc flagged against earlier
      val dd04 = Dedup.oracles("dd04_simhash")
      s"""WITH sims AS ($dd04),
         |banded AS (
         |  SELECT doc_id, simhash, b AS band,
         |    (simhash >> (b * ${Dedup.SimhashBandBits})) & ${Dedup.SimhashBandMask} AS bval
         |  FROM sims CROSS JOIN (SELECT unnest(range(${Dedup.SimhashBands})) AS b) t),
         |pairs AS (
         |  SELECT doc_b AS doc_id, doc_a AS dup_of FROM (
         |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      a.simhash AS sh_a, b.simhash AS sh_b
         |    FROM banded a JOIN banded b
         |      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |  WHERE bit_count(xor(sh_a, sh_b)) <= 3)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(COUNT(DISTINCT doc_id), 0) AS BIGINT) AS n_dup_docs,
         |  CAST(COALESCE(COUNT(DISTINCT dup_of), 0) AS BIGINT) AS n_originals
         |FROM pairs""".stripMargin
    },

    // the streaming join must land on the batch interval-join census
    "ev49_stream_interval_join" -> intervalJoinSql,

    // the durable store must hold exactly the compacted snapshot
    "ev50_stream_upsert_sink" -> cdcUpsertSql,

    // batch replay of the gap sessionization, keeping only sessions
    // closed by a successor (sid < the user's max sid); timestamps
    // fold to epoch seconds exactly as the sessionizer's
    // ts.getTime/1000
    "ev51_stream_sessions" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
         |o AS (
         |  SELECT user_id, t,
         |    LAG(t) OVER (PARTITION BY user_id ORDER BY t) AS pt
         |  FROM e),
         |m AS (
         |  SELECT user_id, t,
         |    CASE WHEN pt IS NULL OR t - pt > $GapSec THEN 1 ELSE 0 END AS brk
         |  FROM o),
         |sx AS (
         |  SELECT user_id, t,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m),
         |g AS (
         |  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
         |    MAX(t) - MIN(t) AS dur
         |  FROM sx GROUP BY user_id, sid),
         |gg AS (
         |  SELECT n_events, dur,
         |    sid < MAX(sid) OVER (PARTITION BY user_id) AS completed
         |  FROM g)
         |SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(dur) AS BIGINT) AS total_duration_sec
         |FROM gg WHERE completed
         |GROUP BY n_events ORDER BY n_events""".stripMargin,

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

    // the single-source truth: any seam artifact (gap or double
    // count) breaks the match
    "ev53_backfill_seam" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev54_producer_fencing" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id % 16 AS producer,
         |    (event_id // 2048) % 4 AS epoch_base
         |  FROM events),
         |x AS (
         |  SELECT event_id, producer,
         |    CASE WHEN event_id % 97 = 0 THEN epoch_base - 1
         |      ELSE epoch_base END AS epoch
         |  FROM e),
         |w AS (
         |  SELECT producer, epoch,
         |    MAX(epoch) OVER (PARTITION BY producer ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
         |  FROM x)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN hwm IS NOT NULL AND epoch < hwm THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fenced,
         |  CAST(COUNT(DISTINCT CASE WHEN hwm IS NOT NULL AND epoch < hwm
         |    THEN producer END) AS BIGINT) AS producers_fenced,
         |  (CAST(SUM(CASE WHEN hwm IS NOT NULL AND epoch < hwm THEN 1 ELSE 0 END)
         |    AS BIGINT) * $Fx) // CAST(COUNT(*) AS BIGINT) AS fenced_share_fx
         |FROM w""".stripMargin,

    // three mechanisms, one truth: the declarative window (ev22), the
    // stateful stream (ev46), the durable store (ev50), and now the
    // delta fold all land on this census
    "ev55_retraction_view" -> cdcUpsertSql,

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
         |FROM p CROSS JOIN t ORDER BY part_id""".stripMargin,

    "ev57_consumer_sizing" ->
      s"""WITH pm AS (
         |  SELECT event_type,
         |    epoch_us(ts) // 60000000 AS minute,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |a AS (
         |  SELECT event_type,
         |    CAST(SUM(n) AS BIGINT) AS n_events,
         |    MAX(minute) - MIN(minute) + 1 AS span_min,
         |    CAST(MAX(n) AS BIGINT) AS peak_rate
         |  FROM pm GROUP BY 1)
         |SELECT event_type, n_events, span_min,
         |  (n_events * $Fx) // span_min AS mean_rate_fx,
         |  peak_rate,
         |  (peak_rate * $Fx * span_min) // n_events AS burst_fx,
         |  (n_events + $ConsumerRate * span_min - 1) // ($ConsumerRate * span_min)
         |    AS consumers_mean,
         |  (peak_rate + ${ConsumerRate - 1}) // $ConsumerRate AS consumers_peak
         |FROM a ORDER BY event_type""".stripMargin,

    // the decile twin uses DuckDB's exact NTILE — Rank.ntileExact is
    // gated to produce exactly ANSI NTILE output (q33/q40/q54's
    // established equivalence), with (value, event_id) tie order
    "ev58_value_drift_tvd" ->
      s"""WITH b AS (
         |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
         |    AS mid_us FROM events),
         |tiled AS (
         |  SELECT NTILE(10) OVER (ORDER BY value, event_id) AS decile,
         |    CASE WHEN epoch_us(ts) <= b.mid_us THEN 1 ELSE 2 END AS half
         |  FROM events CROSS JOIN b),
         |census AS (
         |  SELECT decile,
         |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_h1,
         |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_h2
         |  FROM tiled GROUP BY 1),
         |t AS (
         |  SELECT CAST(SUM(n_h1) AS BIGINT) AS t1,
         |    CAST(SUM(n_h2) AS BIGINT) AS t2 FROM census)
         |SELECT CAST(decile AS INT) AS decile, n_h1, n_h2,
         |  (n_h1 * $Fx) // t1 AS p_fx,
         |  (n_h2 * $Fx) // t2 AS q_fx,
         |  abs((n_h1 * $Fx) // t1 - (n_h2 * $Fx) // t2) AS abs_diff_fx
         |FROM census CROSS JOIN t ORDER BY decile""".stripMargin,

    "ev59_rebalance_cost" -> {
      def rdv(w: Int): String = {
        // argmax via list sort on (hash desc, c asc): owner = first c
        // struct sort DESC on (h, nc): ties pick larger nc = lower c,
        // matching the Spark array_max tie rule
        val pairs = (0 until w).map(c =>
          s"{'h': ${Hashing.duckHash64(s"concat_ws('|', CAST(p AS VARCHAR), '$c')")}, 'nc': ${-c}}")
          .mkString(", ")
        s"(-(list_sort([$pairs], 'DESC'))[1]['nc'])"
      }
      s"""WITH loads AS (
         |  SELECT user_id % $ScaleParts AS p,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1),
         |a AS (
         |  SELECT p, n_events,
         |    p % $WOld <> p % $WNew AS mod_moved,
         |    ${rdv(WOld)} <> ${rdv(WNew)} AS rdv_moved
         |  FROM loads),
         |u AS (
         |  SELECT 'modulo' AS strategy, mod_moved AS moved, n_events FROM a
         |  UNION ALL
         |  SELECT 'rendezvous' AS strategy, rdv_moved AS moved, n_events FROM a)
         |SELECT strategy, CAST(COUNT(*) AS BIGINT) AS n_partitions,
         |  CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |  CAST(SUM(CASE WHEN moved THEN n_events ELSE 0 END) AS BIGINT)
         |    AS events_affected,
         |  (CAST(SUM(CASE WHEN moved THEN n_events ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(SUM(n_events) AS BIGINT) AS moved_share_fx
         |FROM u GROUP BY strategy ORDER BY strategy""".stripMargin
    },

    "ev60_dedup_window_sweep" ->
      s"""WITH ev AS (
         |  SELECT event_id, epoch_us(ts) AS us FROM events),
         |rp AS (
         |  SELECT event_id,
         |    ${Hashing.duckHash64("concat_ws('|', CAST(event_id AS VARCHAR), 'd')")}
         |      % $MaxDelayS + 1 AS delay_s
         |  FROM ev
         |  WHERE ${Hashing.duckHash64("CAST(event_id AS VARCHAR)")}
         |    % $ReplaySampleMod = 0),
         |rs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_replays FROM rp),
         |es AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         |    (MAX(us) - MIN(us)) // 1000000 AS span_s FROM ev),
         |c AS (
         |  SELECT w_s, CAST(SUM(CASE WHEN delay_s <= w_s THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_caught
         |  FROM rp CROSS JOIN (SELECT unnest([${Windows.mkString(", ")}]) AS w_s) w
         |  GROUP BY 1)
         |SELECT w_s, n_replays, n_caught,
         |  n_replays - n_caught AS n_leaked,
         |  ((n_replays - n_caught) * $Fx) // n_replays AS leak_fx,
         |  (n_events * w_s) // span_s AS state_rows
         |FROM c CROSS JOIN rs CROSS JOIN es ORDER BY w_s""".stripMargin,

    "ev61_slo_burn_rate" -> sloBurnRateSql,

    "ev62_state_store_sizing" -> {
      def arm(g: Long): String = {
        val gUs = g * 1000000L
        s"""SELECT $g AS gap_s,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
           |     SELECT user_id, sess_id FROM (
           |       SELECT user_id,
           |         SUM(CASE WHEN prev_us IS NULL OR us - prev_us > $gUs
           |           THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
           |             ORDER BY us) AS sess_id
           |       FROM (SELECT user_id, epoch_us(ts) AS us,
           |               lag(epoch_us(ts)) OVER (PARTITION BY user_id
           |                 ORDER BY epoch_us(ts)) AS prev_us
           |             FROM events) i1)
           |     GROUP BY 1, 2)) AS n_sessions,
           |  (SELECT CAST(MAX(running) AS BIGINT) FROM (
           |     SELECT SUM(delta) OVER (ORDER BY t, delta) AS running FROM (
           |       SELECT unnest([start_us, evict_us]) AS t,
           |         unnest([1, -1]) AS delta
           |       FROM (
           |         SELECT MIN(us) AS start_us, MAX(us) + $gUs AS evict_us
           |         FROM (SELECT user_id, us,
           |                 SUM(CASE WHEN prev_us IS NULL OR us - prev_us > $gUs
           |                   THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
           |                     ORDER BY us) AS sess_id
           |               FROM (SELECT user_id, epoch_us(ts) AS us,
           |                       lag(epoch_us(ts)) OVER (PARTITION BY user_id
           |                         ORDER BY epoch_us(ts)) AS prev_us
           |                     FROM events) i2)
           |         GROUP BY user_id, sess_id)))) AS peak_concurrent""".stripMargin
      }
      Gaps.map(arm).mkString("\nUNION ALL\n") + "\nORDER BY gap_s"
    },

    "ev63_resample_interpolate" ->
      s"""WITH hrs AS (
         |  SELECT epoch_us(ts) // 3600000000 AS hour,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(floor(SUM(CAST(value AS DECIMAL(18,6))) * $Fx) AS BIGINT)
         |      // CAST(COUNT(*) AS BIGINT) AS val_fx
         |  FROM events GROUP BY 1),
         |b AS (SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM hrs),
         |grid AS (SELECT unnest(range(lo, hi + 1)) AS hour FROM b),
         |dense AS (
         |  SELECT g.hour, COALESCE(h.n, 0) AS n, h.val_fx,
         |    last_value(h.val_fx IGNORE NULLS) OVER
         |      (ORDER BY g.hour ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prev_val,
         |    last_value(CASE WHEN h.val_fx IS NOT NULL THEN g.hour END
         |      IGNORE NULLS) OVER
         |      (ORDER BY g.hour ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prev_hour,
         |    first_value(h.val_fx IGNORE NULLS) OVER
         |      (ORDER BY g.hour ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |      AS next_val,
         |    first_value(CASE WHEN h.val_fx IS NOT NULL THEN g.hour END
         |      IGNORE NULLS) OVER
         |      (ORDER BY g.hour ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |      AS next_hour
         |  FROM grid g LEFT JOIN hrs h ON g.hour = h.hour)
         |SELECT hour, n,
         |  CASE WHEN val_fx IS NOT NULL THEN val_fx
         |       WHEN prev_val IS NULL THEN next_val
         |       WHEN next_val IS NULL THEN prev_val
         |       ELSE prev_val + ((next_val - prev_val) * (hour - prev_hour))
         |         // (next_hour - prev_hour) END AS out_fx,
         |  val_fx IS NULL AS interpolated
         |FROM dense ORDER BY hour""".stripMargin,

    "ev64_compaction_debt" ->
      s"""WITH recs AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts) DESC, event_id DESC) > 1 AS dead
         |  FROM events),
         |daily AS (
         |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_written,
         |    CAST(SUM(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS n_dead
         |  FROM recs GROUP BY 1),
         |c AS (
         |  SELECT day, n_written, n_dead,
         |    CAST(SUM(n_written) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_written,
         |    CAST(SUM(n_dead) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_dead
         |  FROM daily)
         |SELECT day, n_written, n_dead, cum_written, cum_dead,
         |  (cum_dead * $Fx) // cum_written AS debt_fx
         |FROM c ORDER BY day""".stripMargin,

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

    "ev67_bot_regularity" ->
      s"""WITH g AS (
         |  SELECT user_id,
         |    (us - lag(us, 1) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id)) // 1000000 AS gap_s
         |  FROM (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)),
         |u AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_g,
         |    CAST(SUM(gap_s) AS BIGINT) AS sg,
         |    CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg,
         |    CAST(COUNT(*) + 1 AS BIGINT) AS n_events
         |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1),
         |c AS (
         |  SELECT *, ${Det.duckTrunc(
              "(CAST(n_g AS DOUBLE) * CAST(sgg AS DOUBLE) - " +
              "CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / " +
              "(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))", 4)} AS cv2_4
         |  FROM u WHERE n_events >= $MinEvents AND sg > 0),
         |b AS (
         |  SELECT CASE WHEN cv2_4 < 0.25 THEN '0_metronome'
         |              WHEN cv2_4 < 0.5 THEN '1_regular'
         |              WHEN cv2_4 < 1.0 THEN '2_steady'
         |              WHEN cv2_4 < 2.0 THEN '3_poissonish'
         |              ELSE '4_bursty' END AS band,
         |    n_events
         |  FROM c),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_users FROM b)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(n_events) AS BIGINT) AS n_events,
         |  (CAST(COUNT(*) AS BIGINT) * $Fx) // t_users AS user_share_fx
         |FROM b CROSS JOIN t GROUP BY band, t_users ORDER BY band""".stripMargin,

    "ev68_engagement_ramp" ->
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         |f AS (SELECT user_id, MIN(day) AS day0 FROM ev GROUP BY 1)
         |SELECT ev.day - f.day0 AS age_day,
         |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS active_users,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  (CAST(COUNT(*) AS BIGINT) * $Fx)
         |    // CAST(COUNT(DISTINCT ev.user_id) AS BIGINT)
         |    AS events_per_user_fx
         |FROM ev JOIN f USING (user_id)
         |GROUP BY 1 ORDER BY age_day""".stripMargin,

    "ev69_bounce_census" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         |m AS (
         |  SELECT user_id, us,
         |    SUM(CASE WHEN prev_us IS NULL
         |      OR us - prev_us > ${GapS * 1000000L} THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess_id
         |  FROM (SELECT user_id, event_id, us,
         |          lag(us, 1) OVER (PARTITION BY user_id
         |            ORDER BY us, event_id) AS prev_us
         |        FROM e) i),
         |sess AS (
         |  SELECT user_id, sess_id, MIN(us) AS start_us,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM m GROUP BY 1, 2)
         |SELECT CAST(((start_us // 3600000000) % 24 + 24) % 24 AS INT) AS hour,
         |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_bounces,
         |  (CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // CAST(COUNT(*) AS BIGINT) AS bounce_fx,
         |  (CAST(SUM(n_events) AS BIGINT) * $Fx) // CAST(COUNT(*) AS BIGINT)
         |    AS mean_len_fx
         |FROM sess GROUP BY 1 ORDER BY hour""".stripMargin,

    "ev70_alert_debounce" -> {
      def arm(db: Long): String =
        s"""SELECT $db AS debounce_h,
           |  CAST(COUNT(*) AS BIGINT) AS n_episodes,
           |  CAST(SUM(hours_in_ep) AS BIGINT) AS alert_hours,
           |  CAST(MAX(span_h) AS BIGINT) AS longest_span_h
           |FROM (
           |  SELECT ep, CAST(COUNT(*) AS BIGINT) AS hours_in_ep,
           |    MAX(hour) - MIN(hour) + 1 AS span_h
           |  FROM (
           |    SELECT hour,
           |      SUM(CASE WHEN prev IS NULL OR hour - prev > $db
           |        THEN 1 ELSE 0 END) OVER (ORDER BY hour) AS ep
           |    FROM (SELECT hour, lag(hour, 1) OVER (ORDER BY hour) AS prev
           |          FROM alerts) i)
           |  GROUP BY ep)""".stripMargin
      s"""WITH burn AS (${sloBurnRateSql}),
         |alerts AS (SELECT hour FROM burn WHERE slow_alert)
         |SELECT * FROM (
         |  ${Debounce.map(arm).mkString("\n  UNION ALL\n  ")})
         |ORDER BY debounce_h""".stripMargin
    },

    "ev71_overload_errors" ->
      s"""WITH cells AS (
         |  SELECT epoch_us(ts) // 60000000 AS minute,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_err
         |  FROM events GROUP BY 1),
         |b AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_min,
         |    CAST(SUM(n) AS BIGINT) AS t_n,
         |    CAST(SUM(n_err) AS BIGINT) AS t_err FROM cells),
         |tg AS (
         |  SELECT c.n, c.n_err,
         |    lag(c.n, 1) OVER (ORDER BY c.minute) AS prev_n,
         |    b.n_min, b.t_n, b.t_err
         |  FROM cells c CROSS JOIN b),
         |t AS (
         |  SELECT prev_n * n_min >= 2 * t_n AS overloaded,
         |    n_err * t_n >= 2 * n * t_err AS err_heavy
         |  FROM tg WHERE prev_n IS NOT NULL),
         |census AS (
         |  SELECT overloaded, err_heavy,
         |    CAST(COUNT(*) AS BIGINT) AS n_minutes
         |  FROM t GROUP BY 1, 2),
         |l AS (
         |  SELECT (CAST(SUM(CASE WHEN overloaded AND err_heavy THEN 1 ELSE 0 END)
         |      AS BIGINT)
         |    * CAST(COUNT(*) AS BIGINT) * $Fx)
         |    // greatest(CAST(SUM(CASE WHEN overloaded THEN 1 ELSE 0 END)
         |        AS BIGINT)
         |      * CAST(SUM(CASE WHEN err_heavy THEN 1 ELSE 0 END) AS BIGINT), 1)
         |      AS lift_fx
         |  FROM t)
         |SELECT overloaded, err_heavy, n_minutes, lift_fx
         |FROM census CROSS JOIN l
         |ORDER BY overloaded, err_heavy""".stripMargin,

    "ev72_lake_ingest" -> IngestOracle,

    "ev73_lake_stream_ingest" -> IngestOracle,

    // histogram restatement mirrors the Spark side: fold to per-(type,
    // late_us) counts, cumulate over the distinct-value table, pick
    // MIN(late_us) whose cum reaches the rank index — identical values
    // to the r11 row-rank form (equal values are rank-contiguous)
    "ev74_lateness_quantiles" -> {
      val pickCols = Percentiles.map(p =>
        s"MIN(CASE WHEN cum >= ((n - 1) * $p) // 100 + 1 THEN late_us END) AS p${p}_us")
        .mkString(",\n  ")
      s"""WITH l AS (
         |  SELECT event_id, event_type,
         |    MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - epoch_us(ts) AS late_us
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
         |h AS (
         |  SELECT event_type, late_us, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM l GROUP BY 1, 2),
         |r AS (
         |  SELECT event_type, late_us,
         |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY late_us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM h)
         |SELECT event_type, MAX(n) AS n_events,
         |  $pickCols,
         |  MAX(late_us) AS max_late_us
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "ev75_join_state_model" ->
      s"""WITH counts AS (
         |  SELECT epoch_us(ts) // 60000000 AS m,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1),
         |b AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM counts),
         |grid AS (
         |  SELECT g.m, COALESCE(c.c, 0) AS c
         |  FROM (SELECT unnest(generate_series(lo, hi)) AS m FROM b) g
         |  LEFT JOIN counts c ON g.m = c.m),
         |pre AS (
         |  SELECT m, CAST(SUM(c) OVER (ORDER BY m
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS prefix
         |  FROM grid),
         |delays AS (SELECT unnest([${DelaysS.mkString(", ")}]) AS delay_s),
         |sh AS (
         |  SELECT d.delay_s, p.prefix - COALESCE(po.prefix, 0) AS retained
         |  FROM pre p CROSS JOIN delays d
         |  LEFT JOIN pre po ON po.m = p.m - d.delay_s // 60)
         |SELECT delay_s, CAST(COUNT(*) AS BIGINT) AS n_minutes,
         |  CAST(MAX(retained) AS BIGINT) AS max_state_rows,
         |  CAST((SUM(retained) * 1000000) // COUNT(*) AS BIGINT)
         |    AS mean_state_fx
         |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,

    "ev76_backlog_trajectory" ->
      s"""WITH counts AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1, 2),
         |bounds AS (
         |  SELECT MIN(h) AS lo, MAX(h) AS hi FROM counts),
         |hours AS (
         |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
         |  FROM bounds),
         |grid AS (
         |  SELECT t.event_type, hours.h
         |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM counts) t),
         |nh AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hours FROM hours),
         |cap AS (
         |  SELECT event_type,
         |    (CAST(SUM(n_events) AS BIGINT) * 11) // (10 * n_hours) AS cap
         |  FROM counts CROSS JOIN nh GROUP BY event_type, n_hours),
         |filled AS (
         |  SELECT g.event_type, g.h,
         |    COALESCE(c.n_events, 0) AS arrivals, cap.cap
         |  FROM grid g
         |  LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
         |  JOIN cap ON g.event_type = cap.event_type),
         |traj AS (
         |  SELECT event_type, h, arrivals, cap,
         |    SUM(arrivals - cap) OVER w AS s
         |  FROM filled
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |lagd AS (
         |  SELECT event_type, h, arrivals, cap,
         |    s - LEAST(MIN(s) OVER w, 0) AS lag
         |  FROM traj
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_type,
         |  CAST(MIN(cap) AS BIGINT) AS cap_per_hour,
         |  CAST(SUM(arrivals) AS BIGINT) AS total_arrivals,
         |  CAST(MAX(lag) AS BIGINT) AS peak_backlog,
         |  CAST(SUM(CASE WHEN lag > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hours_backlogged,
         |  CAST(arg_max(lag, h) AS BIGINT) AS end_backlog
         |FROM lagd GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the DIRECT algorithm: busy time as Σ clamped span durations —
    // no sweep; equality with Spark's gauge integral is the
    // conservation law itself
    "ev77_little_law" ->
      s"""WITH ev AS (
         |  SELECT event_type, epoch_us(ts) AS s_us,
         |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
         |  FROM events),
         |b AS (SELECT MIN(s_us) AS t0, MAX(s_us) AS t1 FROM ev),
         |sp AS (
         |  SELECT event_type,
         |    GREATEST(s_us, LEAST(e_us, t1)) - s_us AS dur_us
         |  FROM ev CROSS JOIN b),
         |agg AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_arrivals,
         |    CAST(SUM(dur_us) AS BIGINT) AS busy_us
         |  FROM sp GROUP BY event_type)
         |SELECT event_type, n_arrivals, busy_us,
         |  CAST(t1 - t0 AS BIGINT) AS window_us,
         |  CAST(busy_us * $Fx4 // (t1 - t0) AS BIGINT) AS avg_inflight_fx,
         |  CAST(busy_us // n_arrivals AS BIGINT) AS mean_span_us,
         |  CAST(n_arrivals * 1000000 * $Fx4 // (t1 - t0) AS BIGINT) AS rate_ps_fx
         |FROM agg CROSS JOIN b ORDER BY event_type""".stripMargin,

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
         |  CAST(CAST(SUM(depth) AS BIGINT) * $Fx4 // COUNT(*) AS BIGINT)
         |    AS mean_depth_fx,
         |  CAST(SUM(CASE WHEN depth = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_drained
         |FROM occ GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev80_replay_cost" -> {
      val arms = Commits.map { c =>
        s"""SELECT CAST($c AS BIGINT) AS commit_hours, event_type,
           |    CAST(COUNT(*) AS BIGINT) AS n_windows,
           |    CAST(MAX(wn) AS BIGINT) AS max_replay,
           |    CAST(CAST(SUM(wn) AS BIGINT) * $Fx4 // COUNT(*) AS BIGINT)
           |      AS mean_replay_fx,
           |    CAST(MAX(wn) * $Fx4 // CAST(SUM(wn) AS BIGINT) AS BIGINT)
           |      AS worst_share_fx
           |  FROM (SELECT event_type, eh // $c AS w,
           |      CAST(SUM(n) AS BIGINT) AS wn
           |    FROM hours GROUP BY 1, 2)
           |  GROUP BY event_type""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH hours AS (
         |  SELECT event_type, epoch_us(ts) // 3600000000 AS eh,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |arms AS (
         |  $arms)
         |SELECT * FROM arms ORDER BY commit_hours, event_type""".stripMargin
    },

    "ev81_fano_overdispersion" ->
      s"""WITH counts AS (
         |  SELECT event_type, epoch_us(ts) // 60000000 AS m,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |bounds AS (
         |  SELECT CAST(MAX(m) - MIN(m) + 1 AS BIGINT) AS n_minutes
         |  FROM counts),
         |per_type AS (
         |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
         |    CAST(COUNT(*) AS BIGINT) AS active_minutes,
         |    CAST(SUM(n * n) AS BIGINT) AS sum_sq
         |  FROM counts GROUP BY event_type)
         |SELECT event_type, n_minutes, active_minutes, n_events,
         |  CAST(n_events * $Fx4 // n_minutes AS BIGINT) AS mean_per_minute_fx,
         |  CAST((n_minutes * sum_sq - n_events * n_events) * $Fx4
         |    // (n_minutes * n_events) AS BIGINT) AS fano_fx
         |FROM per_type CROSS JOIN bounds ORDER BY event_type""".stripMargin,

    // ev74's lateness CTEs verbatim (frontier / histogram-pick p99 —
    // the same per-(type, late_us) fold as the Spark side), then the
    // dial VALUES join and the per-type COALESCE(MIN-within, MAX)
    // pick replay the chooser literally
    "ev82_watermark_autopick" ->
      s"""WITH l AS (
         |  SELECT event_id, event_type,
         |    MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - epoch_us(ts) AS late_us
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
         |h AS (
         |  SELECT event_type, late_us, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM l GROUP BY 1, 2),
         |r AS (
         |  SELECT event_type, late_us,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY late_us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM h),
         |c AS (
         |  SELECT event_type, MAX(n) AS n_events,
         |    MIN(CASE WHEN cum >= (n - 1) * 99 // 100 + 1
         |      THEN late_us END) AS p99_us
         |  FROM r GROUP BY 1),
         |st AS (SELECT CAST(delay_s AS BIGINT) AS delay_s
         |  FROM (VALUES (${WatermarkDialS.mkString("),(")})) AS t(delay_s)),
         |j AS (
         |  SELECT c.event_type, st.delay_s, c.n_events, c.p99_us,
         |    CAST(CASE WHEN st.delay_s * 1000000 >= c.p99_us
         |      THEN 1 ELSE 0 END AS BIGINT) AS within_target
         |  FROM c CROSS JOIN st)
         |SELECT event_type, delay_s, n_events, p99_us, within_target,
         |  CAST(CASE WHEN delay_s = COALESCE(
         |    MIN(CASE WHEN within_target = 1 THEN delay_s END)
         |      OVER (PARTITION BY event_type),
         |    MAX(delay_s) OVER (PARTITION BY event_type))
         |    THEN 1 ELSE 0 END AS BIGINT) AS chosen
         |FROM j ORDER BY event_type, delay_s""".stripMargin,

    // ev51's gap-session replay, censused with the distinct-user column
    "ev83_stream_tws_sessions" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
         |o AS (
         |  SELECT user_id, t,
         |    LAG(t) OVER (PARTITION BY user_id ORDER BY t) AS pt
         |  FROM e),
         |m AS (
         |  SELECT user_id, t,
         |    CASE WHEN pt IS NULL OR t - pt > $GapSec THEN 1 ELSE 0 END AS brk
         |  FROM o),
         |sx AS (
         |  SELECT user_id, t,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m),
         |g AS (
         |  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
         |    MAX(t) - MIN(t) AS dur
         |  FROM sx GROUP BY user_id, sid),
         |gg AS (
         |  SELECT user_id, n_events, dur,
         |    sid < MAX(sid) OVER (PARTITION BY user_id) AS completed
         |  FROM g)
         |SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(SUM(dur) AS BIGINT) AS total_duration_sec
         |FROM gg WHERE completed
         |GROUP BY n_events ORDER BY n_events""".stripMargin,

    // distinct (user, type) pairs with their first-contact micros,
    // folded per type
    "ev84_stream_tws_first_seen" ->
      """WITH f AS (
        |  SELECT user_id, event_type,
        |    MIN(epoch_us(ts)) AS first_us
        |  FROM events GROUP BY user_id, event_type)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(MIN(first_us) AS BIGINT) AS earliest_us,
        |  CAST(MAX(first_us) AS BIGINT) AS latest_us
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
