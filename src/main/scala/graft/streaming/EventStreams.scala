package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.model.NearEvent

/** The reference pipeline over real `EVENT_JSON:` log lines — shared
  * by batch and Structured Streaming (every stage is a pure
  * `DataFrame => DataFrame`, so the same code runs under both
  * engines; streaming-only pieces live in [[StreamJobs]]).
  *
  * Stage ↔ reference map:
  *  - [[extractEvents]]   ← events.rs:283-350 extract_events
  *  - [[validated]]       ← event_types.rs:8-24 + events.rs:310-340
  *  - [[filterContracts]] ← events.rs:252-281 collect_events filters
  *  - [[flattenNep171]]   ← event_types.rs:42-66 try_flatten_nep171_event
  *  - [[enrichMetadata]]  ← events.rs:198-250 + token.rs get_metadatas,
  *                          re-expressed as a broadcast dim join (the
  *                          reference does per-token RPCs — at 100 TB
  *                          only a join survives)
  *  - [[toKafkaRecords]]  ← events.rs:76-98 send_event (key/topic/value)
  */
object EventStreams {

  import NearEvent._

  /** Log lines → validated event envelopes with emit_info attached.
    *
    * Input schema: (log: String, receipt_id, block_timestamp,
    * block_height, shard_id, contract_account_id) — one row per
    * outcome log line, the Spark-shaped IndexerExecutionOutcome.
    */
  def extractEvents(logs: DataFrame): DataFrame = {
    val payload = expr(s"substring(trim(log), ${EventJsonPrefix.length + 1})")
    logs
      .filter(startswith(trim(col("log")), lit(EventJsonPrefix)))
      .withColumn("payload", trim(payload))
      // parse the envelope once, in a generator: a filter on its
      // fields ([[validated]]) stays above a generator, while through
      // a projection it would be pushed down with each field rewritten
      // to its own pruned from_json — four more parses per line
      .select(col("*"), inline(array(from_json(col("payload"), envelopeSchema))))
      .select(
        col("standard"), col("version"), col("event"),
        col("payload").as("data"),
        struct(
          col("receipt_id"), col("block_timestamp"), col("block_height"),
          col("shard_id"), col("contract_account_id")).as("emit_info"))
  }

  /** The NEP name-validation predicate (event_types.rs:8-24) — shared
    * by [[validated]], [[extractWithDeadLetter]] and status-column
    * censuses so the split condition can never diverge. Never null
    * (the isNotNull conjuncts), so `!isValid` is its exact complement.
    */
  def isValid: Column =
    col("standard").isNotNull && col("event").isNotNull &&
      col("standard").rlike(NameRegex) && col("event").rlike(NameRegex)

  /** Drop events failing NEP name validation (invalid are logged by
    * the reference; here they're filterable for a dead-letter sink).
    */
  def validated(events: DataFrame): DataFrame =
    events.filter(isValid)

  /** Typed view of the extracted envelope — `Dataset[NearEventRow]`
    * for compile-time field checks in user pipelines.
    */
  def typedEvents(events: DataFrame): org.apache.spark.sql.Dataset[graft.model.NearEventRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[graft.model.NearEventRow] =
      org.apache.spark.sql.Encoders.product[graft.model.NearEventRow]
    events.select(
      col("standard"), col("version"), col("event"), col("data"), col("emit_info")
    ).as[graft.model.NearEventRow]
  }

  /** Valid/invalid split: the reference logs-and-drops invalid events
    * (events.rs:310-340); at scale the scalable analog is a dead-letter
    * frame that routes to its own sink instead of vanishing into logs.
    */
  def extractWithDeadLetter(logs: DataFrame): (DataFrame, DataFrame) = {
    val all = extractEvents(logs)
    (all.filter(isValid), all.filter(!isValid))
  }

  /** Whitelist/blacklist on contract id; empty list = no constraint.
    * A blacklist drops only the contracts it lists, so an event without
    * a contract passes it (and is keyed `standard.event`), as it does
    * with no lists set. A whitelist admits only the ids it lists, and
    * null is not one of them. Both stay plain column predicates, so
    * they push down into the JSON scan.
    */
  def filterContracts(events: DataFrame, whitelist: Seq[String], blacklist: Seq[String]): DataFrame = {
    val c = col("emit_info.contract_account_id")
    val wl = if (whitelist.isEmpty) lit(true) else c.isin(whitelist: _*)
    val bl = if (blacklist.isEmpty) lit(true) else c.isNull || !c.isin(blacklist: _*)
    events.filter(wl && bl)
  }

  /** event_types.rs:26-34 to_key: contract id, else standard.event. */
  def eventKey: Column =
    coalesce(col("emit_info.contract_account_id"),
      concat_ws(".", col("standard"), col("event")))

  /** event_types.rs:37-40 to_topic. */
  def eventTopic(prefix: String): Column =
    concat_ws(".", lit(prefix), col("standard"), col("event"))

  private def isMint: Column = col("event") === "nft_mint"
  private def isTransfer: Column = col("event") === "nft_transfer"

  /** The events [[flattenNep171]] flattens: NEP-171 mint and transfer. */
  private def isFlattened: Column = col("standard") === "nep171" && (isMint || isTransfer)

  /** `data`'s element array, parsed once against the merged element
    * schema for mint and transfer alike.
    */
  private def nep171Elements: Column =
    from_json(get_json_object(col("data"), "$.data"), ArrayType(nep171DataSchema))

  /** A flat token record's own fields, in record order, for element
    * `d` and one of its tokens: each event keeps only its own role
    * fields (mint: owner_id; transfer: old/new_owner_id), so a stray
    * field of the other event stays null.
    */
  private def tokenFields(d: Column, tokenId: Column): Seq[Column] = Seq(
    when(isMint, d.getField("owner_id")).as("owner_id"),
    when(isTransfer, d.getField("old_owner_id")).as("old_owner_id"),
    when(isTransfer, d.getField("new_owner_id")).as("new_owner_id"),
    tokenId.as("token_id"),
    d.getField("memo").as("memo"))

  /** NEP-171 mint/transfer array payloads → one row per element
    * token ([[tokenFields]]). `data` parses once and explodes once.
    * Other events yield no rows (the reference returns an empty vec
    * for those).
    */
  def flattenNep171(events: DataFrame): DataFrame =
    events.filter(isFlattened)
      .select(col("standard"), col("version"), col("event"), col("emit_info"),
        explode(nep171Elements).as("d"))
      .select(Seq(col("standard"), col("version"), col("event"), col("emit_info")) ++
        tokenFields(col("d"), explode(col("d.token_ids"))): _*)

  /** Broadcast-join flat events with a token-metadata dim table keyed
    * (contract_account_id, token_id); derives `_id = contract:token`
    * (token.rs:23-26 build_id) and parses `metadata_extra` from the
    * metadata's JSON `extra` (token.rs:146-155).
    */
  def enrichMetadata(flat: DataFrame, tokens: DataFrame): DataFrame = {
    val t = broadcast(tokens.select(
      col("contract_account_id").as("t_contract"),
      col("token_id").as("t_token"),
      col("title"), col("media"), col("extra")))
    flat.join(t,
        col("emit_info.contract_account_id") === col("t_contract") &&
        col("token_id") === col("t_token"), "left")
      .withColumn("_id",
        concat_ws(":", col("emit_info.contract_account_id"), col("token_id")))
      .withColumn("metadata_extra",
        get_json_object(col("extra"), "$"))
      .drop("t_contract", "t_token")
  }

  /** Kafka-record shape: (key, value JSON, topic) + the catch-all
    * topic fanout (events.rs:148-196 sends every event to both its
    * own topic and `all_topic`).
    */
  def toKafkaRecords(events: DataFrame, prefix: String, allTopic: String): DataFrame = {
    // serialize the stage shape that arrives: the envelope after
    // extract/validate, or the flat per-token record after
    // flatten+enrich (events.rs:198-250 serializes the FLAT event)
    val value = recordValue(events.columns.toSeq)
    // explode over the two destinations rather than unionAll: a union
    // re-evaluates the whole upstream parse pipeline per branch, the
    // explode computes it once and fans out rows
    events.select(
      eventKey.as("key"), value.as("value"),
      explode(array(eventTopic(prefix), lit(allTopic))).as("topic"))
  }

  /** Per-contract ordered delivery (events.rs:147-196 send_events:
    * each contract's group is iterated SEQUENTIALLY in block order,
    * and the metadata sends use FuturesOrdered — events.rs:225-230).
    * Kafka preserves order per (topic, partition) and keyed records
    * land in one partition, so the producer-side obligation is that
    * one contract's records are written by ONE task, consecutively,
    * height-ascending. This transform pins exactly that: a hash
    * repartition on the event key (all of a contract's records in one
    * task = one producer) and a within-task sort on
    * (key, block_height, shard_id, receipt_id). The serialization
    * stages above it are map-only (project + generate), so the
    * ordering survives to the sink untouched. Apply under
    * foreachBatch — streaming DataFrames reject sorts, and the Kafka
    * writer is driven per micro-batch anyway; sequential micro-batches
    * over a height-monotonic source (BlockSource) extend the guarantee
    * across batches.
    */
  def orderedKafkaRecords(events: DataFrame, prefix: String, allTopic: String): DataFrame =
    toKafkaRecords(
      events.repartition(eventKey)
        .sortWithinPartitions(eventKey, col("emit_info.block_height"),
          col("emit_info.shard_id"), col("emit_info.receipt_id")),
      prefix, allTopic)

  /** The metadata-topic delivery (events.rs:168-225
    * send_event_with_metadata): flattened+enriched per-token records
    * go to `<event_topic>_metadata` — a THIRD delivery alongside the
    * specific and catch-all envelope deliveries, not a replacement for
    * them. Input is the [[flattenNep171]]→[[enrichMetadata]] frame;
    * the flat record serializes whole, like the reference's enriched
    * event JSON.
    */
  def metadataRecords(enriched: DataFrame, prefix: String): DataFrame =
    enriched.select(
      eventKey.as("key"), recordValue(enriched.columns.toSeq).as("value"),
      metadataTopic(prefix).as("topic"))

  /** A record's Kafka value: the named columns serialized whole. */
  private def recordValue(columns: Seq[String]): Column = to_json(struct(columns.map(col): _*))

  private def metadataTopic(prefix: String): Column = concat(eventTopic(prefix), lit("_metadata"))

  /** [[toKafkaRecords]] ∪ [[metadataRecords]] of
    * [[enrichMetadata]]([[flattenNep171]](events)) in one pass over
    * `events`: the same (key, value, topic) rows, but the upstream
    * stages run once per event instead of once per union branch.
    * Each event explodes once into its topic row, its all-topic row
    * (both carrying the envelope JSON) and one row per flat token;
    * one left broadcast join enriches them (envelope rows have a null
    * token id, so they never match); one projection keeps the
    * envelope JSON or serializes the enriched flat record.
    */
  def enrichedKafkaRecords(events: DataFrame, tokens: DataFrame,
      prefix: String, allTopic: String): DataFrame = {
    // an exploded row: (topic, envelope JSON, element, token id)
    def row(topic: Column, value: Column, d: Column, token: Column): Column =
      struct(topic.as("topic"), value.as("value"), d.as("d"), token.as("t"))
    def envelopeRow(topic: Column): Column = row(topic, col("envelope"),
      lit(null).cast(nep171DataSchema), lit(null).cast(StringType))
    val noTokens = array().cast(ArrayType(StringType))
    val tokenRows = flatten(transform(col("elements"), d =>
      transform(coalesce(d.getField("token_ids"), noTokens), t =>
        row(metadataTopic(prefix), lit(null).cast(StringType), d, t))))
    val scanned = events
      .select(col("standard"), col("version"), col("event"), col("emit_info"),
        recordValue(events.columns.toSeq).as("envelope"),
        coalesce(when(isFlattened, nep171Elements),
          array().cast(ArrayType(nep171DataSchema))).as("elements"))
      .select(col("standard"), col("version"), col("event"), col("emit_info"),
        explode(concat(array(envelopeRow(eventTopic(prefix)), envelopeRow(lit(allTopic))),
          tokenRows)).as("r"))
      .select(Seq(col("standard"), col("version"), col("event"), col("emit_info"),
        col("r.topic").as("topic"), col("r.value").as("value")) ++
        tokenFields(col("r.d"), col("r.t")): _*)
    val enriched = enrichMetadata(scanned, tokens)
    val flatRecord = enriched.columns.toSeq.filterNot(Set("topic", "value"))
    enriched.select(eventKey.as("key"),
      coalesce(col("value"), recordValue(flatRecord)).as("value"), col("topic"))
  }
}
