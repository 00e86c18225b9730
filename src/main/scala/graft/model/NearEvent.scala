package graft.model

import org.apache.spark.sql.types._

/** Data model mirroring the reference's event types
  * (event_types.rs) as Spark schemas + case classes.
  *
  * `data` is kept as a JSON string at the envelope level (the
  * reference's `EventData::Generic`); NEP-171 payloads additionally
  * parse into typed arrays for flattening. This keeps the envelope
  * schema stable while allowing standard-specific projection — the
  * Spark-idiomatic version of Rust's untagged enum.
  */
object NearEvent {

  /** event_types.rs:96-120 Nep171MintData ∪ Nep171TransferData, the
    * fields the flatten reads: one element schema for both NEP-171
    * array payloads. Every role field is a string, and a string field
    * accepts any JSON value, so a field the element's event does not
    * define never fails the element; the flatten keeps only the
    * event's own role fields.
    */
  val nep171DataSchema: StructType = StructType(Seq(
    StructField("owner_id", StringType),
    StructField("old_owner_id", StringType),
    StructField("new_owner_id", StringType),
    StructField("token_ids", ArrayType(StringType)),
    StructField("memo", StringType)))

  /** Envelope: event_types.rs:13-23 NearEvent with `data` kept raw. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("standard", StringType),
    StructField("version", StringType),
    StructField("event", StringType)))

  /** event_types.rs:8-10 — validation regexes for standard/event. */
  val NameRegex = "^[a-zA-Z0-9._-]+$"

  /** events.rs:286 — the log-line marker. */
  val EventJsonPrefix = "EVENT_JSON:"
}

/** Typed rows for Dataset use. */
case class EmitInfo(
    receipt_id: String,
    block_timestamp: Long,
    block_height: Long,
    shard_id: Long,
    contract_account_id: String)

case class NearEventRow(
    standard: String,
    version: String,
    event: String,
    data: String,
    emit_info: EmitInfo)
