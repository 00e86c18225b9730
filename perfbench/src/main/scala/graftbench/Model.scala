package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** One delivered record: topic, key and JSON value. */
final case class Rec(topic: String, key: String, value: String) {
  /** Same as Spark's `xxhash64(concat_ws(Model.Sep, topic, key, value))`. */
  def hash: Long = Model.hash(Seq(topic, key, value).mkString(Model.Sep))
}

/** Expected output of the configured pipeline for a set of lines. */
final case class Expected(hashes: Array[Long], recordsPerLine: Array[Int], counts: Map[String, Double]) {
  def records: Long = hashes.length.toLong
}

/** The expected-output model, written from the reference's semantics
  * (events.rs / event_types.rs / token.rs) in plain Scala, independent
  * of the Spark pipeline it checks:
  *  - a line is an event when its space-trimmed text starts with
  *    `EVENT_JSON:`; the rest, trimmed, is the payload;
  *  - a payload that is not a JSON object is unparsed; standard and
  *    event must both match `^[a-zA-Z0-9._-]+$`;
  *  - blacklisted contracts are dropped (the whitelist is empty);
  *  - every kept event goes to `prefix.standard.event` and to the
  *    catch-all topic, keyed by contract id;
  *  - NEP-171 `nft_mint` / `nft_transfer` events whose `data` is an array
  *    flatten to one row per (element, token id); each row is left-joined
  *    to the metadata dim on (contract, token) and goes to
  *    `prefix.standard.event_metadata`.
  * Values are the compact JSON a Spark `to_json` writes: struct fields in
  * order, null fields left out.
  */
final class Model(tokens: Iterable[TokenMeta], blacklist: Set[String],
    prefix: String = "near.events", allTopic: String = "near.events.all") {
  import Model._

  private val dim: Map[(String, String), TokenMeta] =
    tokens.iterator.map(t => (t.contract, t.tokenId) -> t).toMap

  private val counts = scala.collection.mutable.LinkedHashMap(
    "lines" -> 0L, "extracted" -> 0L, "invalid_unparsed" -> 0L, "invalid_name" -> 0L,
    "filtered_out" -> 0L, "nep171_events" -> 0L, "flat_rows" -> 0L, "enrich_hits" -> 0L,
    "records" -> 0L)

  private def bump(k: String, n: Long = 1): Unit = counts(k) += n

  /** The records one line produces, in no particular order. */
  def recordsOf(row: LogRow): Seq[Rec] = {
    bump("lines")
    val trimmed = spaceTrim(row.log)
    if (!trimmed.startsWith(Gen.Prefix)) return Nil
    bump("extracted")
    val payload = spaceTrim(trimmed.substring(Gen.Prefix.length))
    val root = parse(payload).filter(_.isObject)
    if (root.isEmpty) { bump("invalid_unparsed"); return Nil }
    val env = root.get
    val standard = text(env, "standard")
    val event = text(env, "event")
    val version = text(env, "version")
    if (!(standard.exists(ValidName.matches) && event.exists(ValidName.matches))) {
      bump("invalid_name"); return Nil
    }
    if (blacklist.contains(row.contract)) { bump("filtered_out"); return Nil }
    val (s, e) = (standard.get, event.get)
    val topic = s"$prefix.$s.$e"
    val emit = obj(
      "receipt_id" -> Some(Json.str(row.receiptId)),
      "block_timestamp" -> Some(row.blockTimestamp.toString),
      "block_height" -> Some(row.blockHeight.toString),
      "shard_id" -> Some(row.shardId.toString),
      "contract_account_id" -> Some(Json.str(row.contract)))
    val head = Seq("standard" -> Some(Json.str(s)), "version" -> version.map(Json.str),
      "event" -> Some(Json.str(e)))
    val envelope = obj(head ++ Seq("data" -> Some(Json.str(payload)), "emit_info" -> Some(emit)): _*)
    val main = Seq(Rec(topic, row.contract, envelope), Rec(allTopic, row.contract, envelope))
    val flat =
      if (s == "nep171" && (e == "nft_mint" || e == "nft_transfer")) {
        bump("nep171_events")
        flatten(env, e == "nft_mint").map { case (fields, token) =>
          val meta = dim.get((row.contract, token))
          if (meta.isDefined) bump("enrich_hits")
          val extra = meta.flatMap(_.extra)
          Rec(topic + "_metadata", row.contract, obj(head ++ Seq("emit_info" -> Some(emit)) ++ fields ++ Seq(
            "title" -> meta.map(m => Json.str(m.title)),
            "media" -> meta.map(m => Json.str(m.media)),
            "extra" -> extra.map(Json.str),
            "_id" -> Some(Json.str(s"${row.contract}:$token")),
            "metadata_extra" -> extra.flatMap(parse).map(n => Json.str(n.toString))): _*))
        }
      } else Nil
    bump("flat_rows", flat.length)
    bump("records", main.length + flat.length)
    main ++ flat
  }

  /** NEP-171 flatten: one (fields, token id) per token of each element of
    * an array `data`; anything else in `data` yields nothing.
    */
  private def flatten(env: JsonNode, mint: Boolean): Seq[(Seq[(String, Option[String])], String)] = {
    val data = env.get("data")
    if (data == null || !data.isArray) return Nil
    elements(data).filter(_.isObject).flatMap { el =>
      val ids = Option(el.get("token_ids")).filter(_.isArray).map(elements).getOrElse(Nil)
      ids.filter(_.isTextual).map { t =>
        val fields =
          if (mint) Seq("owner_id" -> text(el, "owner_id").map(Json.str))
          else Seq("old_owner_id" -> text(el, "old_owner_id").map(Json.str),
            "new_owner_id" -> text(el, "new_owner_id").map(Json.str))
        (fields ++ Seq("token_id" -> Some(Json.str(t.asText())),
          "memo" -> text(el, "memo").map(Json.str)), t.asText())
      }
    }
  }

  /** Runs every line through the model. */
  def expect(rows: Iterable[LogRow]): Expected = {
    val hashes = Array.newBuilder[Long]
    val per = Array.newBuilder[Int]
    rows.foreach { r =>
      val recs = recordsOf(r)
      per += recs.length
      recs.foreach(x => hashes += x.hash)
    }
    val h = hashes.result()
    java.util.Arrays.sort(h)
    Expected(h, per.result(), countSummary)
  }

  /** The model's stage counts, in the names the benchmark reports. */
  def countSummary: Map[String, Double] = {
    val c = counts.view.mapValues(_.toDouble).toMap
    Map(
      "EventStreams.extracted" -> c("extracted"),
      "EventStreams.invalid_name" -> c("invalid_name"),
      "EventStreams.invalid_unparsed" -> c("invalid_unparsed"),
      "EventStreams.filtered_out" -> c("filtered_out"),
      "EventStreams.flat_rows" -> c("flat_rows"),
      "EventStreams.fanout" -> ratio(c("flat_rows"), c("nep171_events")),
      "EventStreams.enrich_hit_ratio" -> ratio(c("enrich_hits"), c("flat_rows")),
      "EventStreams.records_per_line" -> ratio(c("records"), c("lines")))
  }
}

object Model {
  val Sep = "\u0001"
  private val ValidName = "^[a-zA-Z0-9._-]+$".r
  private val mapper = new ObjectMapper()

  def hash(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Trims ASCII spaces only, like Spark's `trim`. */
  def spaceTrim(s: String): String = {
    var i = 0; var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j)
  }

  private def parse(s: String): Option[JsonNode] =
    try {
      val p = mapper.getFactory.createParser(s)
      try {
        val n: JsonNode = mapper.readTree(p)
        if (n == null || p.nextToken() != null) None else Some(n)
      } finally p.close()
    } catch { case _: java.io.IOException => None }

  private def text(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(x => if (x.isTextual) x.asText() else x.toString)

  private def elements(n: JsonNode): Seq[JsonNode] = {
    val b = Seq.newBuilder[JsonNode]
    n.elements().forEachRemaining(x => b += x)
    b.result()
  }

  private def obj(fields: (String, Option[String])*): String =
    fields.collect { case (k, Some(v)) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Multiset difference of two sorted hash arrays: (missing, extra). */
  def diff(expected: Array[Long], actual: Array[Long]): (Long, Long) = {
    var i = 0; var j = 0; var missing = 0L; var extra = 0L
    while (i < expected.length || j < actual.length) {
      if (j >= actual.length || (i < expected.length && expected(i) < actual(j))) { missing += 1; i += 1 }
      else if (i >= expected.length || actual(j) < expected(i)) { extra += 1; j += 1 }
      else { i += 1; j += 1 }
    }
    (missing, extra)
  }
}
