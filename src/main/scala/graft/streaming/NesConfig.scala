package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's `nes.toml` configuration surface
  * (configs.rs:148-187 NesConfig) as a typed config + pipeline
  * builder, so a reference deployment's config maps 1:1 onto this
  * library:
  *
  *  - `kafka.*`                    → Kafka client options
  *                                   ([[StreamJobs.Kafka.clientOptions]])
  *  - `near_events_topic_prefix` / `near_events_all_topic`
  *                                 → [[EventStreams.toKafkaRecords]] routing
  *  - `whitelist/blacklist_contract_ids`
  *                                 → [[EventStreams.filterContracts]]
  *  - `enrich_metadata`            → [[EventStreams.enrichMetadata]] stage
  *  - `stats_enabled`              → [[StreamJobs.windowedStats]] side query
  *  - `new_topic_partitions/replication`, `force_create_new_topic`
  *                                 → carried as sink properties (Spark's
  *                                   Kafka sink delegates topic creation
  *                                   to the broker; these become broker/
  *                                   admin settings on a cluster)
  */
final case class NesConfig(
    kafka: Map[String, String] = Map.empty,
    nearEventsTopicPrefix: String = "near.events",
    nearEventsAllTopic: String = "near.events.all",
    whitelistContractIds: Seq[String] = Nil,
    blacklistContractIds: Seq[String] = Nil,
    newTopicPartitions: Int = 1,
    newTopicReplication: Int = 1,
    forceCreateNewTopic: Boolean = false,
    statsEnabled: Boolean = false,
    enrichMetadata: Boolean = false) {

  /** `kafka.`-prefixed client options for Spark's Kafka connector. */
  def kafkaClientOptions: Map[String, String] =
    StreamJobs.Kafka.clientOptions(kafka)

  /** The config's pipeline: extract → validate → white/blacklist →
    * kafka-record shaping with the catch-all fanout, PLUS — when
    * `enrichMetadata` is set — the `<topic>_metadata` delivery of
    * flattened+enriched per-token records (events.rs:157-196 sends
    * every event to its topic AND the all-topic AND, enrichment on,
    * the flat enriched copies to `<topic>_metadata`; enrichment never
    * replaces the envelope deliveries). `tokens` supplies the
    * metadata dim (the reference's per-token RPC lookup, re-expressed
    * as a broadcast join). Enriched, the plan reads its source twice
    * per micro-batch: once for the envelope deliveries, once for the
    * flatten (itself a single parse-and-explode) — the union's two
    * branches each re-evaluate the extract upstream, the cost of the
    * dual-shape fanout; the reference likewise serializes the event
    * once per delivery.
    */
  def pipeline(logs: DataFrame, tokens: Option[DataFrame] = None): DataFrame = {
    val filtered = EventStreams.filterContracts(
      EventStreams.validated(EventStreams.extractEvents(logs)),
      whitelistContractIds, blacklistContractIds)
    val main = EventStreams.toKafkaRecords(
      filtered, nearEventsTopicPrefix, nearEventsAllTopic)
    if (!enrichMetadata) main
    else {
      val enriched = EventStreams.enrichMetadata(
        EventStreams.flattenNep171(filtered),
        tokens.getOrElse(throw new IllegalArgumentException(
          "enrich_metadata=true requires a tokens metadata frame")))
      main.unionByName(
        EventStreams.metadataRecords(enriched, nearEventsTopicPrefix))
    }
  }
}

object NesConfig {

  /** Parse the flattened nes.toml key space (`kafka.xxx` client keys
    * plus the scalar/list settings; lists are comma-separated).
    * Unknown keys are ignored — the reference's TOML parser is also
    * lenient about extras.
    */
  def fromProperties(props: Map[String, String]): NesConfig = {
    def list(key: String): Seq[String] =
      props.get(key).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    def bool(key: String, dflt: Boolean): Boolean =
      props.get(key).map(_.trim.toBoolean).getOrElse(dflt)
    def int(key: String, dflt: Int): Int =
      props.get(key).map(_.trim.toInt).getOrElse(dflt)
    NesConfig(
      kafka = props.collect {
        case (k, v) if k.startsWith("kafka.") => k.stripPrefix("kafka.") -> v
      },
      nearEventsTopicPrefix = props.getOrElse("near_events_topic_prefix", "near.events"),
      nearEventsAllTopic = props.getOrElse("near_events_all_topic", "near.events.all"),
      whitelistContractIds = list("whitelist_contract_ids"),
      blacklistContractIds = list("blacklist_contract_ids"),
      newTopicPartitions = int("new_topic_partitions", 1),
      newTopicReplication = int("new_topic_replication", 1),
      forceCreateNewTopic = bool("force_create_new_topic", dflt = false),
      statsEnabled = bool("stats_enabled", dflt = false),
      enrichMetadata = bool("enrich_metadata", dflt = false))
  }

  /** Load a real `nes.toml` from disk (configs.rs:166-177 builds the
    * config from `home_dir/nes.toml`). Parses the TOML subset the
    * reference config actually uses — `[table]` headers, `key =
    * "string" | int | bool | ["a", "b"]` and `#` comments — and
    * flattens it onto the [[fromProperties]] key space (`kafka.`
    * prefix for table entries, lists comma-joined, mirroring the
    * reference's lenient `config::Config` file source).
    */
  def fromTomlFile(path: String): NesConfig = fromToml(new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
    java.nio.charset.StandardCharsets.UTF_8))

  def fromToml(text: String): NesConfig = fromProperties(parseToml(text))

  /** Flatten TOML text to the `fromProperties` key map. Quote-aware:
    * `#` inside strings is content, `\"`/`\\` escapes in basic
    * (double-quoted) strings are honored, keys may be quoted, arrays
    * may span lines (comments and a trailing comma inside them are
    * fine), and array elements split on TOP-LEVEL commas only. An
    * array still open at end of input is an error naming its key. One
    * flattening caveat: list values re-join on commas for the
    * `fromProperties` key space, which is lossless for the reference's
    * lists (NEAR account ids — the validated charset `[a-zA-Z0-9._-]`
    * cannot contain a comma).
    */
  def parseToml(text: String): Map[String, String] = {
    // (index, char) of every char outside a string
    def topLevel(s: String): Seq[(Int, Char)] = {
      val out = Seq.newBuilder[(Int, Char)]; var q: Char = 0; var esc = false
      for ((c, i) <- s.zipWithIndex) {
        if (esc) esc = false
        else if (q == '"' && c == '\\') esc = true
        else if (q == 0) { if (c == '"' || c == '\'') q = c else out += i -> c }
        else if (c == q) q = 0
      }
      out.result()
    }
    def stripComment(s: String): String =
      topLevel(s).collectFirst { case (i, '#') => s.take(i) }.getOrElse(s)
    def splitTop(s: String, sep: Char): Seq[String] = {
      val cuts = topLevel(s).collect { case (i, c) if c == sep => i }
      (-1 +: cuts).zip(cuts :+ s.length).map { case (a, b) => s.substring(a + 1, b) }
    }
    def depth(s: String): Int =
      topLevel(s).map { case (_, '[') => 1; case (_, ']') => -1; case _ => 0 }.sum
    def unquote(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && t.head == '"' && t.last == '"') {
        val b = new StringBuilder; var esc = false
        for (c <- t.substring(1, t.length - 1)) {
          if (esc) { b += c; esc = false }
          else if (c == '\\') esc = true
          else b += c
        }
        b.toString
      } else if (t.length >= 2 && t.head == '\'' && t.last == '\'')
        t.substring(1, t.length - 1) // literal string: no escapes
      else t
    }
    var section = ""
    val out = Map.newBuilder[String, String]
    // a key line whose array is still open takes the next lines too
    var pending = ""
    def key(l: String): String = section + unquote(splitTop(l, '=').head)
    text.linesIterator.map(l => stripComment(l).trim).filter(_.nonEmpty).foreach { l =>
      pending = if (pending.isEmpty) l else pending + " " + l
      if (pending.startsWith("[") || depth(pending) <= 0) {
        pending match {
          case h if h.startsWith("[") && h.endsWith("]") =>
            section = h.substring(1, h.length - 1).trim match {
              case "" => ""; case s => s + "."
            }
          case kv if kv.contains("=") =>
            val value = splitTop(kv, '=').tail.mkString("=").trim match {
              case a if a.startsWith("[") && a.endsWith("]") =>
                splitTop(a.substring(1, a.length - 1), ',')
                  .map(unquote).filter(_.nonEmpty).mkString(",")
              case v => unquote(v)
            }
            out += key(kv) -> value
          case _ => // lenient: ignore anything else, like the reference's parser
        }
        pending = ""
      }
    }
    require(pending.isEmpty, s"nes.toml: the array of '${key(pending)}' is never closed")
    out.result()
  }

  /** Convenience: run the configured pipeline as the file-based
    * streaming job — `config.pipeline` builds the stage chain (so
    * enrich_metadata is honored; pass `tokens` when it is set), and
    * the records land as per-topic partitioned parquet. The kafka.*
    * client options don't apply to the file sink (swap the
    * foreachBatch body for [[StreamJobs.Kafka.sink]] on a cluster);
    * stats_enabled is a separate side query the caller starts with
    * [[StreamJobs.windowedStats]].
    */
  def runConfigured(
      spark: SparkSession, config: NesConfig,
      sourceDir: String, outDir: String, checkpointDir: String,
      tokens: Option[DataFrame] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val logs = spark.readStream.schema(StreamJobs.logSchema).json(sourceDir)
    config.pipeline(logs, tokens).writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("topic").parquet(outDir)
      }
      .start()
  }
}
