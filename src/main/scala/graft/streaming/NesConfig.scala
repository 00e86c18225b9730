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
  *  - `enrich_metadata`            → [[EventStreams.enrichedKafkaRecords]]
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
    * as a broadcast join). Enriched or not, the plan reads its source
    * once per micro-batch: [[EventStreams.enrichedKafkaRecords]]
    * explodes each event once into all three deliveries instead of
    * unioning two branches that would each re-run the extract.
    */
  def pipeline(logs: DataFrame, tokens: Option[DataFrame] = None): DataFrame = {
    val filtered = EventStreams.filterContracts(
      EventStreams.validated(EventStreams.extractEvents(logs)),
      whitelistContractIds, blacklistContractIds)
    if (!enrichMetadata)
      EventStreams.toKafkaRecords(filtered, nearEventsTopicPrefix, nearEventsAllTopic)
    else EventStreams.enrichedKafkaRecords(filtered,
      tokens.getOrElse(throw new IllegalArgumentException(
        "enrich_metadata=true requires a tokens metadata frame")),
      nearEventsTopicPrefix, nearEventsAllTopic)
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
    def typed[T](key: String, dflt: T, kind: String)(read: String => T): T =
      props.get(key).fold(dflt) { v =>
        try read(v.trim) catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"nes.toml: '$key' must be $kind, got '$v'", e)
        }
      }
    def bool(key: String, dflt: Boolean): Boolean = typed(key, dflt, "a boolean")(_.toBoolean)
    def int(key: String, dflt: Int): Int = typed(key, dflt, "an integer")(_.toInt)
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
    * config from `home_dir/nes.toml`) and flatten it onto the
    * [[fromProperties]] key space with [[parseToml]].
    */
  def fromTomlFile(path: String): NesConfig = fromToml(new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
    java.nio.charset.StandardCharsets.UTF_8))

  def fromToml(text: String): NesConfig = fromProperties(parseToml(text))

  /** Flatten TOML text to the `fromProperties` key map. A `[table]`
    * header, a dotted key (`sasl."jaas.config"`) and an inline table
    * (`kafka = { "bootstrap.servers" = "b:9092" }`) all prefix their
    * keys with `table.`; strings may be basic or literal, single- or
    * multi-line, with TOML escapes; numbers drop their underscores
    * (`1_000` reads `1000`); arrays may span lines with comments and a
    * trailing comma, and re-join on commas — lossless for the
    * reference's lists (NEAR account ids cannot contain a comma).
    * Anything else TOML allows (arrays of tables, nested arrays) or
    * forbids is an IllegalArgumentException naming the key, or the
    * line where no key is known yet.
    */
  def parseToml(text: String): Map[String, String] = {
    var i = 0
    def peek: Char = if (i < text.length) text(i) else '\u0000'
    def eof = i >= text.length
    def fail(where: String, what: String): Nothing =
      throw new IllegalArgumentException(s"nes.toml: $where $what")
    def line = s"line ${text.take(i).count(_ == '\n') + 1}:"
    def skip(chars: String): Unit = while (!eof && chars.contains(peek)) i += 1
    def skipComment(): Unit = if (peek == '#') while (!eof && peek != '\n') i += 1
    def skipBlank(): Unit = { skip(" \t\r\n"); if (peek == '#') { skipComment(); skipBlank() } }
    def expect(c: Char, where: String, what: String): Unit = {
      skip(" \t")
      if (peek == c) i += 1 else fail(where, what)
    }
    def endOfLine(k: String): Unit = {
      skip(" \t"); skipComment()
      if (!eof && peek != '\n' && peek != '\r') fail(s"'$k'", s"has '$peek' after its value")
    }
    // a basic or literal string, single- or multi-line
    def string(where: String): String = {
      val q = peek
      val delim = q.toString * (if (text.startsWith(q.toString * 3, i)) 3 else 1)
      i += delim.length
      if (delim.length == 3) { skip("\r"); if (peek == '\n') i += 1 } // trimmed first newline
      val b = new StringBuilder
      while (!text.startsWith(delim, i)) {
        if (eof || (delim.length == 1 && peek == '\n')) fail(where, "string is never closed")
        if (q == '"' && peek == '\\') {
          i += 1
          peek match {
            // a line-ending backslash trims the whitespace and newlines after it
            case c if delim.length == 3 && " \t\r\n".contains(c) => skip(" \t\r\n")
            case 'u' | 'U' =>
              val n = if (peek == 'u') 4 else 8
              b.appendAll(Character.toChars(scala.util.Try(Integer.parseInt(text.slice(i + 1, i + 1 + n), 16))
                .getOrElse(fail(where, "has an invalid unicode escape"))))
              i += 1 + n
            case c =>
              b += TomlEscapes.getOrElse(c, fail(where, s"has an invalid escape '\\$c'"))
              i += 1
          }
        } else { b += peek; i += 1 }
      }
      i += delim.length
      b.toString
    }
    // a dotted key; quoted parts keep their dots as content
    def key(): String = {
      skip(" \t")
      val part =
        if (peek == '"' || peek == '\'') string(line)
        else {
          val s = i
          while (peek.isLetterOrDigit || peek == '_' || peek == '-') i += 1
          if (s == i) fail(line, s"expected a key, found '$peek'")
          text.substring(s, i)
        }
      skip(" \t")
      if (peek == '.') { i += 1; part + "." + key() } else part
    }
    // the flattened (key, value) entries of the value at i
    def value(k: String): Seq[(String, String)] = peek match {
      case '[' =>
        i += 1
        val elems = Seq.newBuilder[String]
        skipBlank()
        while (peek != ']') {
          if (eof) fail(s"'$k'", "array is never closed")
          if (peek == '[' || peek == '{') fail(s"'$k'", "nests an array or table")
          elems ++= value(k).map(_._2)
          skipBlank()
          if (peek == ',') { i += 1; skipBlank() }
          else if (peek != ']' && !eof) fail(s"'$k'", s"has '$peek' inside its array")
        }
        i += 1
        Seq(k -> elems.result().mkString(","))
      case '{' =>
        i += 1
        skip(" \t")
        val entries = Seq.newBuilder[(String, String)]
        while (peek != '}') {
          val kk = k + "." + key()
          expect('=', s"'$kk'", "has no '='")
          skip(" \t")
          entries ++= value(kk)
          skip(" \t")
          if (peek == ',') i += 1 else if (peek != '}') fail(s"'$k'", "inline table is never closed")
        }
        i += 1
        entries.result()
      case '"' | '\'' => Seq(k -> string(s"'$k'"))
      case _ =>
        val s = i
        while (!eof && !" \t\r\n,]}#".contains(peek)) i += 1
        Seq(k -> (text.substring(s, i) match {
          case n @ TomlNumber(_*) => n.replace("_", "").stripPrefix("+")
          case v if v == "true" || v == "false" || v.headOption.exists(_.isDigit) => v // dates too
          case v => fail(s"'$k'", s"has an invalid value '$v'")
        }))
    }
    val out = Map.newBuilder[String, String]
    var table = ""
    skipBlank()
    while (!eof) {
      if (peek == '[') {
        i += 1
        if (peek == '[') fail(line, "arrays of tables are not supported")
        val t = key()
        expect(']', line, s"table header '$t' is never closed")
        table = t + "."
        endOfLine(t)
      } else {
        val k = table + key()
        expect('=', s"'$k'", "has no '='")
        skip(" \t")
        out ++= value(k)
        endOfLine(k)
      }
      skipBlank()
    }
    out.result()
  }

  private val TomlEscapes = Map('n' -> '\n', 't' -> '\t', 'r' -> '\r', 'b' -> '\b',
    'f' -> '\f', '"' -> '"', '\\' -> '\\')
  private val TomlNumber = """[+-]?\d+(_\d+)*(\.\d+(_\d+)*)?([eE][+-]?\d+(_\d+)*)?""".r

  /** Convenience: run the configured pipeline as the file-based
    * streaming job — `config.pipeline` builds the stage chain (so
    * enrich_metadata is honored; pass `tokens` when it is set), and
    * the records land as per-topic partitioned parquet through Spark's
    * file sink, which is exactly-once: its `_spark_metadata` log
    * records each committed batch, so a batch replayed after a crash
    * between the parquet write and the checkpoint commit is skipped,
    * and readers of `outDir` see only committed files. The kafka.*
    * client options don't apply to the file sink (use
    * [[StreamJobs.Kafka.sink]] on a cluster); stats_enabled is a
    * separate side query the caller starts with
    * [[StreamJobs.windowedStats]].
    */
  def runConfigured(
      spark: SparkSession, config: NesConfig,
      sourceDir: String, outDir: String, checkpointDir: String,
      tokens: Option[DataFrame] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val logs = spark.readStream.schema(StreamJobs.logSchema).json(sourceDir)
    config.pipeline(logs, tokens).writeStream
      .format("parquet").partitionBy("topic")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(outDir)
  }
}
