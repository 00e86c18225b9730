package graft

import org.apache.spark.sql.functions._
import graft.streaming.NesConfig

class NesConfigSpec extends SparkSpec {
  import spark.implicits._

  test("fromProperties parses the nes.toml key space with defaults") {
    val c = NesConfig.fromProperties(Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "kafka.security.protocol" -> "SASL_SSL",
      "near_events_topic_prefix" -> "prod.events",
      "whitelist_contract_ids" -> "a.near, b.near",
      "new_topic_partitions" -> "12",
      "stats_enabled" -> "true",
      "enrich_metadata" -> "true",
      "some_future_key" -> "ignored"))
    assert(c.kafka === Map(
      "bootstrap.servers" -> "broker:9092", "security.protocol" -> "SASL_SSL"))
    assert(c.kafkaClientOptions("kafka.bootstrap.servers") === "broker:9092")
    assert(c.nearEventsTopicPrefix === "prod.events")
    assert(c.nearEventsAllTopic === "near.events.all") // default
    assert(c.whitelistContractIds === Seq("a.near", "b.near"))
    assert(c.blacklistContractIds === Nil)
    assert(c.newTopicPartitions === 12)
    assert(c.statsEnabled && c.enrichMetadata)
    assert(!c.forceCreateNewTopic)
  }

  test("configured pipeline applies whitelist and enrichment stages") {
    val logs = spark.read.format("graft.sources.BlockSource")
      .option("startHeight", 100).option("numBlocks", 10)
      .option("logsPerBlock", 9).option("numPartitions", 2)
      .load()
    // whitelist one of the 5 synthetic contracts
    val plain = NesConfig.fromProperties(Map(
      "whitelist_contract_ids" -> "contract0.near")).pipeline(logs)
    val keys = plain.select(col("key")).distinct().as[String].collect()
    assert(keys.toSeq === Seq("contract0.near"))
    // every event lands on its own topic AND the catch-all
    val topics = plain.groupBy(col("topic")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(topics.keySet === Set("near.events.nep171.nft_mint", "near.events.all"))
    assert(topics.values.toSet.size === 1)

    // blacklist removes exactly its contracts (events only occur at
    // log indices 0/3/6 → contracts 0, 3, 1 in the synthetic chain)
    val blacklisted = NesConfig.fromProperties(Map(
      "blacklist_contract_ids" -> "contract0.near, contract1.near")).pipeline(logs)
    val remaining = blacklisted.select(col("key")).distinct().as[String].collect().toSet
    assert(remaining === Set("contract3.near"))

    // enrich_metadata=true ADDS the <topic>_metadata delivery of
    // flattened+enriched records; the envelope still goes to the
    // specific and catch-all topics (events.rs three-way try_join)
    val tokens = Seq(
      ("contract0.near", "100:0", "Token #0", "ipfs://m0", """{"rarity":"epic"}"""))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val enriched = NesConfig.fromProperties(Map(
      "whitelist_contract_ids" -> "contract0.near",
      "enrich_metadata" -> "true")).pipeline(logs, Some(tokens))
    val enrichedTopics = enriched.select(col("topic")).distinct()
      .as[String].collect().toSet
    assert(enrichedTopics === Set("near.events.nep171.nft_mint",
      "near.events.all", "near.events.nep171.nft_mint_metadata"))
    val value = enriched.filter(col("topic") === "near.events.all").head.getAs[String]("value")
    assert(value.contains("nft_mint"))
    val metaValue = enriched
      .filter(col("topic") === "near.events.nep171.nft_mint_metadata")
      .head.getAs[String]("value")
    assert(metaValue.contains("token_id") && metaValue.contains("_id"))
  }

  test("runConfigured honors enrich_metadata end-to-end (file source -> per-topic parquet)") {
    val base = java.nio.file.Files.createTempDirectory("graft-nesconf").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val chk = s"$base/chk"
    // render a small log batch from BlockSource into json files
    spark.read.format("graft.sources.BlockSource")
      .option("startHeight", 300).option("numBlocks", 5)
      .option("logsPerBlock", 3).option("numPartitions", 1)
      .load().write.mode("overwrite").json(srcDir)
    val tokens = Seq(
      ("contract0.near", "300:0", "T300", "ipfs://m", """{"k":1}"""))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val q = NesConfig.runConfigured(spark,
      NesConfig.fromProperties(Map("enrich_metadata" -> "true")),
      srcDir, outDir, chk, Some(tokens))
    q.awaitTermination()
    val out = spark.read.parquet(outDir)
    // 1 mint/block (log 0): envelope to 2 topics + 1 flat enriched
    // record to the _metadata topic = 3 deliveries per block
    assert(out.count() === 5L * 3)
    assert(out.columns.contains("value"))
    val v = out.filter(col("topic").endsWith("_metadata"))
      .head.getAs[String]("value")
    assert(v.contains("token_id") && v.contains("_id"))
  }

  test("a second streaming query of the pipeline reuses the first one's generated classes") {
    val base = java.nio.file.Files.createTempDirectory("graft-nesconf").toString
    val srcDir = s"$base/src"
    spark.read.format("graft.sources.BlockSource")
      .option("startHeight", 400).option("numBlocks", 5)
      .option("logsPerBlock", 3).option("numPartitions", 1)
      .load().write.mode("overwrite").json(srcDir)
    val tokens = Seq(("contract0.near", "400:0", "T400", "ipfs://m", """{"k":1}"""))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val conf = NesConfig.fromProperties(Map("enrich_metadata" -> "true"))
    def drain(run: String): Unit = NesConfig.runConfigured(spark, conf, srcDir,
      s"$base/$run/out", s"$base/$run/chk", Some(tokens)).awaitTermination()
    // Janino compiles, JVM-wide: one per codegen-cache miss
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    drain("first")
    val before = compiles
    drain("second")
    // each streaming query runs on a clone of the session; with Spark's
    // per-session artifact isolation it would compile every class anew
    assert(compiles - before === 0L)
    assert(spark.read.parquet(s"$base/second/out").count() === 5L * 3)
  }

  private def loadToml(toml: String): NesConfig = {
    val f = java.nio.file.Files.createTempFile("graft-nes", ".toml")
    java.nio.file.Files.write(f, toml.getBytes("UTF-8"))
    NesConfig.fromTomlFile(f.toString)
  }

  test("fromTomlFile round-trips a reference-shaped nes.toml") {
    val toml =
      """# near-event-streams config (configs.rs NesConfig surface)
        |near_events_topic_prefix = "near.events"   # trailing comment
        |near_events_all_topic = 'near.events.all'
        |whitelist_contract_ids = ["nft.near", "market.near"]
        |blacklist_contract_ids = []
        |new_topic_partitions = 6
        |new_topic_replication = 3
        |force_create_new_topic = true
        |stats_enabled = true
        |enrich_metadata = false
        |
        |[kafka]
        |bootstrap.servers = "broker-1:9092,broker-2:9092"
        |security.protocol = "SASL_SSL"
        |sasl.password = "p#ss"  # hash inside quotes is not a comment
        |sasl.username = "u\"w#x"  # escaped quote must not close the string
        |""".stripMargin
    val c = loadToml(toml)
    assert(c.nearEventsTopicPrefix === "near.events")
    assert(c.nearEventsAllTopic === "near.events.all")
    assert(c.whitelistContractIds === Seq("nft.near", "market.near"))
    assert(c.blacklistContractIds === Nil)
    assert(c.newTopicPartitions === 6 && c.newTopicReplication === 3)
    assert(c.forceCreateNewTopic && c.statsEnabled && !c.enrichMetadata)
    assert(c.kafka("bootstrap.servers") === "broker-1:9092,broker-2:9092")
    assert(c.kafka("security.protocol") === "SASL_SSL")
    assert(c.kafka("sasl.password") === "p#ss")
    assert(c.kafka("sasl.username") === "u\"w#x")
    // and the client-option shaping still applies downstream
    assert(c.kafkaClientOptions("kafka.bootstrap.servers") === "broker-1:9092,broker-2:9092")
    // multi-line arrays (a comment and a trailing comma inside) and
    // quoted keys
    val m = loadToml(
      """whitelist_contract_ids = [
        |  "nft.near",   # a comment inside the array
        |  'market.near',
        |]
        |blacklist_contract_ids = ["spam.near",
        |  "bad]near"]
        |[kafka]
        |"bootstrap.servers" = "broker-1:9092"
        |'sasl.mechanism' = 'PLAIN'
        |""".stripMargin)
    assert(m.whitelistContractIds === Seq("nft.near", "market.near"))
    assert(m.blacklistContractIds === Seq("spam.near", "bad]near"))
    assert(m.kafka === Map(
      "bootstrap.servers" -> "broker-1:9092", "sasl.mechanism" -> "PLAIN"))
    assert(m.kafkaClientOptions("kafka.bootstrap.servers") === "broker-1:9092")
    // a multi-line basic string, an underscored integer and a quoted
    // dotted-key part read the way TOML defines them
    val t = loadToml(
      "near_events_topic_prefix = \"\"\"\nprod.events\"\"\"\n" +
      "new_topic_partitions = 1_000\n" +
      "[kafka]\nsasl.\"jaas.config\" = \"x y\"\n")
    assert(t.nearEventsTopicPrefix === "prod.events")
    assert(t.newTopicPartitions === 1000)
    assert(t.kafka === Map("sasl.jaas.config" -> "x y"))
    // and an inline table flattens like a [table] section
    val inline = loadToml(
      """kafka = { "bootstrap.servers" = "b:9092", security.protocol = 'SASL_SSL' }""")
    assert(inline.kafka === Map(
      "bootstrap.servers" -> "b:9092", "security.protocol" -> "SASL_SSL"))
    // a value fromProperties cannot type names its key
    val bad = intercept[IllegalArgumentException](loadToml("new_topic_replication = 3.5\n"))
    assert(bad.getMessage.contains("new_topic_replication"))
    val badBool = intercept[IllegalArgumentException](
      NesConfig.fromProperties(Map("stats_enabled" -> "yes")))
    assert(badBool.getMessage.contains("stats_enabled"))
    // an array still open at end of file names its key
    val ex = intercept[IllegalArgumentException] {
      loadToml("[kafka]\nwhitelist_contract_ids = [\n  \"nft.near\",\n")
    }
    assert(ex.getMessage.contains("kafka.whitelist_contract_ids"))
  }

  test("enrich_metadata without a tokens frame fails fast") {
    val logs = Seq(("EVENT_JSON:{}", "r1", 1L, 1L, 0L, "c1"))
      .toDF("log", "receipt_id", "block_timestamp", "block_height", "shard_id", "contract_account_id")
    intercept[IllegalArgumentException] {
      NesConfig.fromProperties(Map("enrich_metadata" -> "true")).pipeline(logs)
    }
  }

  test("an enriched streaming pipeline reads its source once per micro-batch") {
    // the envelope deliveries and the NEP-171 flatten share one
    // extract: each event explodes once into all its records
    val src = java.nio.file.Files.createTempDirectory("graft-nesreads").toString
    val logs = spark.readStream.schema(graft.streaming.StreamJobs.logSchema).json(src)
    val tokens = Seq(("c0.near", "1:0", "T", "ipfs://m", "{}"))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val plan = NesConfig(enrichMetadata = true).pipeline(logs, Some(tokens))
      .queryExecution.analyzed
    val reads = plan.collectLeaves().count(
      _.isInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingRelation])
    assert(reads === 1)
  }

  test("the single-scan enriched pipeline equals the stage composition record for record") {
    import graft.streaming.EventStreams
    def ev(event: String, data: String) =
      s"""EVENT_JSON:{"standard":"nep171","version":"1.0.0","event":"$event"$data}"""
    val lines = Seq(
      // repeated token ids, a memo, a hit (1:1) and a miss (1:9)
      "nft.near" -> ev("nft_mint", ""","data":[{"owner_id":"a.near","token_ids":["1:1","1:1","1:9"],"memo":"m"}]"""),
      "nft.near" -> ev("nft_transfer",
        ""","data":[{"old_owner_id":"a.near","new_owner_id":"b.near","token_ids":["2:1"],"memo":"gift"}]"""),
      "nft.near" -> ev("nft_mint", ""","data":[]"""),                             // empty data
      "nft.near" -> ev("nft_mint", ""),                                          // no data
      "nft.near" -> ev("nft_mint", ""","data":[{"owner_id":"a.near"}]"""),        // no token_ids
      "nft.near" -> ev("nft_mint", ""","data":[null,{"owner_id":"c.near","token_ids":["2:1",null]}]"""),
      "nft.near" -> ev("nft_mint", ""","data":{"owner_id":"d.near","token_ids":["1:1"]}"""), // non-array
      "nft.near" -> ev("nft_burn", ""","data":[{"owner_id":"a.near","token_ids":["1:1"]}]"""),
      "spam.near" -> ev("nft_mint", ""","data":[{"owner_id":"s.near","token_ids":["1:1"]}]"""), // blacklisted
      "dex.near" -> """EVENT_JSON:{"standard":"ft_exchange","version":"2.0.0","event":"swap","data":{"x":1}}""",
      // no contract: a blacklist drops only the contracts it lists, so
      // both sides keep it, keyed standard.event
      (null: String) -> ev("nft_mint", ""","data":[{"owner_id":"e.near","token_ids":["5:1"]}]"""),
      "nft.near" -> """EVENT_JSON:{"standard":"bad name!","version":"1","event":"x"}""",
      "nft.near" -> "a plain log line")
    val logs = lines.zipWithIndex.map { case ((contract, log), i) =>
      (log, s"r$i", 1700000000000L + i, 100L + i, 0L, contract)
    }.toDF("log", "receipt_id", "block_timestamp", "block_height", "shard_id", "contract_account_id")
    val tokens = Seq(
      ("nft.near", "1:1", "One", "ipfs://1", """{"rarity":"epic"}"""),
      ("nft.near", "2:1", "Two", null, null),
      ("spam.near", "1:1", "Spam", null, null))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val cfg = NesConfig(blacklistContractIds = Seq("spam.near"), enrichMetadata = true)
    val (prefix, all) = (cfg.nearEventsTopicPrefix, cfg.nearEventsAllTopic)
    val filtered = EventStreams.filterContracts(
      EventStreams.validated(EventStreams.extractEvents(logs)), Nil, Seq("spam.near"))
    val staged = EventStreams.toKafkaRecords(filtered, prefix, all).unionByName(
      EventStreams.metadataRecords(EventStreams.enrichMetadata(
        EventStreams.flattenNep171(filtered), tokens), prefix))
    val single = cfg.pipeline(logs, Some(tokens))
    assert(single.columns.toSeq === staged.columns.toSeq)
    def bag(df: org.apache.spark.sql.DataFrame): Map[(String, String, String), Int] =
      df.select(col("topic"), col("key"), col("value")).as[(String, String, String)]
        .collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.length }
    val got = bag(single)
    assert(got === bag(staged))
    // the fixture exercises what it claims: 10 kept events → 20
    // envelope records; flat rows 3 (repeats kept) + 1 + 2 (one a
    // null token id) + 1 (the lone object) + 1 (the contract-less mint)
    val meta = got.toSeq.filter(_._1._1.endsWith("_metadata"))
    def count(p: String => Boolean) = meta.collect { case (r, n) if p(r._3) => n }.sum
    assert(got.values.sum - meta.map(_._2).sum === 20)
    assert(count(_ => true) === 8)
    assert(count(_.contains("\"title\":\"One\"")) === 3)
    assert(count(v => v.contains("\"token_id\":\"1:9\"") && !v.contains("title")) === 1)
    assert(count(_.contains("\"memo\":\"gift\"")) === 1)
    assert(!got.keys.exists(_._2 == "spam.near"))
    assert(got.keys.exists(_._2 == "nep171.nft_mint"))
  }
}
