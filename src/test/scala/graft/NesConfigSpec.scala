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

  test("an enriched streaming pipeline reads its source twice per micro-batch") {
    // the envelope deliveries read once and the NEP-171 flatten reads
    // once (one parse-and-explode for mint and transfer alike)
    val src = java.nio.file.Files.createTempDirectory("graft-nesreads").toString
    val logs = spark.readStream.schema(graft.streaming.StreamJobs.logSchema).json(src)
    val tokens = Seq(("c0.near", "1:0", "T", "ipfs://m", "{}"))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val plan = NesConfig(enrichMetadata = true).pipeline(logs, Some(tokens))
      .queryExecution.analyzed
    val reads = plan.collectLeaves().count(
      _.isInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingRelation])
    assert(reads === 2)
  }
}
