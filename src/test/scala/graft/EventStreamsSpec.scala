package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def logRow(log: String, contract: String = "nft.example.near") =
    (log, "rcpt1", 1700000000000L, 1234L, 0L, contract)

  private val mintLog =
    """EVENT_JSON:{"standard":"nep171","version":"1.0.0","event":"nft_mint","data":[{"owner_id":"alice.near","token_ids":["1:1","1:2"]},{"owner_id":"bob.near","token_ids":["2:1"]}]}"""
  private val transferLog =
    """EVENT_JSON:{"standard":"nep171","version":"1.0.0","event":"nft_transfer","data":[{"old_owner_id":"alice.near","new_owner_id":"bob.near","token_ids":["1:1"]}]}"""
  private val genericLog =
    """EVENT_JSON:{"standard":"ft_exchange","version":"2.0.0","event":"swap","data":{"amount":42}}"""
  private val invalidNameLog =
    """EVENT_JSON:{"standard":"bad standard!","version":"1.0.0","event":"x","data":{}}"""
  private val nonEventLog = "plain log line, not an event"

  private def logs = Seq(
    logRow(mintLog), logRow(transferLog), logRow(genericLog, "dex.near"),
    logRow(invalidNameLog), logRow(nonEventLog), logRow("  " + mintLog + "  "))
    .toDF("log", "receipt_id", "block_timestamp", "block_height", "shard_id", "contract_account_id")

  test("extractEvents keeps only EVENT_JSON lines and attaches emit_info") {
    val ev = EventStreams.extractEvents(logs)
    assert(ev.count() === 5) // all but the plain line (incl. padded dup)
    val first = ev.filter(col("event") === "swap").head
    assert(first.getAs[org.apache.spark.sql.Row]("emit_info")
      .getAs[String]("contract_account_id") === "dex.near")
  }

  test("validated drops events failing the NEP name regex") {
    val ev = EventStreams.validated(EventStreams.extractEvents(logs))
    assert(ev.count() === 4)
    assert(ev.filter(col("standard") === "bad standard!").count() === 0)
  }

  test("extractWithDeadLetter splits every extracted event into valid or dead") {
    val truncated = """EVENT_JSON:{"standard":"nep171","""
    val noEvent = """EVENT_JSON:{"standard":"nep171","version":"1.0.0","data":[]}"""
    val notObject = "EVENT_JSON:42" // parses to a null envelope
    val all = logs.union(Seq(logRow(truncated), logRow(noEvent), logRow(notObject))
      .toDF(logs.columns.toIndexedSeq: _*))
    def payloads(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("data")).as[String].collect().sorted.toSeq
    def bodies(lines: String*): Seq[String] =
      lines.map(_.trim.stripPrefix("EVENT_JSON:")).sorted
    val (valid, dead) = EventStreams.extractWithDeadLetter(all)
    val extracted = payloads(EventStreams.extractEvents(all))
    assert(extracted.size === 8)
    assert((payloads(valid) ++ payloads(dead)).sorted === extracted)
    assert(payloads(valid) === bodies(mintLog, mintLog, transferLog, genericLog))
    assert(payloads(dead) === bodies(invalidNameLog, truncated, noEvent, notObject))
  }

  test("filterContracts applies white/blacklists like collect_events") {
    val ev = EventStreams.validated(EventStreams.extractEvents(logs))
    assert(EventStreams.filterContracts(ev, Seq("dex.near"), Nil).count() === 1)
    assert(EventStreams.filterContracts(ev, Nil, Seq("dex.near")).count() === 3)
    assert(EventStreams.filterContracts(ev, Nil, Nil).count() === 4)
  }

  test("a blacklist keeps a contract-less event, keyed standard.event") {
    val ev = EventStreams.validated(EventStreams.extractEvents(
      Seq(logRow(genericLog, null)).toDF(logs.columns.toIndexedSeq: _*)))
    val kept = EventStreams.filterContracts(ev, Nil, Seq("dex.near"))
    assert(kept.select(EventStreams.eventKey).as[String].collect().toSeq ===
      Seq("ft_exchange.swap"))
    assert(EventStreams.filterContracts(ev, Seq("dex.near"), Nil).count() === 0)
  }

  test("flattenNep171 explodes mint/transfer arrays per token like try_flatten") {
    val ev = EventStreams.validated(EventStreams.extractEvents(logs))
      .dropDuplicates("standard", "event", "data")
    val flat = EventStreams.flattenNep171(ev)
    // mint: alice 2 tokens + bob 1; transfer: 1 token
    assert(flat.count() === 4)
    assert(flat.filter(col("event") === "nft_mint").count() === 3)
    assert(flat.filter(col("owner_id") === "alice.near").count() === 2)
    val x = flat.filter(col("event") === "nft_transfer").head
    assert(x.getAs[String]("new_owner_id") === "bob.near")
    assert(x.getAs[String]("token_id") === "1:1")

    // one element schema serves both events, so each event must keep
    // only its own role fields: a stray old_owner_id on a mint element
    // and a stray owner_id on a transfer element stay null
    val strayMint =
      """EVENT_JSON:{"standard":"nep171","version":"1.0.0","event":"nft_mint","data":[{"owner_id":"carol.near","old_owner_id":"x.near","token_ids":["3:1"]}]}"""
    val strayTransfer =
      """EVENT_JSON:{"standard":"nep171","version":"1.0.0","event":"nft_transfer","data":[{"owner_id":"y.near","old_owner_id":"carol.near","new_owner_id":"dave.near","token_ids":["3:1"]}]}"""
    val stray = EventStreams.flattenNep171(EventStreams.extractEvents(
      Seq(logRow(strayMint), logRow(strayTransfer)).toDF("log", "receipt_id",
        "block_timestamp", "block_height", "shard_id", "contract_account_id")))
    assert(stray.columns.toSeq === Seq("standard", "version", "event", "emit_info",
      "owner_id", "old_owner_id", "new_owner_id", "token_id", "memo"))
    val byEvent = stray
      .select(col("event"), to_json(struct(stray.columns.map(col).toSeq: _*)).as("json"))
      .as[(String, String)].collect().toMap
    assert(byEvent.size === 2)
    assert(byEvent("nft_mint").contains("\"owner_id\":\"carol.near\""))
    assert(!byEvent("nft_mint").contains("old_owner_id"))
    assert(byEvent("nft_transfer").contains(
      "\"old_owner_id\":\"carol.near\",\"new_owner_id\":\"dave.near\",\"token_id\":\"3:1\""))
    assert(!byEvent("nft_transfer").contains("\"owner_id\""))
  }

  test("enrichMetadata broadcast-joins token metadata and derives _id") {
    val ev = EventStreams.validated(EventStreams.extractEvents(logs))
      .dropDuplicates("standard", "event", "data")
    val flat = EventStreams.flattenNep171(ev)
    val tokens = Seq(
      ("nft.example.near", "1:1", "Token One", "ipfs://x", """{"rarity":"epic"}"""))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val enriched = EventStreams.enrichMetadata(flat, tokens)
    assert(enriched.count() === 4)
    val hit = enriched.filter(col("title").isNotNull)
    assert(hit.count() === 2) // mint 1:1 and transfer 1:1
    assert(hit.head.getAs[String]("_id") === "nft.example.near:1:1")
    assert(enriched.filter(col("token_id") === "2:1").head.getAs[String]("title") == null)
  }

  test("typedEvents gives a compile-time-checked Dataset[NearEventRow]") {
    val ev = EventStreams.typedEvents(
      EventStreams.validated(EventStreams.extractEvents(logs)))
    val mints = ev.filter(_.event == "nft_mint")
      .map(e => e.emit_info.contract_account_id)(
        org.apache.spark.sql.Encoders.STRING)
    assert(mints.collect().toSet === Set("nft.example.near"))
  }

  test("toKafkaRecords emits per-event topic + catch-all fanout") {
    val ev = EventStreams.validated(EventStreams.extractEvents(logs))
    val recs = EventStreams.toKafkaRecords(ev, "near.events", "near.events.all")
    assert(recs.count() === ev.count() * 2)
    assert(recs.filter(col("topic") === "near.events.all").count() === ev.count())
    assert(recs.filter(col("topic") === "near.events.nep171.nft_mint").count() === 2)
    // key = contract id when emit_info present (to_key)
    assert(recs.filter(col("key") === "nft.example.near").count() > 0)
  }

  test("orderedKafkaRecords delivers each contract single-task and height-ascending") {
    // events.rs:147-196 send_events iterates each contract group
    // sequentially in block order (metadata via FuturesOrdered,
    // events.rs:225-230). The Spark delivery obligation: ONE task per
    // contract, records consecutive and (block_height, …)-ascending
    // in producer-send (= partition-iteration) order.
    val blocks = spark.read.format("graft.sources.BlockSource")
      .option("startHeight", 9000).option("numBlocks", 40)
      .option("logsPerBlock", 9).option("numPartitions", 4).load()
    val events = EventStreams.validated(EventStreams.extractEvents(blocks))
    val recs = EventStreams.orderedKafkaRecords(events, "nes", "nes.all")
    val seen = recs.select(col("key"),
        get_json_object(col("value"), "$.emit_info.block_height").cast("long").as("h"))
      .rdd.mapPartitionsWithIndex { case (pid, it) =>
        it.zipWithIndex.map { case (r, i) => (pid, i, r.getString(0), r.getLong(1)) }
      }.collect()
    assert(seen.nonEmpty)
    val byKey = seen.groupBy(_._3)
    assert(byKey.keySet.size > 1, "multi-contract feed")
    byKey.foreach { case (k, rows) =>
      assert(rows.map(_._1).distinct.length === 1,
        s"contract $k spans ${rows.map(_._1).distinct.length} producers")
      val hs = rows.sortBy(_._2).map(_._4)
      assert(hs.sameElements(hs.sorted), s"contract $k delivered out of height order")
    }
  }

  test("streamed pipeline preserves per-contract height order across micro-batches") {
    // The cross-batch half of the guarantee: sequential micro-batches
    // over the height-monotonic BlockSource, orderedKafkaRecords
    // applied under foreachBatch (the sanctioned slot — streaming DFs
    // reject sorts), and the concatenated per-contract delivery
    // sequence observed at the sink must be height-ascending
    // end-to-end.
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Int, String, Long)]()
    val q = spark.readStream.format("graft.sources.BlockSource")
      .option("startHeight", 9100).option("numBlocks", 30)
      .option("logsPerBlock", 6).option("numPartitions", 3)
      .option("blocksPerBatch", 10)
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val ev = EventStreams.validated(EventStreams.extractEvents(batch))
        val recs = EventStreams.orderedKafkaRecords(ev, "nes", "nes.all")
        recs.select(col("key"),
            get_json_object(col("value"), "$.emit_info.block_height").cast("long").as("h"))
          .rdd.mapPartitionsWithIndex { case (pid, it) =>
            it.zipWithIndex.map { case (r, i) => (pid, i, r.getString(0), r.getLong(1)) }
          }.collect().foreach { case (pid, i, k, h) => buf.add((batchId, pid, i, k, h)) }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val seen = buf.asScala.toSeq
    assert(seen.map(_._1).distinct.length > 1, "multiple micro-batches ran")
    seen.groupBy(_._4).foreach { case (k, rows) =>
      // delivery order = (batch sequence, then within-partition index)
      val hs = rows.sortBy(r => (r._1, r._3)).map(_._5)
      assert(hs.sameElements(hs.sorted),
        s"contract $k delivered out of height order across batches")
    }
  }
}
