package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, NesConfig, StreamJobs}

class StreamJobsSpec extends SparkSpec {
  import spark.implicits._

  test("runConfigured streams logs → validated kafka-shaped topic partitions") {
    val base = Files.createTempDirectory("graft-stream").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val lines = Seq(
      """{"log":"EVENT_JSON:{\"standard\":\"nep171\",\"version\":\"1.0.0\",\"event\":\"nft_mint\",\"data\":[{\"owner_id\":\"a.near\",\"token_ids\":[\"1\"]}]}","receipt_id":"r1","block_timestamp":1,"block_height":10,"shard_id":0,"contract_account_id":"nft.near"}""",
      """{"log":"EVENT_JSON:{\"standard\":\"ft\",\"version\":\"1.0.0\",\"event\":\"swap\",\"data\":{}}","receipt_id":"r2","block_timestamp":2,"block_height":11,"shard_id":0,"contract_account_id":"dex.near"}""",
      """{"log":"not an event","receipt_id":"r3","block_timestamp":3,"block_height":12,"shard_id":0,"contract_account_id":"x.near"}""")
    Files.write(java.nio.file.Paths.get(s"$src/part0.json"),
      lines.mkString("\n").getBytes)

    val q = NesConfig.runConfigured(spark, NesConfig(), src, out, ckpt)
    q.awaitTermination(60000)

    val res = spark.read.parquet(out)
    assert(res.count() === 4) // 2 events × (own topic + all topic)
    assert(res.filter(col("topic") === "near.events.all").count() === 2)
    assert(res.filter(col("topic") === "near.events.nep171.nft_mint").count() === 1)
    assert(res.filter(col("key") === "dex.near").count() === 2)

    // a crash after the sink wrote batch 0 and before the checkpoint
    // committed it: the restart replays batch 0, and the sink must not
    // deliver its records twice
    Files.delete(java.nio.file.Paths.get(s"$ckpt/commits/0"))
    Files.deleteIfExists(java.nio.file.Paths.get(s"$ckpt/commits/.0.crc"))
    NesConfig.runConfigured(spark, NesConfig(), src, out, ckpt).awaitTermination(60000)
    assert(spark.read.parquet(out).count() === 4)
  }

  test("windowedStats computes blocks-per-interval rates (stats.rs analog)") {
    val ev = Seq(
      ("2024-01-01 00:00:01", 1), ("2024-01-01 00:00:05", 2),
      ("2024-01-01 00:00:13", 3))
      .toDF("ts_s", "h").select(col("ts_s").cast("timestamp").as("ts"), col("h"))
    val stats = StreamJobs.windowedStats(ev, "ts", 10)
      .orderBy("window_start").collect()
    assert(stats.length === 2)
    assert(stats(0).getAs[Long]("blocks_processed") === 2)
    assert(stats(0).getAs[Double]("blocks_per_sec") === 0.2)
  }

  test("sessionize closes sessions on gap (flatMapGroupsWithState)") {
    val ev = Seq(
      StreamJobs.SessionEvent(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      StreamJobs.SessionEvent(1, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      StreamJobs.SessionEvent(1, java.sql.Timestamp.valueOf("2024-01-01 02:00:00")),
      StreamJobs.SessionEvent(2, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDS()
    val out = StreamJobs.sessionize(ev).collect()
    // user 1's first session (2 events, 600s) closes when the 02:00 event arrives
    assert(out.length === 1)
    assert(out.head === StreamJobs.SessionOut(1, 2, 600))
  }

  test("sync modes map to source positioning like the reference CLI") {
    import StreamJobs.SyncMode
    assert(SyncMode.sourceOptions(SyncMode.FromInterruption) === Map.empty)
    assert(SyncMode.sourceOptions(SyncMode.FromLatest) ===
      Map("startingOffsets" -> "latest"))
    val offs = """{"near.events.all":{"0":1234}}"""
    assert(SyncMode.sourceOptions(SyncMode.FromOffsets(offs)) ===
      Map("startingOffsets" -> offs))
  }

  test("kafka wiring builds cluster-shaped options without a broker") {
    val opts = StreamJobs.Kafka.clientOptions(Map(
      "bootstrap.servers" -> "b:9092", "security.protocol" -> "SASL_SSL"))
    assert(opts === Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "kafka.security.protocol" -> "SASL_SSL"))
  }

  test("kafka sink is startable up to the connector lookup") {
    // This container has no spark-sql-kafka jar, so the FURTHEST a
    // correct wiring can get is the data-source lookup at start().
    // Asserting it fails exactly there (and not on schema, options or
    // checkpoint validation, which run first) is the strongest
    // in-container proof the writer would start on a cluster with the
    // connector present. The row shape is additionally pinned to the
    // connector's contract: string key/value/topic.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(String, String, Long, Long, Long, String)]
    in.addData(("EVENT_JSON:{\"standard\":\"nep171\",\"version\":\"1.0.0\"," +
      "\"event\":\"nft_mint\",\"data\":[{}]}", "r1", 1L, 10L, 0L, "nft.near"))
    val logs = in.toDF().toDF("log", "receipt_id", "block_timestamp",
      "block_height", "shard_id", "contract_account_id")
    val records = EventStreams.toKafkaRecords(
      EventStreams.validated(EventStreams.extractEvents(logs)),
      "near.events", "near.events.all")
    val writer = StreamJobs.Kafka.sink(
      records, "b:9092", Files.createTempDirectory("graft-kck").toString)
    val shaped = records.selectExpr(
      "CAST(key AS STRING)", "CAST(value AS STRING)", "topic")
    assert(shaped.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq ===
      Seq("key" -> "string", "value" -> "string", "topic" -> "string"))
    val e = intercept[Exception] { writer.start() }
    val msg = (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .toLowerCase
    assert(msg.contains("kafka"), s"failed before connector lookup: $msg")
    assert(msg.contains("failed to find") || msg.contains("data_source_not_found")
      || msg.contains("not found"), s"unexpected failure class: $msg")
  }
}
