package graft

import graft.operators.{Dedup, EventPipeline}
import graft.sources.LakeIngest
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

class Round7Spec extends SparkSpec {

  import spark.implicits._

  /** A real-shaped lake document: the fields the reference reads PLUS
    * the extra fields a genuine near-lake block document carries
    * (chunks, gas price, state changes) — the parser must ignore
    * them, like serde's ignored fields.
    */
  private val lakeDoc =
    """{"block":{"author":"astro.near","header":{"height":97000001,
      |"hash":"9fJ","prev_hash":"8hK","timestamp":1690000000123456789,
      |"timestamp_nanosec":"1690000000123456789","gas_price":"100000000",
      |"challenges_result":[]},"chunks":[{"chunk_hash":"c1"}]},
      |"shards":[
      | {"shard_id":0,"chunk":{"transactions":[]},
      |  "receipt_execution_outcomes":[
      |   {"receipt":{"predecessor_id":"alice.near","receipt_id":"rA",
      |     "receiver_id":"nft.example.near","receipt":{"Action":{}}},
      |    "execution_outcome":{"id":"rA","outcome":{
      |      "executor_id":"nft.example.near","gas_burnt":2427979134,
      |      "status":{"SuccessValue":""},
      |      "logs":["prepaid gas burned",
      |        "EVENT_JSON:{\"standard\":\"nep171\",\"version\":\"1.0.0\",\"event\":\"nft_mint\",\"data\":[{\"owner_id\":\"alice.near\",\"token_ids\":[\"t1\",\"t2\"]}]}"]}}},
      |   {"receipt":{"predecessor_id":"bob.near","receipt_id":"rB",
      |     "receiver_id":"ft.example.near"},
      |    "execution_outcome":{"id":"rB","outcome":{
      |      "executor_id":"ft.example.near","gas_burnt":1,
      |      "logs":["EVENT_JSON:{\"standard\":\"nep141\",\"version\":\"1.0.0\",\"event\":\"ft_transfer\",\"data\":[{\"amount\":\"7\"}]}",
      |        "not an event"]}}}]},
      | {"shard_id":3,"state_changes":[],
      |  "receipt_execution_outcomes":[]}]}""".stripMargin.replaceAll("\n", "")

  test("LakeIngest parses the real StreamerMessage shape, ignoring extra fields") {
    val logs = LakeIngest.outcomeLogs(Seq(lakeDoc).toDF("value"), col("value"))
      .collect().sortBy(r => (r.getAs[String]("receipt_id"), r.getAs[String]("log")))
    assert(logs.length === 4)
    assert(logs.forall(_.getAs[Long]("block_height") === 97000001L))
    assert(logs.forall(_.getAs[Long]("block_timestamp") === 1690000000123456789L))
    assert(logs.forall(_.getAs[Long]("shard_id") === 0L))
    val byReceipt = logs.groupBy(_.getAs[String]("receipt_id"))
    assert(byReceipt("rA").map(_.getAs[String]("contract_account_id")).distinct
      === Array("nft.example.near"))
    assert(byReceipt("rB").map(_.getAs[String]("contract_account_id")).distinct
      === Array("ft.example.near"))
  }

  test("lake logs flow through extractEvents/validated unchanged") {
    val events = EventStreams.validated(EventStreams.extractEvents(
      LakeIngest.outcomeLogs(Seq(lakeDoc).toDF("value"), col("value"))))
      .collect().sortBy(_.getAs[String]("standard"))
    assert(events.length === 2)
    assert(events.map(_.getAs[String]("standard")).toSeq === Seq("nep141", "nep171"))
    val mint = events(1)
    assert(mint.getAs[String]("event") === "nft_mint")
    val emit = mint.getAs[org.apache.spark.sql.Row]("emit_info")
    assert(emit.getAs[String]("receipt_id") === "rA")
    assert(emit.getAs[String]("contract_account_id") === "nft.example.near")
    assert(emit.getAs[Long]("block_height") === 97000001L)
  }

  test("malformed and shard-empty documents yield no rows, not errors") {
    val docs = Seq("{not json", """{"block":{},"shards":[]}""", lakeDoc).toDF("value")
    val n = LakeIngest.outcomeLogs(docs, col("value")).count()
    assert(n === 4L) // only the well-formed doc contributes
  }

  test("ev72 census equals the direct events-table prediction") {
    val out = EventPipeline.queries("ev72_lake_ingest")(spark, sf).collect()
    assert(out.nonEmpty)
    val direct = graft.core.Tables.events(spark, sf)
      .filter(col("event_type") =!= "error")
      .count()
    assert(out.map(_.getAs[Long]("n_events")).sum === direct)
    // validation must have dropped the invalid-name 'error' rows
    assert(!out.exists(_.getAs[String]("event") == "error"))
    assert(!out.exists(_.getAs[String]("event") == "bad event!"))
  }

  test("ev73 streaming ingest census equals ev72's batch census") {
    val batch = EventPipeline.queries("ev72_lake_ingest")(spark, sf).collect()
    val stream = EventPipeline.queries("ev73_lake_stream_ingest")(spark, sf).collect()
    assert(stream.nonEmpty)
    assert(stream.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("dd02 hot-bucket cap bounds the candidate join on an adversarial corpus") {
    // 300 docs sharing one globally-minimal shingle ("aa bb cc" in
    // every doc) would produce 300·299/2 ≈ 45k pairs uncapped; the
    // cap must drop that bucket entirely while keeping honest buckets.
    val adversarial = (0 until 300).map(i => (i.toLong, s"aa bb cc unique$i tail$i"))
      .toDF("doc_id", "text")
    val ds = Dedup.docShinglesOf(adversarial)
      .withColumn("bucket", array_min(col("shs")))
    val kept = Dedup.minBucketKept(ds)
    val occ = ds.groupBy("bucket").count()
    val hot = occ.filter(col("count") > Dedup.MinBucketCap).count()
    assert(hot >= 1L, "fixture must actually create a hot bucket")
    val keptMax = occ.join(kept, Seq("bucket")).agg(max("count")).head.getLong(0)
    assert(keptMax <= Dedup.MinBucketCap)
  }
}
