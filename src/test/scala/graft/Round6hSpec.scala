package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOf, EventPipeline, Packing}
import graft.core.Tables

class Round6hSpec extends SparkSpec {

  test("ev45 streaming census equals the batch as-of join folded the same way") {
    val got = EventPipeline.queries("ev45_stream_asof_census")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_purchases"), r.getAs[Long]("n_enriched"),
          r.getAs[Long]("sum_value_micro"))).toMap
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("value"))
    val want = AsOf
      .joinAsOfNative(purchases, clicks, "user_id", "ts", "c_ts", Seq("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("p"),
        sum(when(col("asof_value").isNotNull, 1L).otherwise(0L)).as("e"),
        coalesce(sum(when(col("asof_value").isNotNull,
          floor(col("asof_value") * 1000000).cast("long")).otherwise(0L)), lit(0L)).as("sv"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("p"), r.getAs[Long]("e"), r.getAs[Long]("sv"))).toMap
    assert(got === want)
  }

  test("pk14 fertility is >= 1 and token masses recount") {
    val got = Packing.queries("pk14_tokenizer_fertility")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      // subword tokenization can only split whitespace words further
      assert(r.getAs[Long]("fertility_fx") >= 1000000L,
        s"${r.getAs[String]("lang")} fertility < 1")
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("ws_tokens"))
    }
    assert(got.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
  }
}
