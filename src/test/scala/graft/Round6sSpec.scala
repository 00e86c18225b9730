package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventPipeline, Packing}
import graft.core.Tables

class Round6sSpec extends SparkSpec {

  test("ev52 replay recovers every corrupted event and conserves the total") {
    val r = EventPipeline.queries("ev52_dlq_replay")(spark, sf).head()
    val total = Tables.events(spark, sf).count()
    assert(r.getAs[Long]("n_total") === total)
    assert(r.getAs[Long]("n_first_valid") + r.getAs[Long]("n_replayed") +
      r.getAs[Long]("n_still_dead") === total)
    // the injected corruption is exactly repairable: nothing stays dead
    assert(r.getAs[Long]("n_still_dead") === 0L)
    assert(r.getAs[Long]("n_replayed") ===
      Tables.events(spark, sf).filter(pmod(col("event_id"), lit(7)) === 0).count())
    assert(r.getAs[Long]("recovered_share_fx") === 1000000L)
  }

  test("pk16 loss is monotone decreasing in context length") {
    val rows = Packing.queries("pk16_truncation_loss")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("ctx")).toSeq === Seq(512L, 1024L, 2048L, 4096L))
    val total = rows.head.getAs[Long]("total_tokens")
    rows.foreach { r =>
      assert(r.getAs[Long]("total_tokens") === total)
      assert(r.getAs[Long]("tokens_lost") <= total)
      assert(r.getAs[Long]("docs_truncated") <= r.getAs[Long]("n_docs"))
    }
    val losses = rows.map(_.getAs[Long]("tokens_lost"))
    assert(losses.sliding(2).forall(p => p(0) >= p(1)), losses.toSeq.toString)
  }

  test("dd30 policies keep one doc per group and best-quality dominates on quality") {
    val rows = Dedup.queries("dd30_keeper_policy_sweep")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("policy")).toSeq ===
      Seq("1_first_id", "2_best_quality", "3_longest"))
    val groups = Tables.documents(spark, sf)
      .select(graft.functions.Hashing.hash64(col("text"))).distinct().count()
    rows.foreach(r => assert(r.getAs[Long]("n_kept") === groups))
    // picking the best-quality keeper can never lose to first-id on
    // mean quality (same groups, max-per-group >= any member)
    val byPolicy = rows.map(r =>
      r.getAs[String]("policy") -> r.getAs[Double]("mean_quality")).toMap
    assert(byPolicy("2_best_quality") >= byPolicy("1_first_id") - 1e-9)
  }
}
