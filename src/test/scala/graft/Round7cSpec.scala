package graft

import graft.operators.{EventPipeline, Similarity}
import org.apache.spark.sql.functions._

class Round7cSpec extends SparkSpec {

  test("ss34 recall is monotone in shortlist depth and perfect at full depth bound") {
    val rows = Similarity.queries("ss34_two_stage_recall")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("depth")).toSeq ===
      Similarity.Depths.map(_.toLong))
    val recalls = rows.map(_.getAs[Long]("recall_fx"))
    assert(recalls.toSeq === recalls.sorted.toSeq,
      s"deeper shortlist must never lose recall: ${recalls.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_truth") === 10L)
      assert(r.getAs[Long]("n_hit") <= 10L)
      assert(r.getAs[Long]("recall_fx") === r.getAs[Long]("n_hit") * 100000L)
    }
  }

  test("ev75 retained state grows with delay and never exceeds the corpus") {
    val rows = EventPipeline.queries("ev75_join_state_model")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("delay_s")).toSeq === EventPipeline.DelaysS)
    val maxes = rows.map(_.getAs[Long]("max_state_rows"))
    val means = rows.map(_.getAs[Long]("mean_state_fx"))
    assert(maxes.toSeq === maxes.sorted.toSeq)
    assert(means.toSeq === means.sorted.toSeq)
    val total = graft.core.Tables.events(spark, sf).count()
    assert(maxes.forall(m => m >= 0L && m <= total))
    // every arm sees the same dense grid
    assert(rows.map(_.getAs[Long]("n_minutes")).distinct.length === 1)
  }

  test("ev74 lateness quantiles are ordered and bounded per type") {
    val rows = EventPipeline.queries("ev74_lateness_quantiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90, p99, mx) = (r.getAs[Long]("p50_us"), r.getAs[Long]("p90_us"),
        r.getAs[Long]("p99_us"), r.getAs[Long]("max_late_us"))
      assert(0L <= p50 && p50 <= p90 && p90 <= p99 && p99 <= mx,
        s"quantiles out of order: $p50 $p90 $p99 $mx")
    }
    val total = graft.core.Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("event_id").isNotNull).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum === total)
  }
}
