package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventPipeline, Packing}
import graft.core.Tables

class Round6akSpec extends SparkSpec {

  test("pk18 locality shares are valid and the hash shuffle reads random") {
    val rows = Packing.queries("pk18_shuffle_locality")(spark, sf).collect()
    assert(rows.length === 2, "one row per epoch")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_same") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("obs_fx") <= 1000000L)
      assert(r.getAs[Long]("exp_fx") <= 1000000L)
      // a hash shuffle should sit near the random expectation: within
      // 5x either way even on the tiny spec corpus
      assert(r.getAs[Long]("obs_fx") <= 5L * r.getAs[Long]("exp_fx") + 100000L)
    }
    // both epochs share one expectation (it depends only on sources)
    assert(rows.map(_.getAs[Long]("exp_fx")).distinct.length === 1)
  }

  test("ev61 burn rates average to ~1 and alerts are threshold-exact") {
    val rows = EventPipeline.queries("ev61_slo_burn_rate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("slow_alert") === (r.getAs[Long]("burn_fx") >= 2000000L))
      assert(r.getAs[Boolean]("fast_alert") === (r.getAs[Long]("burn_fx") >= 6000000L))
      assert(r.getAs[Long]("n_errors") <= r.getAs[Long]("n_events"))
    }
    assert(rows.map(_.getAs[Long]("n_events")).sum ===
      Tables.events(spark, sf).count())
    // the event-weighted mean burn is ~1.0 by construction
    val totalEvents = rows.map(_.getAs[Long]("n_events")).sum
    val weighted = rows.map(r =>
      r.getAs[Long]("burn_fx") * r.getAs[Long]("n_events")).sum / totalEvents
    assert(weighted > 500000L && weighted < 2000000L)
  }
}
