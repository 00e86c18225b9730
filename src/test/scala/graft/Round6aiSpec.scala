package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline}
import graft.core.Tables

class Round6aiSpec extends SparkSpec {

  test("ev60 catch counts are monotone in the window and conserve replays") {
    val rows = EventPipeline.queries("ev60_dedup_window_sweep")(spark, sf).collect()
    assert(rows.length === 4)
    val caught = rows.map(_.getAs[Long]("n_caught"))
    assert(caught.sameElements(caught.sorted), "longer window catches more")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_caught") + r.getAs[Long]("n_leaked") ===
        r.getAs[Long]("n_replays"))
      assert(r.getAs[Long]("leak_fx") <= 1000000L)
      assert(r.getAs[Long]("state_rows") >= 0L)
    }
    // the 2h window spans the whole delay domain: nothing leaks
    assert(rows.last.getAs[Long]("n_leaked") === 0L)
    // state cost is monotone in the window too
    val state = rows.map(_.getAs[Long]("state_rows"))
    assert(state.sameElements(state.sorted))
  }

  test("q62 credited mass never exceeds conversion mass and splits exactly") {
    val rows = CoreAnalytics.queries("q62_linear_attribution")(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalCents = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(floor(col("value") * 100).cast("long"))).collect().head.getLong(0)
    val credited = rows.map(_.getAs[Long]("credited_cents")).sum
    // integer split loses at most (n_touches - 1) cents per conversion
    assert(credited <= totalCents)
    assert(rows.forall(r => r.getAs[Int]("hour") >= -1 && r.getAs[Int]("hour") < 24))
    // touched hours and the no-touch row partition all conversions' mass
    // within the truncation loss: recompute the loss bound
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(credited >= totalCents - 200L * purchases,
      "per-conversion truncation loss is bounded by touches < 200")
  }
}
