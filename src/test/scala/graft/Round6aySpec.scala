package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline}
import graft.core.Tables

class Round6aySpec extends SparkSpec {

  test("ev68 ramp conserves events and day zero covers every user") {
    val rows = EventPipeline.queries("ev68_engagement_ramp")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_events")).sum ===
      Tables.events(spark, sf).count())
    val day0 = rows.find(_.getAs[Long]("age_day") === 0L).get
    assert(day0.getAs[Long]("active_users") ===
      Tables.events(spark, sf).select(col("user_id")).distinct().count(),
      "every user is active on their own day zero")
    rows.foreach(r =>
      assert(r.getAs[Long]("n_events") >= r.getAs[Long]("active_users")))
  }

  test("q72 gap percentiles order and quartiles cover multi-order customers") {
    val rows = CoreAnalytics.queries("q72_repurchase_cycle")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("p50_days") <= r.getAs[Long]("p90_days"))
      assert(r.getAs[Long]("p50_days") >= 0L)
    }
    // total gaps = orders - customers (each customer contributes
    // n_orders - 1 gaps)
    val orders = Tables.orders(spark, sf).count()
    val customers = Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_gaps")).sum === orders - customers)
  }
}
