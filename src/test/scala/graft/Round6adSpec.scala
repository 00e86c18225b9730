package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline}
import graft.core.Tables

class Round6adSpec extends SparkSpec {

  test("ev58 decile census conserves both halves and bounds the TVD") {
    val rows = EventPipeline.queries("ev58_value_drift_tvd")(spark, sf).collect()
    assert(rows.length === 10)
    val n = Tables.events(spark, sf).count()
    assert(rows.map(r => r.getAs[Long]("n_h1") + r.getAs[Long]("n_h2")).sum === n)
    // exact NTILE: decile sizes differ by at most 1
    val sizes = rows.map(r => r.getAs[Long]("n_h1") + r.getAs[Long]("n_h2"))
    assert(sizes.max - sizes.min <= 1L)
    rows.foreach { r =>
      assert(r.getAs[Long]("abs_diff_fx") ===
        math.abs(r.getAs[Long]("p_fx") - r.getAs[Long]("q_fx")))
    }
    // 2*TVD in [0, 2] fixed point
    val tvd2 = rows.map(_.getAs[Long]("abs_diff_fx")).sum
    assert(tvd2 >= 0L && tvd2 <= 2000000L)
  }

  test("q58 reconciliation partitions orders and drift is tolerance-consistent") {
    val rows = CoreAnalytics.queries("q58_order_reconciliation")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_matched") + r.getAs[Long]("n_mismatched") ===
        r.getAs[Long]("n_orders"))
      assert(r.getAs[Long]("match_fx") <= 1000000L)
      // a fully-matched status can drift at most tolerance per order
      if (r.getAs[Long]("n_mismatched") === 0L)
        assert(r.getAs[Long]("total_drift_cents") <= 100L * r.getAs[Long]("n_orders"))
    }
    assert(rows.map(_.getAs[Long]("n_orders")).sum ===
      Tables.orders(spark, sf).count())
  }
}
