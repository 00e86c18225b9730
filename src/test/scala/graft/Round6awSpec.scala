package graft

import graft.operators.CoreAnalytics
import graft.core.Tables

class Round6awSpec extends SparkSpec {

  test("q70 weighted quantiles order and dominate sensibly") {
    val rows = CoreAnalytics.queries("q70_weighted_quantiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("w_p50_cents") <= r.getAs[Long]("w_p90_cents"))
      assert(r.getAs[Long]("total_units") >= r.getAs[Long]("n_lines"),
        "every line ships at least one unit")
    }
    assert(rows.map(_.getAs[Long]("n_lines")).sum ===
      Tables.lineitem(spark, sf).count())
  }
}
