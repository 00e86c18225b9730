package graft

import graft.operators.CoreAnalytics
import graft.core.Tables

class Round6aeSpec extends SparkSpec {

  test("q59 digit census conserves orders and carries exact Benford constants") {
    val rows = CoreAnalytics.queries("q59_benford_census")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 9)
    assert(rows.map(_.getAs[Long]("n_orders")).sum ===
      Tables.orders(spark, sf).count())
    val benford = rows.map(r =>
      r.getAs[Int]("digit") -> r.getAs[Long]("benford_fx")).toMap
    benford.foreach { case (d, fx) =>
      assert(fx === math.floor(math.log10(1.0 + 1.0 / d) * 1000000L).toLong)
    }
    // Benford expectations themselves sum to ~1.0
    assert(math.abs((1 to 9).map(d =>
      math.floor(math.log10(1.0 + 1.0 / d) * 1000000L).toLong).sum - 1000000L) <= 9L)
    rows.foreach { r =>
      assert(r.getAs[Long]("dev_fx") ===
        math.abs(r.getAs[Long]("obs_fx") - r.getAs[Long]("benford_fx")))
    }
  }
}
