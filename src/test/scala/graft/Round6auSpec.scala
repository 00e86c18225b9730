package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Dedup}
import graft.core.Tables

class Round6auSpec extends SparkSpec {

  test("dd36 wedge accounting is consistent") {
    val rows = Dedup.queries("dd36_transitivity")(spark, sf).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("n_closed") <= r.getAs[Long]("n_wedges"))
    assert(r.getAs[Long]("closure_fx") <= 1000000L)
    // every closed wedge needs 3 distinct edges; wedges need 2
    if (r.getAs[Long]("n_wedges") > 0L) assert(r.getAs[Long]("n_edges") >= 2L)
  }

  test("q69 cusum telescopes to zero at the end and flags the true peak") {
    val rows = CoreAnalytics.queries("q69_cusum_changepoint")(spark, sf).collect()
    assert(rows.nonEmpty)
    // cusum_n = n*total - n*total = 0 at the last day
    assert(rows.last.getAs[Long]("cusum") === 0L)
    val peak = rows.map(r => math.abs(r.getAs[Long]("cusum"))).max
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_changepoint") ===
        (math.abs(r.getAs[Long]("cusum")) === peak))
    }
    assert(rows.count(_.getAs[Boolean]("is_changepoint")) >= 1)
    assert(rows.map(_.getAs[Long]("x")).sum ===
      Tables.orders(spark, sf).count())
  }
}
