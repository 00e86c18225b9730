package graft

import org.apache.spark.sql.functions._
import graft.operators.CoreAnalytics
import graft.core.Tables

/** Round-5 twentieth wave: cohort LTV. */
class Round5tSpec extends SparkSpec {

  test("q45 conserves revenue and the LTV curve is monotone per cohort") {
    val got = CoreAnalytics.queries("q45_ltv_cohorts")(spark, sf).collect()
    assert(got.nonEmpty)
    // total revenue conserves (cents)
    val want = Tables.orders(spark, sf)
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")))
      .collect()(0).getLong(0)
    assert(got.map(_.getAs[Long]("rev_cents")).sum === want)
    got.groupBy(_.getAs[Int]("cohort_m")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("offset"))
      // offset 0 exists for every cohort (the signup month itself)
      assert(sorted.head.getAs[Int]("offset") === 0)
      // cumulative revenue and LTV never decrease with offset
      val cum = sorted.map(_.getAs[Long]("cum_rev_cents"))
      assert(cum.zip(cum.tail).forall { case (a, b) => a <= b })
      val ltv = sorted.map(_.getAs[Long]("ltv_cents"))
      assert(ltv.zip(ltv.tail).forall { case (a, b) => a <= b })
      // actives never exceed the cohort size
      rows.foreach(r =>
        assert(r.getAs[Long]("n_active") <= r.getAs[Long]("cohort_size")))
      // running sum recounts from the per-offset revenue
      assert(cum.last === sorted.map(_.getAs[Long]("rev_cents")).sum)
    }
    // cohort sizes tile the customer base that ordered at all
    val buyers = Tables.orders(spark, sf).select(col("o_custkey")).distinct().count()
    assert(got.groupBy(_.getAs[Int]("cohort_m"))
      .map(_._2.head.getAs[Long]("cohort_size")).sum === buyers)
  }
}
