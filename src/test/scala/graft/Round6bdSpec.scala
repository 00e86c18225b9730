package graft

import graft.operators.Dedup

class Round6bdSpec extends SparkSpec {

  test("dd37 sigma is the closed form and coverage is sane") {
    val rows = Dedup.queries("dd37_estimator_ci")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_covered") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("coverage_fx") <= 1000000L)
      // sigma for k of 16 components peaks at k=8:
      // sqrt(64/3840) ~ 0.129 -> mean sigma below 130000
      assert(r.getAs[Long]("mean_sigma_fx") <= 130000L)
    }
    // closed-form spot check: k=8 -> sigma = sqrt(8*8/3840)
    val expect = math.floor(math.sqrt(64.0 / 3840.0) * 1000000L).toLong
    assert(expect === 129099L)
  }
}
