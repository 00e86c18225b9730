package graft

import graft.operators.{CoreAnalytics, Similarity}

class Round6aoSpec extends SparkSpec {

  test("q65 FK edges estimate near-exactly and stats are consistent") {
    val rows = CoreAnalytics.queries("q65_cardinality_error")(spark, sf).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("d_a") <= r.getAs[Long]("n_a"))
      assert(r.getAs[Long]("d_b") <= r.getAs[Long]("n_b"))
      assert(r.getAs[Long]("actual_rows") > 0L)
      // clean FK data: the textbook estimator lands within 2x
      val err = r.getAs[Long]("err_fx")
      assert(err >= 500000L && err <= 2000000L,
        s"${r.getAs[String]("edge")} err_fx=$err")
    }
  }

  test("ss30 marginal efficiencies fall and exactly one knee is flagged") {
    val rows = Similarity.queries("ss30_nprobe_knee")(spark, sf).collect()
    assert(rows.length === 3)
    assert(rows.count(_.getAs[Boolean]("is_knee")) === 1)
    rows.foreach { r =>
      assert(r.getAs[Long]("marg_cand") >= 0L)
      assert(r.getAs[Long]("marg_hits") >= 0L)
    }
    // knee efficiency is the maximum
    val knee = rows.find(_.getAs[Boolean]("is_knee")).get
    assert(rows.forall(_.getAs[Long]("eff_fx") <= knee.getAs[Long]("eff_fx")))
  }
}
