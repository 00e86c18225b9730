package graft

import graft.operators.{CoreAnalytics, EventPipeline}

class Round6beSpec extends SparkSpec {

  test("q73 KS statistic is a valid distance and the critical line is exact") {
    val rows = CoreAnalytics.queries("q73_ks_test")(spark, sf).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("ks_fx") >= 0L && r.getAs[Long]("ks_fx") <= 1000000L)
    val n1 = r.getAs[Long]("n1"); val n2 = r.getAs[Long]("n2")
    assert(n1 > 0L && n2 > 0L)
    val crit = math.floor(1.358 * math.sqrt((n1 + n2).toDouble /
      (n1 * n2).toDouble) * 1000000L).toLong
    assert(r.getAs[Long]("crit_fx") === crit)
    assert(r.getAs[Boolean]("reject_95") ===
      (r.getAs[Long]("ks_fx") > crit))
  }

  test("ev70 longer debounce merges episodes and conserves alert hours") {
    val rows = EventPipeline.queries("ev70_alert_debounce")(spark, sf).collect()
    assert(rows.length === 3)
    val eps = rows.map(_.getAs[Long]("n_episodes"))
    assert(eps.reverse.sameElements(eps.reverse.sorted),
      "longer debounce cannot create more episodes")
    // raw alert-hour mass is debounce-invariant
    assert(rows.map(_.getAs[Long]("alert_hours")).distinct.length === 1)
    rows.foreach { r =>
      assert(r.getAs[Long]("longest_span_h") >= 1L ||
        r.getAs[Long]("alert_hours") === 0L)
    }
  }
}
