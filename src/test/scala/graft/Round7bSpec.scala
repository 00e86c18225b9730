package graft

import graft.operators.{CoreAnalytics, Dedup, TextAnalysis}

class Round7bSpec extends SparkSpec {

  test("dd38 capture probabilities are monotone in bands and J; cost follows") {
    val rows = Dedup.queries("dd38_band_allocation")(spark, sf).collect()
    assert(rows.length === Dedup.Allocations.length)
    rows.foreach { r =>
      // S-curve is monotone in J for any fixed geometry
      val ps = Seq("p30_fx", "p50_fx", "p70_fx", "p90_fx").map(r.getAs[Long])
      assert(ps === ps.sorted, s"non-monotone S-curve: $ps")
      assert(ps.forall(p => p >= 0L && p <= 1000000L))
    }
    // more, narrower bands (r=1) capture at least as much at every J
    // as fewer, wider bands (r=8) — the OR-construction dominance
    val byR = rows.map(r => r.getAs[Int]("rows_per_band") -> r).toMap
    Seq("p30_fx", "p50_fx", "p70_fx", "p90_fx").foreach { c =>
      assert(byR(1).getAs[Long](c) >= byR(8).getAs[Long](c))
    }
    // and pay for it with at least as many collision pairs
    assert(byR(1).getAs[Long]("collision_pairs") >=
      byR(8).getAs[Long]("collision_pairs"))
    // analytic spot check: (16,1) at J=0.9 captures ~everything
    assert(byR(1).getAs[Long]("p90_fx") > 999000L)
  }

  test("dd38 fixed-point capture matches the closed form") {
    // captureFx is shared by engine and oracle as literals — pin the
    // arithmetic itself against an independent double computation
    for ((b, r) <- Dedup.Allocations; jfx <- Dedup.JGridFx) {
      val j = jfx / 1000000.0
      val expect = 1.0 - math.pow(1.0 - math.pow(j, r), b)
      val got = Dedup.captureFx(jfx, b, r) / 1000000.0
      assert(math.abs(got - expect) < 0.001,
        s"(b=$b,r=$r,J=$j): fx=$got vs closed=$expect")
    }
  }

  test("q74 gains table: 10 deciles, shares sum to ~1, cumulative monotone") {
    val rows = CoreAnalytics.queries("q74_gains_table")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("decile")).toSeq === (0 until 10))
    val shares = rows.map(_.getAs[Long]("share_fx"))
    assert(math.abs(shares.sum - 1000000L) <= 10L) // div truncation slack
    val cum = rows.map(_.getAs[Long]("cum_share_fx"))
    assert(cum.toSeq === cum.sorted.toSeq)
    assert(cum.last === 1000000L)
    // decile 0 holds the biggest spenders
    assert(shares.head === shares.max)
  }

  test("tx35 stopword profile bounds hold per source") {
    val rows = TextAnalysis.queries("tx35_stopword_profile")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_stop_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_stop_distinct") <= TextAnalysis.ProfileStopwords.size.toLong)
      assert(r.getAs[Long]("stop_share_fx") <= 1000000L)
      assert(r.getAs[Long]("coverage_fx") <= 1000000L)
    }
  }
}
