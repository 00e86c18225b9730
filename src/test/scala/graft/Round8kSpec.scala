package graft

import org.apache.spark.sql.Row

class Round8kSpec extends SparkSpec {

  test("tx38 surprisal: octave algebra and band partition hold") {
    val rows: Array[Row] = SparkEntry.queries("tx38_surprisal_filter")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_bigrams")
      val sum = r.getAs[Long]("sum_oct")
      val mean = r.getAs[Long]("mean_oct_fx")
      assert(n >= 1L)
      // every per-pair octave is ≥ 0 (c2 ≤ c1 by construction) and
      // ≤ 62 (counts are positive longs)
      assert(sum >= 0L && sum <= 62L * n)
      assert(mean === sum * 10000L / n)
      val band = r.getAs[String]("band")
      if (mean < 20000L) assert(band === "predictable")
      else if (mean < 50000L) assert(band === "typical")
      else assert(band === "surprising")
    }
  }

  test("tx38: a doc of one repeated bigram is maximally predictable") {
    // c2 = c1 for a word always followed by the same successor →
    // oct = 0 for every pair in such a doc. Build the check from the
    // corpus itself: floor-log2 is monotone, so oct ≥ 0 everywhere
    // and docs dominated by unique bigrams (c2 = 1) score highest.
    val df = SparkEntry.queries("tx38_surprisal_filter")(spark, sf)
    val mx = df.agg(org.apache.spark.sql.functions.max("mean_oct_fx"))
      .head.getLong(0)
    assert(mx >= 0L)
  }

  test("q76 sketch set algebra: bounds and exact-branch consistency") {
    val r = SparkEntry.queries("q76_kmv_setops")(spark, sf).head()
    val nA = r.getAs[Long]("n_true_a"); val nB = r.getAs[Long]("n_true_b")
    val nU = r.getAs[Long]("n_true_union"); val nI = r.getAs[Long]("n_true_inter")
    // ground-truth set identities
    assert(nU <= nA + nB)
    assert(nI === nA + nB - nU)
    assert(nU >= math.max(nA, nB))
    // exact branch: a cohort with < k distinct hashes reports truth
    val k = graft.operators.CoreAnalytics.KmvK
    if (nA < k) assert(r.getAs[Long]("est_a") === nA)
    if (nB < k) assert(r.getAs[Long]("est_b") === nB)
    if (nU < k) assert(r.getAs[Long]("est_union") === nU)
    if (nA < k && nB < k) {
      // both sketches exact → theta open → intersection is exact too
      assert(r.getAs[Long]("est_inter_theta") === nI)
      assert(r.getAs[Long]("est_inter_ie") === nI)
    }
    assert(r.getAs[Long]("est_inter_theta") >= 0L)
  }

  test("ss36 radius census: monotone in tau and degree-consistent") {
    val rows = SparkEntry.queries("ss36_radius_census")(spark, sf).collect()
    // taus with zero qualifying pairs legitimately emit no row
    assert(rows.length <= 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") >= r.getAs[Long]("n_active_queries"))
      assert(r.getAs[Long]("max_degree") >= 1L)
      assert(r.getAs[Long]("n_pairs") >= r.getAs[Long]("max_degree"))
    }
    // tighter radius can only shrink the neighbor set
    val byTau = rows.map(r => r.getAs[Long]("tau") -> r.getAs[Long]("n_pairs"))
      .sortBy(_._1)
    byTau.sliding(2).foreach {
      case Array((_, lo), (_, hi)) => assert(lo >= hi)
      case _ =>
    }
  }
}
