package graft

import graft.operators.Similarity

class Round6jSpec extends SparkSpec {

  test("ss23 filtered recall is monotone in nprobe and bounded by the unfiltered candidates") {
    val got = Similarity.queries("ss23_filtered_ann")(spark, sf).collect()
    assert(got.map(_.getAs[Long]("nprobe")).toSeq === Seq(1L, 2L, 4L))
    val rec = got.map(_.getAs[Double]("recall_at_10"))
    assert(rec.sliding(2).forall(p => p(0) <= p(1)), rec.toSeq.toString)
    got.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_truth"))
      assert(r.getAs[Long]("n_truth") <= 10L)
    }
    // filtered candidates are a subset of ss11's unfiltered ones at
    // every nprobe
    val unfiltered = Similarity.queries("ss11_ivf_nprobe_eval")(spark, sf).collect()
      .map(r => r.getAs[Long]("nprobe") -> r.getAs[Long]("n_cand")).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("n_cand") <= unfiltered(r.getAs[Long]("nprobe")))
    }
  }
}
