package graft

import graft.operators.Similarity

class Round6bcSpec extends SparkSpec {

  test("ss33 full width scores perfect recall and truncation only loses") {
    val rows = Similarity.queries("ss33_matryoshka_recall")(spark, sf).collect()
    assert(rows.length === 3)
    val byD = rows.map(r => r.getAs[Int]("d") -> r.getAs[Long]("recall_fx")).toMap
    assert(byD(64) === 1000000L, "full width is its own truth")
    assert(byD(16) <= byD(64) && byD(32) <= byD(64))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_queries") * 10L)
    }
  }
}
