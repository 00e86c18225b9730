package graft

import graft.operators.Similarity
import graft.core.Tables

class Round6azSpec extends SparkSpec {

  test("ss32 per-subspace accounting is exact") {
    val rows = Similarity.queries("ss32_pq_utilization")(spark, sf).collect()
    assert(rows.length === 4, "one row per PQ subspace")
    val nVecs = Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") === nVecs,
        "every vector assigns one code per subspace")
      assert(r.getAs[Long]("codes_used") <= 16L)
      assert(r.getAs[Long]("singleton_codes") <= r.getAs[Long]("codes_used"))
      assert(r.getAs[Long]("top_code_n") * r.getAs[Long]("codes_used") >= nVecs,
        "the max code count dominates the mean")
      assert(r.getAs[Long]("top_share_fx") <= 1000000L)
    }
  }
}
