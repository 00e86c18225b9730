package graft

import graft.operators.TextAnalysis
import graft.core.Tables

class Round6anSpec extends SparkSpec {

  test("tx34 mixed counts are bounded and shares valid") {
    val rows = TextAnalysis.queries("tx34_code_switching")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_mixed") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("mixed_fx") <= 1000000L)
      // at most 4 marker languages can be present per doc
      assert(r.getAs[Long]("mean_present_fx") <= 4000000L)
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
  }
}
