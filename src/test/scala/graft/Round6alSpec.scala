package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextAnalysis}
import graft.core.Tables

class Round6alSpec extends SparkSpec {

  test("ss29 drift cosines are valid and early counts are about half") {
    val rows = Similarity.queries("ss29_centroid_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cos = r.getAs[Double]("drift_cos")
      assert(cos <= 1.0 && cos >= -1.0)
      val nv = r.getAs[Long]("n_vecs"); val ne = r.getAs[Long]("n_early")
      assert(ne > 0L && ne < nv)
    }
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ===
      Tables.embeddings(spark, sf).count())
    // half-vs-full centroids share half their mass: rotation is small
    assert(rows.forall(_.getAs[Double]("drift_cos") > 0.5))
  }

  test("tx33 joint matrix conserves docs and its marginals are quartile-flat") {
    val rows = TextAnalysis.queries("tx33_len_quality_joint")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 16)
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    assert(n === Tables.documents(spark, sf).count())
    // each length-quartile marginal holds ~n/4 docs (exact NTILE)
    val byLen = rows.groupBy(_.getAs[Int]("len_q"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(byLen.values.max - byLen.values.min <= 1L)
    val byQual = rows.groupBy(_.getAs[Int]("qual_q"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(byQual.values.max - byQual.values.min <= 1L)
  }
}
