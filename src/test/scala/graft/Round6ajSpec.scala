package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Similarity}
import graft.core.Tables

class Round6ajSpec extends SparkSpec {

  test("ss28 mutual edges are bounded and the census is internally consistent") {
    val rows = Similarity.queries("ss28_mutual_knn")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_mutual") <= r.getAs[Long]("n_edges"))
      assert(r.getAs[Long]("mutual_fx") <= 1000000L)
      // every vector emits at most K out-edges
      assert(r.getAs[Long]("n_edges") <= 5L * r.getAs[Long]("n_vecs"))
    }
    // hub count is identical on every row (a global census column)
    assert(rows.map(_.getAs[Long]("n_hubs")).distinct.length === 1)
  }

  test("q63 range plan covers the key domain with non-overlapping tiles") {
    val rows = CoreAnalytics.queries("q63_range_plan")(spark, sf).collect()
    assert(rows.length === 32)
    assert(rows.map(_.getAs[Long]("n_rows")).sum ===
      Tables.lineitem(spark, sf).count())
    // exact NTILE: tile sizes differ by at most 1
    val sizes = rows.map(_.getAs[Long]("n_rows"))
    assert(sizes.max - sizes.min <= 1L)
    // boundaries are non-decreasing across tiles (ranges may touch at
    // a repeated key but never invert)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hi_cents") <= b.getAs[Long]("lo_cents") ||
        a.getAs[Long]("hi_cents") === b.getAs[Long]("lo_cents"))
      assert(a.getAs[Long]("lo_cents") <= a.getAs[Long]("hi_cents"))
    }
  }
}
