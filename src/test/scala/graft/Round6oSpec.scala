package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Dedup, TextAnalysis}
import graft.core.Tables

class Round6oSpec extends SparkSpec {

  test("q50 zone maps cover the space and z-order beats time-sort on the cust slice") {
    val rows = CoreAnalytics.queries("q50_zorder_skipping")(spark, sf).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      assert(r.getAs[Long]("files_touched") <= r.getAs[Long]("files_total"))
      assert(r.getAs[Long]("skip_fx") >= 0L && r.getAs[Long]("skip_fx") < 1000000L
        || r.getAs[Long]("files_touched") === 0L)
    }
    def skip(layout: String, pred: String): Long =
      rows.find(r => r.getAs[String]("layout") === layout &&
        r.getAs[String]("pred") === pred).get.getAs[Long]("skip_fx")
    // the whole point of the layout: a customer-range filter skips
    // strictly more files under z-order than under time-sort (time
    // files only skip it by sampling accident at tiny SF; z-order
    // files carry a 16-bucket custkey slice BY CONSTRUCTION)
    assert(skip("2_zorder", "cust_slice") > skip("1_time_sorted", "cust_slice"))
    assert(skip("2_zorder", "cust_slice") > 500000L)
    // and time-sort is the optimum for a pure date slice — z-order
    // trades some of that away but must still skip a majority
    assert(skip("1_time_sorted", "date_slice") >= skip("2_zorder", "date_slice"))
    assert(skip("2_zorder", "date_slice") > 500000L)
  }

  test("tx28 boilerplate census is conserved and bounded") {
    val rows = TextAnalysis.queries("tx28_boilerplate")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_prefixes") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_suffixes") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("boiler_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("max_clone_group") >= 1L)
    }
  }

  test("dd29 mix shift sums to zero and conserves keepers") {
    val rows = Dedup.queries("dd29_dedup_mix_shift")(spark, sf).collect()
    val preTotal = rows.map(_.getAs[Long]("n_docs")).sum
    assert(preTotal === Tables.documents(spark, sf).count())
    val keepers = rows.map(_.getAs[Long]("n_keepers")).sum
    val wantKeepers = Tables.documents(spark, sf)
      .select(graft.functions.Hashing.hash64(col("text"))).distinct().count()
    assert(keepers === wantKeepers)
    // shares each sum to ~1 (floor-division slack < one unit per source)
    val preShares = rows.map(_.getAs[Long]("pre_share_fx")).sum
    assert(preShares <= 1000000L && preShares > 1000000L - rows.length)
    // shift is a zero-sum reallocation up to the same slack
    val shift = rows.map(_.getAs[Long]("shift_fx")).sum
    assert(math.abs(shift) < rows.length.toLong)
  }
}
