package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Dedup, TextAnalysis}
import graft.core.Tables
import graft.functions.Hashing

class Round6apSpec extends SparkSpec {

  test("dd34 octave census conserves dup groups and removable mass") {
    val rows = Dedup.queries("dd34_dup_provenance")(spark, sf).collect()
    // group-level truth recomputed directly
    val groups = Tables.documents(spark, sf)
      .select(Hashing.hash64(concat_ws(" ",
        slice(graft.operators.TextAnalysis.tokens(col("text")), 1, 8))).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val nGroups = groups.count()
    assert(nGroups > 0L, "the prefix fingerprint must collide on this corpus")
    assert(rows.map(_.getAs[Long]("n_groups")).sum === nGroups)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_removable") ===
        r.getAs[Long]("n_copies") - r.getAs[Long]("n_groups"))
      assert(r.getAs[Long]("octave") >= 0L)
    }
  }

  test("q66 autocorrelations are valid correlations and lag-7 shows structure") {
    val rows = CoreAnalytics.queries("q66_daily_autocorr")(spark, sf).collect()
    assert(rows.length === 14)
    rows.foreach { r =>
      val ac = r.getAs[Double]("autocorr4")
      assert(ac >= -1.0001 && ac <= 1.0001)
      assert(r.getAs[Long]("n_pairs") > 0L)
    }
    // each lagged pairing is bounded by the day count (day gaps mean
    // counts need not be monotone in the lag)
    val nDays = Tables.orders(spark, sf)
      .select(to_date(col("o_orderdate"))).distinct().count()
    assert(rows.forall(_.getAs[Long]("n_pairs") <= nDays - 1))
  }
}
