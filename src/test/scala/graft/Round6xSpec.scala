package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline}
import graft.core.Tables

class Round6xSpec extends SparkSpec {

  test("ev55 delta fold equals the declarative compaction census") {
    val got = EventPipeline.queries("ev55_retraction_view")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6)))
    val want = EventPipeline.queries("ev22_cdc_upsert")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6)))
    assert(got.toSeq === want.toSeq)
  }

  test("q54 transition matrix conserves customers and decile sizes") {
    val rows = CoreAnalytics.queries("q54_decile_transition")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_customers")).sum
    val want = Tables.orders(spark, sf)
      .filter(col("o_orderdate") <= lit("1997-12-31").cast("timestamp"))
      .select(col("o_custkey")).distinct().count()
    assert(total === want)
    rows.foreach { r =>
      assert(r.getAs[Int]("decile_from") >= 0 && r.getAs[Int]("decile_from") <= 10)
      assert(r.getAs[Int]("decile_to") >= 1 && r.getAs[Int]("decile_to") <= 10)
    }
    // column sums reproduce exact ANSI ntile bucket sizes at t2
    val byTo = rows.groupBy(_.getAs[Int]("decile_to"))
      .view.mapValues(_.map(_.getAs[Long]("n_customers")).sum).toMap
    val n = want
    (1 to 10).foreach { b =>
      val expect = n / 10 + (if (b <= (n % 10)) 1L else 0L)
      assert(byTo.getOrElse(b, 0L) === expect, s"decile $b size")
    }
  }
}
