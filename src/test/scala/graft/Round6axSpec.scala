package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Multimodal}
import graft.core.Tables

class Round6axSpec extends SparkSpec {

  test("q71 MAD replays against a driver-side exact computation") {
    val rows = CoreAnalytics.queries("q71_mad_robust")(spark, sf).collect()
    assert(rows.nonEmpty)
    val vals = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("p"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT) div " +
          "greatest(CAST(floor(l_quantity) AS BIGINT), 1)").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def medLow(xs: Seq[Long]): Long = {
      val s = xs.sorted; s(math.max(0, (s.length + 1) / 2 - 1))
    }
    rows.foreach { r =>
      val p = r.getAs[String]("priority")
      val xs = vals.filter(_._1 == p).map(_._2).toSeq
      val m = medLow(xs)
      assert(r.getAs[Long]("median_cents") === m, s"median for $p")
      assert(r.getAs[Long]("mad_cents") === medLow(xs.map(x => math.abs(x - m))),
        s"mad for $p")
    }
  }

  test("mm13 byte masses partition and agree with mm12's item decisions") {
    val rows = Multimodal.queries("mm13_cascade_bytes")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("bytes_in") ===
        r.getAs[Long]("bytes_exact_dropped") + r.getAs[Long]("bytes_near_dropped") +
          r.getAs[Long]("bytes_kept"))
      assert(r.getAs[Long]("keep_fx") <= 1000000L)
    }
    // sources with zero removals in mm12 must drop zero bytes here
    val items = Multimodal.queries("mm12_dedup_cascade")(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_exact_removed"), r.getAs[Long]("n_near_removed"))).toMap
    rows.foreach { r =>
      val (ne, nn) = items(r.getAs[String]("source"))
      if (ne === 0L) assert(r.getAs[Long]("bytes_exact_dropped") === 0L)
      if (nn === 0L) assert(r.getAs[Long]("bytes_near_dropped") === 0L)
    }
  }
}
