package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline}
import graft.functions.Det

class Round6aqSpec extends SparkSpec {

  test("ev63 grid is dense, real points carry their own value, interps are bounded") {
    val rows = EventPipeline.queries("ev63_resample_interpolate")(spark, sf).collect()
    assert(rows.nonEmpty)
    // dense: consecutive hours with no holes
    val hrs = rows.map(_.getAs[Long]("hour"))
    assert(hrs.last - hrs.head + 1L === hrs.length.toLong)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("interpolated") === (r.getAs[Long]("n") === 0L))
      assert(r.getAs[Long]("out_fx") != null)
    }
    // every interpolated value sits within the global observed range
    val observed = rows.filter(_.getAs[Long]("n") > 0L).map(_.getAs[Long]("out_fx"))
    val (lo, hi) = (observed.min, observed.max)
    rows.filter(_.getAs[Boolean]("interpolated")).foreach { r =>
      val v = r.getAs[Long]("out_fx")
      assert(v >= lo - 1L && v <= hi + 1L)
    }
  }

  test("q67 slopes replay against a scala-side closed-form OLS") {
    val rows = CoreAnalytics.queries("q67_trend_slope")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val r2 = r.getAs[Double]("r2_4")
      assert(r2 >= 0.0 && r2 <= 1.0001)
    }
    // replay one priority in scala
    val daily = graft.core.Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("p"),
        expr(Det.truncDiv("unix_micros(cast(o_orderdate as timestamp))", 86400000000L)).as("day"))
      .groupBy(col("p"), col("day")).agg(count(lit(1)).cast("long").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val d0 = daily.map(_._2).min
    val first = rows.head.getAs[String]("priority")
    val pts = daily.filter(_._1 == first).map { case (_, d, y) => (d - d0, y) }
    val n = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val expected = math.floor(slope * 10000) / 10000
    assert(math.abs(rows.head.getAs[Double]("slope4") - expected) < 1e-9)
  }
}
