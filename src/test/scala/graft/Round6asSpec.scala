package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventPipeline}
import graft.core.Tables

class Round6asSpec extends SparkSpec {

  test("ev65 cohorts conserve signups and percentiles order correctly") {
    val rows = EventPipeline.queries("ev65_conversion_latency")(spark, sf).collect()
    assert(rows.nonEmpty)
    val signupUsers = Tables.events(spark, sf)
      .filter(col("event_type") === "signup")
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_signups")).sum === signupUsers)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_converted") <= r.getAs[Long]("n_signups"))
      if (r.getAs[Long]("n_converted") > 0L) {
        assert(r.getAs[Long]("p50_h") <= r.getAs[Long]("p90_h"))
        assert(r.getAs[Long]("p50_h") >= 0L)
      }
    }
  }

  test("dd35 sketch estimates stay within the k=16 quantization of exact") {
    val rows = Dedup.queries("dd35_source_sketch")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("est_fx") <= 1000000L)
      assert(r.getAs[Long]("exact_fx") <= 1000000L)
      assert(r.getAs[Long]("err_fx") ===
        math.abs(r.getAs[Long]("est_fx") - r.getAs[Long]("exact_fx")))
      // with k=16 the estimator's sigma at J=0.5 is ~0.125; allow 4 sigma
      assert(r.getAs[Long]("err_fx") <= 500000L)
    }
    // all source pairs appear
    val nSources = Tables.documents(spark, sf)
      .select(col("source")).distinct().count()
    assert(rows.length === (nSources * (nSources - 1) / 2).toInt)
  }
}
