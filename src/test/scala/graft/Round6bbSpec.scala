package graft

import org.apache.spark.sql.functions._
import graft.operators.EventPipeline
import graft.core.Tables

class Round6bbSpec extends SparkSpec {

  test("ev69 bounce census conserves events and bounds shares") {
    val rows = EventPipeline.queries("ev69_bounce_census")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 24)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bounces") <= r.getAs[Long]("n_sessions"))
      assert(r.getAs[Long]("bounce_fx") <= 1000000L)
      assert(r.getAs[Long]("mean_len_fx") >= 1000000L,
        "a session has at least one event")
    }
    // session-count conservation against a driver-side gap replay
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectSessions: Long = evs.groupBy(_._1).values.map { es =>
      val sorted = es.map(_._2).sorted
      1L + sorted.sliding(2).count(w =>
        w.length == 2 && w(1) - w(0) > 1800L * 1000000L)
    }.sum
    assert(rows.map(_.getAs[Long]("n_sessions")).sum === expectSessions)
  }
}
