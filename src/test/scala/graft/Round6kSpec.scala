package graft

import graft.operators.EventPipeline

class Round6kSpec extends SparkSpec {

  test("ev46 streamed compaction census equals ev22's batch census") {
    val streamed = EventPipeline.queries("ev46_stream_compact")(spark, sf).collect()
      .map(r => r.getAs[String]("last_event_type") ->
        (r.getAs[Long]("n_users"), r.getAs[Double]("sum_value"))).toMap
    val batch = EventPipeline.queries("ev22_cdc_upsert")(spark, sf).collect()
      .map(r => r.getAs[String]("last_event_type") ->
        (r.getAs[Long]("n_users"), r.getAs[Double]("sum_value"))).toMap
    assert(streamed === batch)
  }

  test("ev47 streamed rate-limit census equals ev27's batch verdict census") {
    val streamed = EventPipeline.queries("ev47_stream_rate_limit")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_throttled"),
          r.getAs[Long]("n_users_throttled"))).toMap
    val batch = EventPipeline.queries("ev27_rate_limit")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_throttled"),
          r.getAs[Long]("n_users_throttled"))).toMap
    assert(streamed === batch)
  }
}
