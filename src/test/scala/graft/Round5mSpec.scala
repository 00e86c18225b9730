package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventPipeline, Similarity}
import graft.core.Tables

/** Round-5 thirteenth-wave operators: burst minutes, index coverage. */
class Round5mSpec extends SparkSpec {

  // --- ev37: burst minutes -----------------------------------------

  test("ev37 conserves events and the burst rule replays driver-side") {
    val got = EventPipeline.queries("ev37_burst_minutes")(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.map(_.getAs[Long]("total_events")).sum ===
      Tables.events(spark, sf).count())
    got.foreach { r =>
      assert(r.getAs[Long]("n_burst_minutes") <= r.getAs[Long]("n_active_minutes"))
      assert(r.getAs[Long]("peak_minute_n") >= 1L)
    }
    // replay one type's burst count from the raw minute census
    val t0 = got(0).getAs[String]("event_type")
    val cells = Tables.events(spark, sf)
      .filter(col("event_type") === t0)
      .select(expr("unix_micros(ts) div 60000000").as("m"))
      .groupBy(col("m")).count().collect().map(_.getAs[Long]("count"))
    val want = cells.count(n => n * cells.length >= EventPipeline.BurstX * cells.sum)
    assert(got(0).getAs[Long]("n_burst_minutes") === want.toLong)
  }

  // --- ss17: index coverage ----------------------------------------

  test("ss17 census recounts via direct anti-joins") {
    val got = Similarity.queries("ss17_index_coverage")(spark, sf).collect()
    assert(got.length === 1)
    val r = got(0)
    val docs = Tables.documents(spark, sf).select(col("doc_id"))
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"))
    assert(r.getAs[Long]("n_docs") === docs.count())
    assert(r.getAs[Long]("n_vecs") === vecs.count())
    val unindexed = docs.join(vecs.withColumnRenamed("vec_id", "doc_id"),
      Seq("doc_id"), "left_anti").count()
    val orphaned = vecs.join(docs.withColumnRenamed("doc_id", "vec_id"),
      Seq("vec_id"), "left_anti").count()
    assert(r.getAs[Long]("n_docs_unindexed") === unindexed)
    assert(r.getAs[Long]("n_vecs_orphaned") === orphaned)
    assert(r.getAs[Long]("n_matched") === docs.count() - unindexed)
    assert(r.getAs[Long]("n_matched") + r.getAs[Long]("n_vecs_orphaned") ===
      r.getAs[Long]("n_vecs"))
    assert(r.getAs[Long]("coverage_fx") ===
      r.getAs[Long]("n_matched") * 1000000L / math.max(r.getAs[Long]("n_docs"), 1L))
  }
}
