package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline}
import graft.core.Tables

class Round6amSpec extends SparkSpec {

  test("q64 every part depletes exactly once and months conserve lines") {
    val rows = CoreAnalytics.queries("q64_depletion_ledger")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_lines")).sum ===
      Tables.lineitem(spark, sf).count())
    // stock0 = half of total demand: every part with demand > 0
    // crosses it exactly once
    val partsWithDemand = Tables.lineitem(spark, sf)
      .filter(floor(col("l_quantity")) > 0)
      .select(col("l_partkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_depletions")).sum === partsWithDemand)
    // depletions happen in the back half of the ledger, never the
    // first month
    assert(rows.head.getAs[Long]("n_depletions") === 0L)
  }

  test("ev62 session counts shrink and peaks grow with the gap") {
    val rows = EventPipeline.queries("ev62_state_store_sizing")(spark, sf).collect()
    assert(rows.length === 3)
    val sessions = rows.map(_.getAs[Long]("n_sessions"))
    // longer gap merges sessions
    assert(sessions.reverse.sameElements(sessions.reverse.sorted))
    rows.foreach { r =>
      assert(r.getAs[Long]("peak_concurrent") >= 1L)
      assert(r.getAs[Long]("peak_concurrent") <= r.getAs[Long]("n_sessions"))
    }
    // peak concurrency replay for the smallest gap via brute sweep
    val g = 600L * 1000000L
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bySess = evs.groupBy(_._1).values.flatMap { es =>
      val sorted = es.map(_._2).sorted
      val bounds = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var start = sorted.head; var last = sorted.head
      sorted.tail.foreach { t =>
        if (t - last > g) { bounds += ((start, last + g)); start = t }
        last = t
      }
      bounds += ((start, last + g)); bounds
    }.toSeq
    val deltas = bySess.flatMap { case (s0, e0) => Seq((s0, 1L), (e0, -1L)) }
      .sortBy(x => (x._1, x._2))
    var cur = 0L; var peak = 0L
    deltas.foreach { case (_, d) => cur += d; if (cur > peak) peak = cur }
    assert(rows.head.getAs[Long]("peak_concurrent") === peak)
  }
}
