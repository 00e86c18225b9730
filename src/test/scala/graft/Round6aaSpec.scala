package graft

import org.apache.spark.sql.functions._
import graft.operators.CoreAnalytics
import graft.core.Tables

class Round6aaSpec extends SparkSpec {

  test("q56 pagerank replays exactly against a scala-side propagation") {
    val rows = CoreAnalytics.queries("q56_supplier_pagerank")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val ranks = rows.map(_.getAs[Long]("rank_fx"))
    assert(ranks.sameElements(ranks.sortBy(-(_: Long))))
    // replay: same integer arithmetic over driver-collected edges
    val edges = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .agg(count(lit(1)).cast("long").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val outC = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val outS = edges.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val Fx = 1000000L; val base = 150000L
    def damp(s: Long): Long = base + 85L * s / 100L
    var rc = outC.keys.map(_ -> Fx).toMap
    var rs = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      rs = edges.groupBy(_._2).view.mapValues(es =>
        damp(es.map(e => rc(e._1) * e._3 / outC(e._1)).sum)).toMap
      rc = edges.groupBy(_._1).view.mapValues(es =>
        damp(es.map(e => rs(e._2) * e._3 / outS(e._2)).sum)).toMap
    }
    // rc of round 2 is computed but unused by the query (it stops at s2)
    val expect = rs.toSeq.sortBy(kv => (-kv._2, kv._1)).take(rows.length)
    assert(rows.length === math.min(20, rs.size))
    rows.zip(expect).foreach { case (r, (k, v)) =>
      assert(r.getAs[Long]("l_suppkey") === k)
      assert(r.getAs[Long]("rank_fx") === v)
    }
  }

  test("q57 merkle summaries detect exactly the buckets that gained rows") {
    val rows = CoreAnalytics.queries("q57_merkle_diff")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 256)
    rows.foreach { r =>
      val delta = r.getAs[Long]("rows_delta")
      assert(delta >= 0L, "t1 snapshot is a subset of t2")
      val dirty = r.getAs[Boolean]("dirty")
      // a bucket that gained rows MUST read dirty; an unchanged count
      // with an unchanged digest must read clean
      if (delta > 0L) assert(dirty)
      if (!dirty) {
        assert(delta === 0L)
        assert(r.getAs[Long]("digest_t1") === r.getAs[Long]("digest_t2"))
      }
    }
    // conservation: bucket counts fold back to the snapshot row counts
    val orders = Tables.orders(spark, sf)
    val n2 = orders.filter(col("o_orderdate") <= lit("1999-12-31").cast("timestamp")).count()
    val n1 = orders.filter(col("o_orderdate") <= lit("1998-12-31").cast("timestamp")).count()
    assert(rows.map(_.getAs[Long]("n_t2")).sum === n2)
    assert(rows.map(_.getAs[Long]("n_t1")).sum === n1)
    // both clean and dirty buckets exist at this cutoff pair
    assert(rows.exists(_.getAs[Boolean]("dirty")))
  }
}
