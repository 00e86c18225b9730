package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline}
import graft.core.Tables

class Round6ahSpec extends SparkSpec {

  test("ev59 rendezvous moves less than modulo and the census conserves") {
    val rows = EventPipeline.queries("ev59_rebalance_cost")(spark, sf).collect()
    assert(rows.length === 2)
    val byStrategy = rows.map(r => r.getAs[String]("strategy") -> r).toMap
    val mod = byStrategy("modulo"); val rdv = byStrategy("rendezvous")
    // the census covers OCCUPIED partitions (loads come from events)
    val occupied = Tables.events(spark, sf)
      .select(pmod(col("user_id"), lit(64L))).distinct().count()
    assert(mod.getAs[Long]("n_partitions") === occupied)
    assert(rdv.getAs[Long]("n_partitions") === occupied)
    // rendezvous: only partitions whose new-consumer weight wins move
    // — strictly fewer than modulo's near-total reshuffle on 2 -> 3
    assert(rdv.getAs[Long]("n_moved") < mod.getAs[Long]("n_moved"))
    assert(rdv.getAs[Long]("moved_share_fx") < mod.getAs[Long]("moved_share_fx"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_moved") <= r.getAs[Long]("n_partitions"))
      assert(r.getAs[Long]("moved_share_fx") <= 1000000L)
    }
  }

  test("ev59 rendezvous movement replays in scala") {
    def h(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    def owner(p: Long, w: Int): Int =
      (0 until w).maxBy(c => (h(s"$p|$c"), -c))
    val occupied = Tables.events(spark, sf)
      .select(pmod(col("user_id"), lit(64L)).as("p")).distinct()
      .collect().map(_.getLong(0))
    val expectMoved = occupied.count(p => owner(p, 2) != owner(p, 3))
    val rows = EventPipeline.queries("ev59_rebalance_cost")(spark, sf).collect()
    val rdv = rows.find(_.getAs[String]("strategy") == "rendezvous").get
    assert(rdv.getAs[Long]("n_moved") === expectMoved.toLong)
  }

  test("q61 KMV matches exact counts for small types and bounds the error") {
    val rows = CoreAnalytics.queries("q61_kmv_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTrue = r.getAs[Long]("n_true")
      val est = r.getAs[Long]("est")
      if (nTrue < 64L) assert(est === nTrue, "below k the sketch is exact")
      // KMV with k=64 has relative sigma ~ 1/sqrt(62) ~ 13%; allow 5 sigma
      assert(math.abs(est - nTrue).toDouble / nTrue <= 0.65)
    }
    // truth column equals an independent exact distinct count
    val expect = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("n_true") === expect(r.getAs[String]("event_type"))))
  }
}
