package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Similarity}
import graft.core.Tables

class Round6pSpec extends SparkSpec {

  test("ss25 recall is monotone in nprobe and worst-query bounds the mean") {
    val rows = Similarity.queries("ss25_panel_nprobe")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq === Seq(1L, 2L, 4L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_truth") === 100L) // 10 queries x top-10
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_truth"))
      // the worst query can never beat the panel mean
      assert(r.getAs[Long]("worst_hits") * 10L <= r.getAs[Long]("n_hit"))
    }
    // more probes can only add candidates and hits
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_cand") <= b.getAs[Long]("n_cand"))
      assert(a.getAs[Long]("n_hit") <= b.getAs[Long]("n_hit"))
    }
  }

  test("q51 collisions shrink as the dimension grows; vocabulary is conserved") {
    val rows = CoreAnalytics.queries("q51_feature_hashing")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("dim")).toSeq === Seq(64L, 256L, 1024L))
    val vocab = Tables.orders(spark, sf)
      .select(explode(array(
        concat(lit("cust="), col("o_custkey").cast("string")),
        concat(lit("status="), col("o_orderstatus")),
        concat(lit("prio="), col("o_orderpriority")))).as("feat"))
      .distinct().count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_features") === vocab)
      assert(r.getAs[Long]("n_buckets_used") <=
        math.min(vocab, r.getAs[Long]("dim")))
      assert(r.getAs[Long]("collided_features") <= vocab)
    }
    val coll = rows.map(_.getAs[Long]("collision_share_fx"))
    assert(coll.sliding(2).forall(p => p(0) >= p(1)),
      s"collision share not monotone: ${coll.toSeq}")
  }
}
