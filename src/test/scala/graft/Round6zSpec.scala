package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis, CoreAnalytics, Packing}
import graft.core.Tables
import graft.functions.Hashing

class Round6zSpec extends SparkSpec {

  test("q55 count-min estimates never undercount and exact-match isolated keys") {
    val rows = CoreAnalytics.queries("q55_countmin_sketch")(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("over_cnt") >= 0L,
        "count-min must only ever overcount")
      assert(r.getAs[Long]("est_cnt") ===
        r.getAs[Long]("true_cnt") + r.getAs[Long]("over_cnt"))
    }
    // report is the true top-20 in descending truth order
    val truths = rows.map(_.getAs[Long]("true_cnt"))
    assert(truths.sameElements(truths.sortBy(-(_: Long))))
  }

  test("q55 estimate replays as the min of the key's d counters") {
    val lineitem = Tables.lineitem(spark, sf)
    val keyed = lineitem.groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rebuild the sketch in scala over the same hash
    def bucket(k: Long, seed: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed|$k".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 512L
    }
    val counters = scala.collection.mutable.Map[(Int, Long), Long]()
    keyed.foreach { case (k, c) =>
      (0 until 4).foreach { sd =>
        val b = (sd, bucket(k, sd)); counters(b) = counters.getOrElse(b, 0L) + c
      }
    }
    CoreAnalytics.queries("q55_countmin_sketch")(spark, sf).collect().foreach { r =>
      val k = r.getAs[Long]("l_partkey")
      val est = (0 until 4).map(sd => counters((sd, bucket(k, sd)))).min
      assert(r.getAs[Long]("est_cnt") === est, s"key $k sketch replay")
    }
  }

  test("tx31 novelty masses are conserved and the curve starts saturated") {
    val rows = TextAnalysis.queries("tx31_novelty_curve")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_novel_grams") <= r.getAs[Long]("n_occurrences"))
      assert(r.getAs[Long]("novelty_fx") <= 1000000L)
    }
    // total novel grams across deciles = corpus distinct gram count
    val totalNovel = rows.map(_.getAs[Long]("n_novel_grams")).sum
    val distinctGrams = Tables.documents(spark, sf)
      .select(TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(Dedup.shingleHashes(col("toks"))).as("gh"))
      .distinct().count()
    assert(totalNovel === distinctGrams)
    // the first decile sees mostly-new text; it must be the max
    val first = rows.head.getAs[Long]("novelty_fx")
    assert(rows.forall(_.getAs[Long]("novelty_fx") <= first))
  }

  test("pk17 worker loads are conserved and round-robin is exactly 8 shards each") {
    val rows = Packing.queries("pk17_worker_skew")(spark, sf).collect()
    assert(rows.length === 8)
    rows.foreach(r => assert(r.getAs[Long]("n_shards") === 8L))
    val loads = rows.map(_.getAs[Long]("load_fx"))
    // loads average to ~1.0 (integer floor loses < 1 ppm per worker)
    assert(math.abs(loads.sum - 8L * 1000000L) <= 8L)
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
    // deterministic layout: re-run produces identical rows
    val again = Packing.queries("pk17_worker_skew")(spark, sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }
}
