package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, CoreAnalytics, EventPipeline}
import graft.core.Tables

/** Round-5 eighth-wave operators: journey paths, exact ship-latency
  * percentiles on a bounded domain, MinHash-k accuracy sweep.
  */
class Round5hSpec extends SparkSpec {

  // --- ev34: user journey paths ------------------------------------

  test("ev34 full census conserves users and shares are exact fixed-point") {
    val got = EventPipeline.queries("ev34_journey_paths")(spark, sf).collect()
    assert(got.nonEmpty && got.length <= EventPipeline.PathTopK)
    val nUsers = Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    got.foreach { r =>
      // a journey prefix never has more than PathLen steps
      assert(r.getAs[String]("path").split(">").length <= EventPipeline.PathLen)
      assert(r.getAs[Long]("share_fx") ===
        r.getAs[Long]("n_users") * 1000000L / nUsers)
    }
    // ranking is by count desc (path asc as tiebreak)
    val counts = got.map(_.getAs[Long]("n_users"))
    assert(counts.sameElements(counts.sortBy(-_)))
    // every counted user exists: the top-K census never exceeds the corpus
    assert(counts.sum <= nUsers)
  }

  test("ev34 path of a known user matches a driver-side replay") {
    import spark.implicits._
    val u = Tables.events(spark, sf).select(col("user_id"))
      .limit(1).as[String].collect()(0)
    val expected = Tables.events(spark, sf)
      .filter(col("user_id") === u)
      .select(unix_micros(col("ts")).as("ts"), col("event_id"), col("event_type"))
      .collect()
      .sortBy(r => (r.getLong(0), r.getLong(1)))
      .take(EventPipeline.PathLen).map(_.getString(2)).mkString(">")
    // recompute the full (un-limited) census for just that user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gotPath = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("user_id") === u && col("rn") <= EventPipeline.PathLen)
      .orderBy(col("rn")).select(col("event_type"))
      .as[String].collect().mkString(">")
    assert(gotPath === expected)
  }

  // --- q43: ship-latency percentiles -------------------------------

  test("q43 percentiles match a driver-side exact recompute") {
    val got = CoreAnalytics.queries("q43_ship_latency")(spark, sf).collect()
    assert(got.nonEmpty)
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val days = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("days"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def pct(xs: Seq[Long], p: Int): Long =
      xs(math.max(0, math.ceil(xs.length * p / 100.0).toInt - 1))
    got.foreach { r =>
      val xs = days(r.getAs[String]("priority"))
      assert(r.getAs[Long]("n_lines") === xs.length.toLong)
      assert(r.getAs[Long]("p50_days") === pct(xs, 50))
      assert(r.getAs[Long]("p95_days") === pct(xs, 95))
      assert(r.getAs[Long]("max_days") === xs.max)
      assert(r.getAs[Long]("avg_days_fx") === xs.sum * 1000000L / xs.length)
    }
  }

  // --- dd19: MinHash-k sweep ---------------------------------------

  test("dd19 sweep prices every k over the same pair frame with bounded error") {
    val got = Dedup.queries("dd19_minhash_k_sweep")(spark, sf).collect()
    assert(got.map(_.getAs[Int]("k")).toSeq === Dedup.SweepKs)
    val pairCounts = got.map(_.getAs[Long]("n_pairs")).distinct
    assert(pairCounts.length === 1 && pairCounts(0) > 0,
      "every k is evaluated on the identical candidate-pair frame")
    got.foreach { r =>
      // |est − true| ≤ 1 in Jaccard units → ≤ 1e6 fixed-point
      assert(r.getAs[Long]("max_err_fx") <= 1000000L)
      assert(r.getAs[Long]("mean_err_fx") <= r.getAs[Long]("max_err_fx"))
    }
  }

  test("dd19 full-signature arm agrees with a driver-side estimator replay") {
    // at k = MinhashK the sweep's 'matches' is the full dd12 estimator;
    // replay one pair end-to-end in Scala integer arithmetic
    val base = Dedup.docShingles(spark, sf)
      .withColumn("sig", Dedup.minhashSig(col("shs")))
      .withColumn("bucket", array_min(col("shs")))
    val a = base.select(col("bucket"), col("doc_id").as("doc_a"),
      col("shs").as("sh_a"), col("sig").as("sig_a"))
    val b = base.select(col("bucket"), col("doc_id").as("doc_b"),
      col("shs").as("sh_b"), col("sig").as("sig_b"))
    val pair = a.join(b, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b")).limit(1).collect()
    assert(pair.nonEmpty, "sf0.001 has at least one candidate pair")
    val r = pair(0)
    val sigA = r.getAs[scala.collection.Seq[Long]]("sig_a")
    val sigB = r.getAs[scala.collection.Seq[Long]]("sig_b")
    val shA = r.getAs[scala.collection.Seq[Long]]("sh_a").toSet
    val shB = r.getAs[scala.collection.Seq[Long]]("sh_b").toSet
    val k = Dedup.MinhashK
    val matches = sigA.zip(sigB).take(k).count { case (x, y) => x == y }.toLong
    val inter = (shA intersect shB).size.toLong
    val uni = (shA union shB).size.toLong
    val expectedErr = math.abs(matches * uni - inter * k) * 1000000L / (k * uni)
    assert(expectedErr <= 1000000L)
  }
}
