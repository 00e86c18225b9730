package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Dedup, EventPipeline, TextAnalysis}
import graft.core.Tables

class Round6mSpec extends SparkSpec {

  test("ev49 stream-stream interval join lands on ev17's batch census") {
    val got = EventPipeline.queries("ev49_stream_interval_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6)))
    val want = EventPipeline.queries("ev17_interval_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6)))
    assert(got.toSeq === want.toSeq)
  }

  test("q49 snapshot diff conserves the t2 snapshot and classifies exhaustively") {
    val rows = CoreAnalytics.queries("q49_snapshot_diff")(spark, sf).collect()
    val segs = rows.map(_.getAs[String]("seg")).toSet
    assert(segs.subsetOf(Set("1_new", "2_grown", "3_unchanged")))
    // customers in the diff = customers with any order by t2 (t1 ⊆ t2
    // for an append-only fact table, so the full outer never produces
    // a t1-only row)
    val nCustomers = rows.map(_.getAs[Long]("n_customers")).sum
    val want = Tables.orders(spark, sf)
      .filter(col("o_orderdate") <= lit("1997-12-31").cast("timestamp"))
      .select(col("o_custkey")).distinct().count()
    assert(nCustomers === want)
    // orders_added totals the orders that arrived between the cutoffs
    val added = rows.map(_.getAs[Long]("orders_added")).sum
    val wantAdded = Tables.orders(spark, sf)
      .filter(col("o_orderdate") > lit("1996-12-31").cast("timestamp") &&
        col("o_orderdate") <= lit("1997-12-31").cast("timestamp")).count()
    assert(added === wantAdded)
  }

  test("tx26 coverage curve is monotone and matches a direct ranked recount") {
    val rows = TextAnalysis.queries("tx26_topk_coverage")(spark, sf)
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[Long]("n_top"),
        r.getAs[Long]("mass_top"), r.getAs[Long]("coverage_fx")))
    assert(rows.nonEmpty)
    // monotone in k on every column
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4, s"$a !<= $b")
    }
    // n_top = min(2^k, V) exactly
    val vocab = Tables.documents(spark, sf)
      .select(explode_outer(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull && col("tok") =!= "")
      .groupBy(col("tok")).count()
    val v = vocab.count()
    rows.foreach { case (k, nTop, _, _) =>
      assert(nTop === math.min(1L << k, v), s"k=$k")
    }
    // direct per-token ranked recount of the top-2^k mass (test-only
    // global window — fine at spec scale)
    import org.apache.spark.sql.expressions.Window
    val ranked = vocab.withColumn("rnk",
      row_number().over(Window.orderBy(col("count").desc, col("tok"))))
    val k = rows.last._1
    val wantMass = ranked.filter(col("rnk") <= (1L << k))
      .agg(sum(col("count"))).head.getLong(0)
    assert(rows.last._3 === wantMass)
  }

  test("dd28 bloom census is internally consistent") {
    val r = Dedup.queries("dd28_bloom_prefilter")(spark, sf).head()
    val nBuild = r.getAs[Long]("n_build")
    val nBits = r.getAs[Long]("n_bits_set")
    assert(nBuild > 0 && nBits > 0)
    // k=3 hashes per key bound the set-bit count; fill tracks it
    assert(nBits <= math.min(3L * nBuild, 1L << 14))
    assert(r.getAs[Long]("fill_fx") === nBits * 1000000L / (1L << 14))
    // false positives are a subset of the probes
    assert(r.getAs[Long]("n_false_pos") <= r.getAs[Long]("n_probes"))
    // probes exclude every build fingerprint by construction: probe
    // count <= distinct odd-doc fingerprints
    val odd = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(2)) =!= 0)
      .select(graft.functions.Hashing.hash64(col("text"))).distinct().count()
    assert(r.getAs[Long]("n_probes") <= odd)
  }
}
