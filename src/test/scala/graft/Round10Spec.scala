package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class Round10Spec extends SparkSpec {

  test("ss40 sampled hubness: census conserves vectors and panel k-mass") {
    val rows = SparkEntry.queries("ss40_hubness_sampled")(spark, sf).collect()
    assert(rows.nonEmpty)
    // every corpus vector appears in exactly one octave bucket
    assert(rows.map(_.getAs[Long]("n_vectors")).sum === 500L)
    // each of the 64 panel queries lists exactly k = 5 neighbors
    assert(rows.map(_.getAs[Long]("panel_mass")).sum === 64L * 5L)
    rows.foreach { r =>
      val oct = r.getAs[Long]("octave")
      val mx = r.getAs[Long]("max_est_indeg")
      // octave o holds estimates in [2^o − 1, 2^(o+1) − 2]
      assert(mx + 1 >= (1L << oct) && mx + 1 < (1L << (oct + 1)))
    }
  }

  test("ss40 estimator vs exact: mass unbiased, hubs enriched (eval set)") {
    // SAME code path both times — panelSize ≥ n makes the panel the
    // whole corpus, so est_indeg IS the exact in-degree. The
    // comparison therefore isolates the sampling error, not a second
    // implementation of the algebra.
    val est = Similarity.panelIndeg(spark, sf, 64)
      .select(col("vec_id"), col("est_indeg"))
    val exact = Similarity.panelIndeg(spark, sf, 1000000)
      .select(col("vec_id"), col("est_indeg").as("exact_indeg"))
    val joined = est.join(exact, Seq("vec_id")).cache()
    val n = joined.count()
    assert(n === 500L)
    val exactSum = joined.agg(sum(col("exact_indeg"))).head.getLong(0)
    assert(exactSum === 5L * 500L) // k-mass: each corpus query lists k
    // estimated total k-mass within 10% of exact (floor rounding only
    // ever loses mass, so est ≤ exact)
    val estSum = joined.agg(sum(col("est_indeg"))).head.getLong(0)
    assert(estSum <= exactSum)
    assert(estSum * 10 >= exactSum * 9,
      s"estimated mass $estSum < 90% of exact $exactSum")
    // hub enrichment: the 20 highest-estimate vectors must have mean
    // EXACT in-degree well above the corpus mean (measured 1.43x on
    // this eval set; 1.2x is the pinned floor). A panel of 64 cannot
    // rank-match one-by-one — what it must do is point at the hubby
    // tail, which is what ANN diagnostics consume.
    val top = joined.orderBy(col("est_indeg").desc, col("vec_id")).limit(20)
      .agg(avg(col("exact_indeg"))).head.getDouble(0)
    val mean = exactSum.toDouble / n
    assert(top >= 1.2 * mean, s"est-top-20 exact-indeg mean $top < 1.2x corpus mean $mean")
    // positive rank association on the measured eval set
    val corr = joined.agg(expr("corr(est_indeg, exact_indeg)")).head.getDouble(0)
    assert(corr > 0.2, s"est/exact correlation $corr <= 0.2")
    joined.unpersist()
  }

  test("ss37 exact arm is fenced: a past-cap corpus fails loudly") {
    // 10,001 tiny vectors: over HubnessExactCap, so the O(n^2) truth
    // arm must refuse with a pointer at ss40 instead of planning
    // 100M pairs
    val dir = java.nio.file.Files.createTempDirectory("ss37cap").toString
    spark.range(10001)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f)).as("embedding"),
        lit("x").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // the fence is LAZY (round 11): construction stays plan-only so
    // PlanDump/ShuffleProbe never run a scan; the raise_error guard
    // fires at the first action, before the quadratic join streams
    val frame = SparkEntry.queries("ss37_hubness")(spark, dir)
    val ex = intercept[Exception] { frame.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("ss40_hubness_sampled")),
      s"fence error did not point at ss40: ${msgs(ex).mkString(" | ")}")
  }

  test("dd45 density planner: wider bands monotonically shrink candidate mass") {
    val rows = SparkEntry.queries("dd45_band_density_plan")(spark, sf)
      .collect().sortBy(_.getAs[Long]("band_bits"))
    assert(rows.map(_.getAs[Long]("band_bits")).toSeq === Seq(4L, 8L, 16L))
    // the dial's whole point: each doubling of band width cuts the
    // per-band collision rate ~2^bits, so candidate mass must fall
    val pairs = rows.map(_.getAs[Long]("candidate_pairs"))
    assert(pairs(0) > pairs(1) && pairs(1) > pairs(2),
      s"candidate mass not monotone in band width: ${pairs.toSeq}")
    rows.foreach { r =>
      val buckets = r.getAs[Long]("n_buckets")
      val maxOcc = r.getAs[Long]("max_occupancy")
      assert(buckets >= 1L && maxOcc >= 1L)
      // every bucket of size c contributes C(c,2) <= C(maxOcc,2)
      assert(r.getAs[Long]("candidate_pairs") <=
        buckets * (maxOcc * (maxOcc - 1)) / 2)
    }
  }

  test("mm23 color PNG: gray and color arms both present, luma in range") {
    val rows = SparkEntry.queries("mm23_png_color")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byBands = rows.groupBy(_.getAs[Long]("bands"))
    assert(byBands.keySet === Set(1L, 3L))
    // every doc decodes (parity split covers the whole corpus)
    val total = rows.map(_.getAs[Long]("n_images")).sum
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(total === nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_px") >= 0L)
      assert(r.getAs[Long]("max_px") <= 255L)
      val mean = r.getAs[Long]("mean_px_fx")
      assert(mean >= 0L && mean <= 255L * 1000000L)
    }
  }
}
