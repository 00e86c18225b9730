package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class Round8Spec extends SparkSpec {

  import spark.implicits._

  /** Templated-text adversary: 1,100 docs with IDENTICAL token sets
    * (the near-constant-field / mega-dup-cluster case) — every doc
    * gets the same simhash, so all 4 band buckets go hot with
    * occupancy 1,100 > SimhashBucketCap and an uncapped band
    * self-join would pay 1100·1099/2 ≈ 604k pairs PER BAND. A
    * handful of distinct docs ride along as the honest population
    * the cap must not touch.
    */
  private def adversarialBanded = {
    val docs = ((0 until 1100).map(i => (i.toLong, "aa bb cc dd ee")) ++
      (2000 until 2010).map(i => (i.toLong, s"unique$i token$i word$i")))
      .toDF("doc_id", "text")
    Dedup.simhashBandedOf(Dedup.simhashesOf(docs))
  }

  test("simhash cap marks the adversarial hot buckets and keeps honest ones") {
    val banded = adversarialBanded.persist()
    val occ = banded.groupBy(col("band"), col("bval")).count()
    val hot = occ.filter(col("count") > Dedup.SimhashBucketCap).count()
    assert(hot >= 1L, "fixture must actually create a hot band bucket")
    val kept = Dedup.simhashKept(Dedup.simhashBucketStats(banded))
    val keptMax = occ.join(kept, Seq("band", "bval"))
      .agg(max(col("count"))).head.getLong(0)
    assert(keptMax <= Dedup.SimhashBucketCap)
    // honest docs (distinct text) survive in kept buckets
    val keptDocs = banded.join(kept, Seq("band", "bval"))
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert((2000L until 2010L).forall(keptDocs.contains))
  }

  test("star fallback bounds hot buckets at O(occ) and keeps hub connectivity") {
    val banded = adversarialBanded.persist()
    val pairs = Dedup.simhashCandidatePairs(banded).persist()
    val n = pairs.count()
    // bound: cap²/2 per kept bucket + (occ−1) per hot bucket — for
    // this fixture the hot cluster contributes exactly 1,099 star
    // edges (hub 0 × each member), nothing near the 604k all-pairs
    val stats = Dedup.simhashBucketStats(banded)
    val bound = stats.agg(sum(
      when(col("occ") <= Dedup.SimhashBucketCap,
        expr("(occ * (occ - 1)) div 2")).otherwise(col("occ") - 1)))
      .head.getLong(0)
    assert(n <= bound)
    // every hot-cluster member is probed against the hub (doc 0)
    val hubPartners = pairs.filter(col("doc_a") === 0L)
      .select(col("doc_b")).as[Long].collect().toSet
    assert((1L until 1100L).forall(hubPartners.contains))
    // and the hot cluster contributes ONLY star edges: no pair with
    // both ends > 0 inside the cluster id range
    val nonStar = pairs
      .filter(col("doc_a") > 0L && col("doc_a") < 1100L && col("doc_b") < 1100L)
      .count()
    assert(nonStar === 0L)
  }

  test("dd40 sweep: kept counts are monotone in cap and recalls well-formed") {
    val out = Dedup.queries("dd40_simhash_cap_sweep")(spark, sf)
      .collect().sortBy(_.getAs[Long]("cap"))
    assert(out.map(_.getAs[Long]("cap")).toSeq === Seq(8L, 64L, 512L, 1024L))
    // monotone: a pair kept at cap c stays kept at c' > c (its bucket
    // either goes cold — min_occ ≤ c' — or stays hot with the same hub)
    val keptSeq = out.map(_.getAs[Long]("n_pairs_kept")).toSeq
    assert(keptSeq === keptSeq.sorted, "kept pairs must grow with the cap")
    val trueKept = out.map(_.getAs[Long]("n_true_kept")).toSeq
    assert(trueKept === trueKept.sorted)
    out.foreach { r =>
      assert(r.getAs[Long]("n_pairs_kept") <= r.getAs[Long]("n_pairs_full"))
      assert(r.getAs[Long]("n_true_kept") <= r.getAs[Long]("n_true_full"))
      assert(r.getAs[Long]("cand_recall_fx") >= 0L &&
        r.getAs[Long]("cand_recall_fx") <= 1000000L)
      assert(r.getAs[Long]("true_recall_fx") >= 0L &&
        r.getAs[Long]("true_recall_fx") <= 1000000L)
      // full counts are cap-independent (they price the SAME truth)
      assert(r.getAs[Long]("n_pairs_full") === out.head.getAs[Long]("n_pairs_full"))
      assert(r.getAs[Long]("n_true_full") === out.head.getAs[Long]("n_true_full"))
    }
    // the shipped dial (1024) is invisible at this sf (max occupancy
    // 154 measured) — full recall, no hot buckets
    val shipped = out.last
    assert(shipped.getAs[Long]("n_hot_buckets") === 0L)
    assert(shipped.getAs[Long]("cand_recall_fx") === 1000000L)
    assert(shipped.getAs[Long]("true_recall_fx") === 1000000L)
    // the tightest arm (8) DOES bite on the testdata's dup cluster —
    // the sweep prices a real trade here, not a vacuous one
    assert(out.head.getAs[Long]("n_hot_buckets") > 0L)
  }

  test("dd07 capped result equals the uncapped join on honest testdata") {
    val capped = Dedup.queries("dd07_hamming_pairs")(spark, sf).collect()
    val banded = Dedup.simhashBanded(spark, sf).persist()
    val l = banded.select(col("band"), col("bval"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val r = banded.select(col("band"), col("bval"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    val uncapped = l.join(r, Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
      .collect()
    assert(capped.map(_.toSeq).toSeq === uncapped.map(_.toSeq).toSeq)
  }

  test("dd33 still classifies pairs after the capped simhash side") {
    val out = Dedup.queries("dd33_method_agreement")(spark, sf).collect()
    assert(out.nonEmpty)
    val methods = out.map(_.getAs[String]("method")).toSet
    assert(methods.subsetOf(Set("both", "minhash_only", "simhash_only")))
    out.foreach { r =>
      assert(r.getAs[Long]("n_pairs") >= r.getAs[Long]("n_dups"))
    }
  }
}
