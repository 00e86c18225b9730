package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventPipeline, Similarity}
import graft.core.Tables

/** Round-5 twelfth-wave operators: gap octaves, probe-recall curve,
  * cluster-size octaves.
  */
class Round5lSpec extends SparkSpec {

  // --- ev36: session-gap octaves -----------------------------------

  test("ev36 gap census conserves pairs and the split curve is monotone") {
    val got = EventPipeline.queries("ev36_gap_octaves")(spark, sf).collect()
    assert(got.nonEmpty)
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(got.map(_.getAs[Long]("n_gaps")).sum === nEvents - nUsers,
      "every non-first event per user contributes exactly one gap")
    // octaves sorted; gap_lo doubles per octave step
    got.foreach { r =>
      val o = r.getAs[Int]("octave")
      assert(r.getAs[Long]("gap_lo_s") === (if (o < 0) 0L else 1L << o))
    }
    // the split curve (top-down cumulative) is monotone non-increasing
    // when read in ascending octave order... i.e. descending here
    val splits = got.map(_.getAs[Long]("n_splits_at_lo"))
    assert(splits.zip(splits.tail).forall { case (a, b) => a >= b },
      "raising the threshold can only reduce session splits")
    // the lowest octave's cumulative covers every gap
    assert(splits.head === got.map(_.getAs[Long]("n_gaps")).sum)
  }

  test("ev36 split count at one threshold replays driver-side") {
    val got = EventPipeline.queries("ev36_gap_octaves")(spark, sf).collect()
    // pick the octave containing 1800 s (ev09's 30-min dial): 2^10
    val oct10 = got.find(_.getAs[Int]("octave") === 10)
    if (oct10.isDefined) {
      val gaps = Tables.events(spark, sf)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().groupBy(_.getAs[Long]("user_id")).values.flatMap { evs =>
          evs.sortBy(r => (r.getAs[Long]("us"), r.getAs[Long]("event_id")))
            .sliding(2).collect { case Array(p, c) =>
              (c.getAs[Long]("us") - p.getAs[Long]("us")) / 1000000L }
        }.toSeq
      assert(oct10.get.getAs[Long]("n_splits_at_lo") ===
        gaps.count(_ >= 1024L))
    }
  }

  // --- ss16: probe-radius recall curve -----------------------------

  test("ss16 curve is monotone in radius and candidates bound hits") {
    val got = Similarity.queries("ss16_probe_recall")(spark, sf).collect()
    assert(got.map(_.getAs[Int]("radius")).toSeq === Similarity.Radii)
    val cands = got.map(_.getAs[Long]("n_cands"))
    val hits = got.map(_.getAs[Long]("n_hits"))
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b },
      "a wider probe can only admit more candidates")
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b },
      "a wider probe can only find more of the true top-10")
    got.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= math.min(10L, r.getAs[Long]("n_cands")))
      assert(r.getAs[Long]("recall_fx") === r.getAs[Long]("n_hits") * 100000L)
    }
  }

  test("ss16 radius-2 candidate count recounts via the sketch directly") {
    val got = Similarity.queries("ss16_probe_recall")(spark, sf).collect()
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("sketch",
        graft.operators.Similarity.signBucket(col("emb"), graft.operators.Similarity.SketchBits))
    val qs = e.filter(col("vec_id") === 0).collect()(0).getAs[Long]("sketch")
    val want = e.filter(col("vec_id") =!= 0)
      .filter(bit_count(col("sketch").bitwiseXOR(lit(qs))) <= 2).count()
    assert(got.last.getAs[Long]("n_cands") === want)
  }

  // --- dd22: cluster-size octaves ----------------------------------

  test("dd22 octaves tile the dd02 population and recount dd06") {
    val got = Dedup.queries("dd22_cluster_octaves")(spark, sf).collect()
    assert(got.nonEmpty)
    val pop = Dedup.docShingles(spark, sf).count()
    assert(got.map(_.getAs[Long]("n_docs")).sum === pop,
      "singletons + clustered docs tile the population")
    // clusters from CC always have >= 2 members, so octave >= 1 rows
    // hold only real clusters and their doc mass >= 2x cluster count
    got.filter(_.getAs[Int]("octave") >= 1).foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2 * r.getAs[Long]("n_clusters"))
    }
    // recount the clustered mass against dd06's own census
    val dd06 = Dedup.queries("dd06_dedup_clusters")(spark, sf)
      .agg(sum(col("n_members")).cast("long")).collect()(0).getLong(0)
    val singles = got.find(_.getAs[Int]("octave") === 0)
      .map(_.getAs[Long]("n_docs")).getOrElse(0L)
    assert(got.map(_.getAs[Long]("n_docs")).sum - singles === dd06)
    // shares sum to ~1 (floor loss bounded by row count)
    val s = got.map(_.getAs[Long]("share_fx")).sum
    assert(s <= 1000000L && s > 1000000L - got.length)
  }
}
