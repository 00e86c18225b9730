package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}
import graft.core.Tables

/** Round-5 fifteenth-wave operators: capped banding, char classes. */
class Round5oSpec extends SparkSpec {

  // --- dd23: capped banding ----------------------------------------

  test("dd23 conservation laws hold and capped candidates recount vs dd03") {
    val got = Dedup.queries("dd23_capped_banding")(spark, sf).collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getAs[Long]("cand_capped") <= r.getAs[Long]("cand_full"))
    assert(r.getAs[Long]("true_kept") <= r.getAs[Long]("true_full"))
    assert(r.getAs[Long]("true_full") <= r.getAs[Long]("cand_full"))
    assert(r.getAs[Long]("n_hot_dropped") <= r.getAs[Long]("n_buckets"))
    // dd03's distinct pair count IS the full candidate census
    val dd03 = Dedup.queries("dd03_minhash_lsh")(spark, sf).count()
    assert(r.getAs[Long]("cand_full") === dd03)
    // recall arithmetic
    assert(r.getAs[Long]("cand_recall_fx") === r.getAs[Long]("cand_capped") *
      1000000L / math.max(r.getAs[Long]("cand_full"), 1L))
    // with no hot buckets the cap must be lossless
    if (r.getAs[Long]("n_hot_dropped") === 0L)
      assert(r.getAs[Long]("cand_capped") === r.getAs[Long]("cand_full"))
  }

  test("dd23 bucket census recounts from the banding table directly") {
    val got = Dedup.queries("dd23_capped_banding")(spark, sf).collect()(0)
    val occ = Dedup.queries("dd03_minhash_lsh")(spark, sf) // warm unrelated
    val occs = graft.operators.Dedup.bandedSignatures(spark, sf)
      .groupBy(col("band"), col("band_hash")).count()
      .collect().map(_.getAs[Long]("count"))
    assert(got.getAs[Long]("n_buckets") === occs.length.toLong)
    assert(got.getAs[Long]("n_hot_dropped") ===
      occs.count(_ > Dedup.BucketCap).toLong)
  }

  // --- tx23: char-class profile ------------------------------------

  test("tx23 shares tile each source and one doc replays driver-side") {
    val got = TextAnalysis.queries("tx23_charclass_profile")(spark, sf).collect()
    val sources = Tables.documents(spark, sf).select(col("source")).distinct().count()
    assert(got.length === sources.toInt)
    got.foreach { r =>
      val parts = Seq("alpha_fx", "digit_fx", "space_fx", "other_fx")
        .map(r.getAs[Long](_))
      assert(parts.forall(p => p >= 0L && p <= 1000000L))
      // floor division loses < 1 millionth per class
      assert(parts.sum <= 1000000L && parts.sum > 1000000L - 4)
    }
    assert(got.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
    // replay one doc's class counts
    val doc = Tables.documents(spark, sf).select(col("text")).limit(1)
      .collect()(0).getAs[String]("text")
    assert(doc.forall(_ < 128.toChar), "corpus is ASCII — class parity holds")
    val alpha = doc.count(c => c.isLetter)
    val digit = doc.count(c => c.isDigit)
    assert(alpha + digit <= doc.length)
  }
}
