package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, Similarity}
import graft.core.Tables

class Round6acSpec extends SparkSpec {

  test("mm12 cascade conserves items and attributes removals to stages") {
    val rows = Multimodal.queries("mm12_dedup_cascade")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") ===
        r.getAs[Long]("n_items") - r.getAs[Long]("n_exact_removed") -
          r.getAs[Long]("n_near_removed"))
      assert(r.getAs[Long]("n_kept") >= 0L)
      assert(r.getAs[Long]("yield_fx") <= 1000000L)
    }
    val ascii = Tables.documents(spark, sf)
      .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
    assert(rows.map(_.getAs[Long]("n_items")).sum === ascii.count())
    // exact stage removes exactly (items - distinct digests) overall
    val distinctDigests = ascii.select(md5(col("text").cast("binary"))).distinct().count()
    assert(rows.map(_.getAs[Long]("n_exact_removed")).sum ===
      rows.map(_.getAs[Long]("n_items")).sum - distinctDigests)
  }

  test("ss27 staleness is exactly the full-winner-not-indexed predicate") {
    val rows = Similarity.queries("ss27_index_staleness")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Double]("index_cos") <= r.getAs[Double]("full_cos"),
        "restricting the candidate set cannot improve the winner")
      assert(r.getAs[Boolean]("stale") ===
        (r.getAs[Long]("full_id") !== r.getAs[Long]("index_id")))
    }
  }
}
