package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventPipeline}
import graft.core.Tables

class Round6abSpec extends SparkSpec {

  test("ev57 sizing is consistent: peak >= mean, consumers cover the load") {
    val rows = EventPipeline.queries("ev57_consumer_sizing")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val peak = r.getAs[Long]("peak_rate")
      val meanFx = r.getAs[Long]("mean_rate_fx")
      assert(peak * 1000000L >= meanFx, "peak minute >= mean rate")
      assert(r.getAs[Long]("burst_fx") >= 1000000L - 1L, "burst ratio >= ~1.0")
      assert(r.getAs[Long]("consumers_peak") >= r.getAs[Long]("consumers_mean"))
      // ceil division covers the peak exactly
      assert(r.getAs[Long]("consumers_peak") * 100L >= peak)
      assert((r.getAs[Long]("consumers_peak") - 1L) * 100L < peak)
    }
    assert(rows.map(_.getAs[Long]("n_events")).sum ===
      Tables.events(spark, sf).count())
  }

  test("dd32 pair census folds back to dd03 and precision rises with bands") {
    val rows = Dedup.queries("dd32_band_precision")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dups") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("precision_fx") <= 1000000L)
      assert(r.getAs[Long]("mean_j_fx") <= 1000000L)
    }
    // candidate-pair conservation against dd03's pair table
    val dd03Pairs = Dedup.queries("dd03_minhash_lsh")(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === dd03Pairs)
    // max-multiplicity pairs (all bands agree) are near-certain dups:
    // their mean jaccard must be at least the 1-band mean
    val byBands = rows.map(r =>
      r.getAs[Long]("n_shared_bands") -> r.getAs[Long]("mean_j_fx")).toMap
    if (byBands.size > 1) {
      assert(byBands(byBands.keys.max) >= byBands(byBands.keys.min))
    }
  }
}
