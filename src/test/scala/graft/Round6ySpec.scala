package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventPipeline, TextAnalysis}
import graft.core.Tables

class Round6ySpec extends SparkSpec {

  test("tx30 sentence census is conserved and internally consistent") {
    val rows = TextAnalysis.queries("tx30_sentence_stats")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sentences") >= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("docs_outside_band") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("outside_share_fx") <= 1000000L)
      // mean is within the per-doc extremes by construction
      assert(r.getAs[Long]("mean_sent_tokens_fx") > 0L)
    }
    // docs with at least one sentence = docs with any non-space char
    // terminated span; bounded by the corpus
    assert(rows.map(_.getAs[Long]("n_docs")).sum <=
      Tables.documents(spark, sf).count())
  }

  test("ev56 frontier lags are exact and the tip partition never stalls") {
    val rows = EventPipeline.queries("ev56_partition_watermark_skew")(spark, sf).collect()
    assert(rows.length === 8)
    val tip = rows.map(_.getAs[Long]("frontier_us")).max
    rows.foreach { r =>
      assert(r.getAs[Long]("lag_sec") ===
        (tip - r.getAs[Long]("frontier_us")) / 1000000L)
      assert(r.getAs[Boolean]("stalls_watermark") === (r.getAs[Long]("lag_sec") > 300L))
    }
    assert(rows.exists(_.getAs[Long]("lag_sec") === 0L))
    assert(rows.map(_.getAs[Long]("n_records")).sum ===
      Tables.events(spark, sf).count())
  }
}
