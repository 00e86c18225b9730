package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventPipeline, Multimodal, Similarity}
import graft.core.Tables

/** Round-6 second-wave operators: n-gram novelty, IVF-residual PQ,
  * streaming first-seen, interleaved packing.
  */
class Round6bSpec extends SparkSpec {

  test("dd25 novelty grows with gram order and masses conserve") {
    val got = Dedup.queries("dd25_ngram_novelty")(spark, sf).collect()
    assert(got.map(_.getAs[Int]("n")).toSeq === Seq(1, 2, 3))
    got.foreach { r =>
      assert(r.getAs[Long]("novel_distinct") <= r.getAs[Long]("test_distinct"))
      assert(r.getAs[Long]("novel_occurrences") <= r.getAs[Long]("test_occurrences"))
    }
    // longer grams are strictly harder to have seen in train
    val shares = got.map(_.getAs[Long]("novel_share_fx"))
    assert(shares.sliding(2).forall(p => p(0) <= p(1)),
      s"novelty share not monotone in n: ${shares.toSeq}")
  }

  test("ss21 residual PQ reconstructs at least as well as direct PQ on average") {
    val res = Similarity.queries("ss21_ivf_pq_residual")(spark, sf).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("avg_recon_cos")).toMap
    val plain = Similarity.queries("ss12_pq_quantize")(spark, sf).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("avg_recon_cos")).toMap
    assert(res.keySet === plain.keySet)
    // the IVF-residual layout exists because residuals quantize
    // better; require it to win on the corpus mean
    val mres = res.values.sum / res.size
    val mplain = plain.values.sum / plain.size
    assert(mres >= mplain,
      s"residual PQ ($mres) lost to direct PQ ($mplain)")
    res.values.foreach(c => assert(c <= 1.0001 && c >= -1.0001))
  }

  test("ev42 streamed first-seen equals ev41's batch n_new per day") {
    val streamed = EventPipeline.queries("ev42_stream_first_seen")(spark, sf).collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("n_new")).toMap
    val batch = EventPipeline.queries("ev41_new_returning")(spark, sf).collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("n_new"))
      .filter(_._2 > 0).toMap
    assert(streamed === batch)
  }

  test("mm08 two-level prefix sum equals the sequential packing replay") {
    val got = Multimodal.queries("mm08_interleaved_pack")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("pack_id")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("pack_cost"))).toMap
    // naive replay: per source, docs in doc_id order, running sum,
    // pack = floor((cum - cost) / budget)
    val rows = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        (size(split(trim(col("text")), "\\s+")).cast("long") +
          expr("(length(cast(text as binary)) + 255) div 256")).as("cost"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"), r.getAs[Long]("cost")))
    val packed: Seq[((String, Long), Long)] =
      rows.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
        var cum = 0L
        ds.sortBy(_._2).toSeq.map { case (_, _, c) =>
          cum += c
          ((src, (cum - c) / 2048L), c)
        }
      }
    val want = packed.groupBy(_._1).map { case (k, vs) =>
      (k, (vs.size.toLong, vs.map(_._2).sum))
    }
    assert(got === want)
  }
}
