package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.core.Tables

/** Round-5 nineteenth wave: panel recall eval. */
class Round5sSpec extends SparkSpec {

  test("ss19 census shape holds and bounds order correctly") {
    val got = Similarity.queries("ss19_panel_recall")(spark, sf).collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getAs[Long]("n_queries") === Similarity.PanelN.toLong)
    val (mean, lo, hi) = (r.getAs[Long]("mean_recall_fx"),
      r.getAs[Long]("min_recall_fx"), r.getAs[Long]("max_recall_fx"))
    assert(lo <= mean && mean <= hi)
    assert(lo >= 0L && hi <= 1000000L)
  }

  test("ss19 one query's recall replays via ss08's single-query machinery") {
    // query 0's recall inside the panel must equal a direct recount
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("norm", Similarity.l2norm(col("emb")))
      .withColumn("bucket", Similarity.signBucket(col("emb")))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Double]]("emb"),
        r.getAs[Double]("norm"), r.getAs[Long]("bucket")))
    def recallOf(qid: Long): Long = {
      val q = e.find(_._1 == qid).get
      val scored = e.filter(_._1 != qid).map { v =>
        val dot = v._2.zip(q._2).map { case (a, b) => a * b }.sum
        val cos = math.floor(dot / (v._3 * q._3) * 10000) / 10000
        (v._1, cos, v._4 == q._4)
      }
      val truth = scored.sortBy(v => (-v._2, v._1)).take(10).map(_._1).toSet
      val approx = scored.filter(_._3).sortBy(v => (-v._2, v._1)).take(10).map(_._1)
      approx.count(truth) * 100000L
    }
    val recalls = (0L until Similarity.PanelN.toLong).map(recallOf)
    val got = Similarity.queries("ss19_panel_recall")(spark, sf).collect()(0)
    assert(got.getAs[Long]("min_recall_fx") === recalls.min)
    assert(got.getAs[Long]("max_recall_fx") === recalls.max)
    assert(got.getAs[Long]("mean_recall_fx") === recalls.sum / Similarity.PanelN)
  }
}
