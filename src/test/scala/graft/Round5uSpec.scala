package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.core.Tables

/** Round-5 twenty-first wave: cluster margin census. */
class Round5uSpec extends SparkSpec {

  test("ss20 census covers every label with full counts and sane margins") {
    val got = Similarity.queries("ss20_cluster_margin")(spark, sf).collect()
    val labels = Tables.embeddings(spark, sf).select(col("label"))
      .distinct().collect().map(_.getInt(0)).sorted
    assert(got.map(_.getAs[Int]("cluster")).toSeq === labels.toSeq)
    assert(got.map(_.getAs[Long]("n_vecs")).sum ===
      Tables.embeddings(spark, sf).count())
    got.foreach { r =>
      assert(r.getAs[Long]("n_negative") <= r.getAs[Long]("n_vecs"))
      val m = r.getAs[Double]("mean_margin4")
      assert(m >= -2.0 && m <= 2.0, "cosine margins live in [-2, 2]")
      assert(r.getAs[Long]("neg_share_fx") ===
        r.getAs[Long]("n_negative") * 1000000L / r.getAs[Long]("n_vecs"))
    }
  }

  test("ss20 margin of one vector replays driver-side") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Double]]("emb").toVector))
    // centroids per label, mirroring the operator's decimal(27,10)
    // quantized sum exactly so borderline margin signs can't flip
    val cents = e.groupBy(_._2).view.mapValues { vs =>
      val dim = vs.head._3.length
      (0 until dim).map { i =>
        vs.map(v => BigDecimal(v._3(i))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
          .toDouble / vs.length
      }
    }.toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val negByLabel = e.groupBy(_._2).view.mapValues(_.count { case (_, l, v) =>
      val own = cos(v, cents(l))
      val other = cents.filter(_._1 != l).values.map(c => cos(v, c)).max
      math.floor((own - other) * 10000) < 0
    }.toLong).toMap
    val got = Similarity.queries("ss20_cluster_margin")(spark, sf).collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("n_negative")).toMap
    assert(got === negByLabel)
  }
}
