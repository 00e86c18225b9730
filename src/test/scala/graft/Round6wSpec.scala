package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextAnalysis}
import graft.core.Tables

class Round6wSpec extends SparkSpec {

  test("tx29 artifact census conserves docs and bounds clean share") {
    val rows = TextAnalysis.queries("tx29_artifact_census")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("docs_clean") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("docs_markup_heavy") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("clean_share_fx") <= 1000000L)
    }
  }

  test("ss26 norm bound never prunes a true top-10 member") {
    val rows = Similarity.queries("ss26_mips_norm_prune")(spark, sf).collect()
    assert(rows.length === 10)
    // soundness: for each query, every actual top-10 vector has
    // norm * q_norm >= theta (the bound only prunes provable losers)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("norm", graft.operators.Similarity.l2norm(col("emb")))
    val panel = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm"))
    val corpus = e.filter(col("vec_id") >= 10)
    import org.apache.spark.sql.expressions.Window
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("dot").desc, col("vec_id"))
    val top10 = corpus.crossJoin(broadcast(panel))
      .withColumn("dot", graft.functions.Det.trunc4(
        graft.operators.Similarity.dot(col("emb"), col("q_emb"))))
      .withColumn("rk", row_number().over(byQ))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("norm"), col("q_norm"), col("dot"))
    val thetas = rows.map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("theta")).toMap
    top10.collect().foreach { r =>
      val theta = thetas(r.getAs[Long]("q_id"))
      assert(r.getAs[Double]("norm") * r.getAs[Double]("q_norm") >= theta - 1e-12,
        s"top-10 member would be pruned for q=${r.getAs[Long]("q_id")}")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_prunable") <= r.getAs[Long]("n_corpus"))
    }
  }
}
