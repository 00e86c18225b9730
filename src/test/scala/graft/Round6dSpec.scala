package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Similarity}
import graft.core.Tables

class Round6dSpec extends SparkSpec {

  test("ss22 coherence census is sane and pair count matches the group arithmetic") {
    val r = Similarity.queries("ss22_dup_embed_coherence")(spark, sf).head()
    val nPairs = r.getAs[Long]("n_dup_pairs")
    assert(r.getAs[Long]("n_incoherent") <= nPairs)
    // pairs = Σ C(group,2) over duplicate-text groups restricted to
    // docs that actually have an embedding
    val ids = Tables.embeddings(spark, sf).select(col("vec_id").as("doc_id"))
    val groups = Tables.documents(spark, sf).join(ids, Seq("doc_id"))
      .select(graft.functions.Hashing.hash64(
        lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
      .groupBy(col("fp")).count().collect().map(_.getLong(1))
    val want = groups.map(n => n * (n - 1) / 2).sum
    assert(nPairs === want)
    if (nPairs > 0) {
      // identical texts embed identically in the synthetic corpus
      assert(r.getAs[Double]("avg_cos4") >= -2.0)
      assert(r.getAs[Long]("min_cos_i4") <= 10000L)
    }
  }

  test("q47 backlog census counts every non-final order exactly once") {
    val got = CoreAnalytics.queries("q47_order_backlog")(spark, sf).collect()
    val open = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") =!= "F").count()
    assert(got.map(_.getAs[Long]("n_open")).sum === open)
    got.foreach { r =>
      assert(r.getAs[Long]("age_band") % 90 === 0L)
      assert(r.getAs[Long]("age_band") >= 0L)
      assert(r.getAs[Double]("open_value") > 0.0)
    }
  }

  test("Det.truncDiv matches DuckDB's measured truncating // for any sign") {
    // MEASURED: DuckDB 1.0.0 integer `//` truncates toward zero
    // (-5 // 2 = -2), exactly like Spark `div` and Scala Long `/` —
    // so the parity-exact primitive is plain truncation on BOTH
    // sides, NOT a one-sided floor guard (see Det.truncDiv scaladoc)
    import spark.implicits._
    val vals = Seq(-1000000007L, -86400000001L, -86400000000L, -1L, 0L, 1L,
      86399999999L, 86400000000L, 86400000001L, 123456789012L)
    val df = vals.toDF("x")
      .withColumn("got", expr(graft.functions.Det.truncDiv("x", 86400000000L)))
      .collect()
    df.foreach { r =>
      assert(r.getAs[Long]("got") === r.getAs[Long]("x") / 86400000000L,
        s"x=${r.getAs[Long]("x")}")
    }
  }
}
