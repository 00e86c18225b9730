package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class Round6agSpec extends SparkSpec {

  test("dd33 classes partition the union of both candidate sets") {
    val rows = Dedup.queries("dd33_method_agreement")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byMethod = rows.map(r => r.getAs[String]("method") -> r).toMap
    assert(byMethod.keySet.subsetOf(Set("both", "minhash_only", "simhash_only")))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dups") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("mean_j_fx") <= 1000000L)
    }
    // conservation: both + minhash_only = dd03's distinct pair count
    val mhTotal = byMethod.get("both").map(_.getAs[Long]("n_pairs")).getOrElse(0L) +
      byMethod.get("minhash_only").map(_.getAs[Long]("n_pairs")).getOrElse(0L)
    val dd03Pairs = Dedup.queries("dd03_minhash_lsh")(spark, sf).count()
    assert(mhTotal === dd03Pairs)
    // agreement pairs are the strongest signal: their mean jaccard
    // dominates each single-method class when both classes exist
    for {
      b <- byMethod.get("both")
      m <- byMethod.get("minhash_only")
    } assert(b.getAs[Long]("mean_j_fx") >= m.getAs[Long]("mean_j_fx"))
  }
}
