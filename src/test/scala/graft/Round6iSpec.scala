package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.Hashing

class Round6iSpec extends SparkSpec {

  test("dd27 census bounds hold and the new-doc count recounts") {
    val r = Dedup.queries("dd27_incremental_dedup")(spark, sf).head()
    val nNew = r.getAs[Long]("n_new_docs")
    assert(r.getAs[Long]("n_new_with_cand") <= nNew)
    assert(r.getAs[Long]("n_new_dups") <= r.getAs[Long]("n_new_with_cand"))
    assert(r.getAs[Long]("n_dup_pairs") <= r.getAs[Long]("n_cand_pairs"))
    val want = Dedup.docShingles(spark, sf)
      .filter(pmod(Hashing.hash64(
        col("doc_id").cast("string")), lit(10)) === 0).count()
    assert(nNew === want)
  }

  test("dd27 candidates are exactly dd03's collisions restricted to new×old") {
    // the incremental index is a RESTRICTION of the full dd03
    // banding, never a different construction: the incremental
    // candidate set must equal dd03's collision pairs filtered to
    // one-new-one-old membership
    val full = Dedup.queries("dd03_minhash_lsh")(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def isNew(id: Long): Boolean = {
      val h = graft.functions.Hash64Expr.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$id"))
      ((h % 10) + 10) % 10 == 0
    }
    val wantPairs = full.filter { case (a, b) => isNew(a) != isNew(b) }.length
    val r = Dedup.queries("dd27_incremental_dedup")(spark, sf).head()
    assert(r.getAs[Long]("n_cand_pairs") === wantPairs.toLong)
  }
}
