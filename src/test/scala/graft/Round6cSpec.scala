package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}
import graft.core.Tables

class Round6cSpec extends SparkSpec {

  test("dd26 locality census bounds and duplicate mass agree with a direct recount") {
    val r = Dedup.queries("dd26_shard_dup_locality")(spark, sf).head()
    val dupGroups = r.getAs[Long]("dup_groups")
    val dupDocs = r.getAs[Long]("dup_docs")
    assert(r.getAs[Long]("local_groups") <= dupGroups)
    assert(r.getAs[Long]("cross_docs") <= dupDocs)
    // direct recount of duplicate groups on the same fingerprint
    val want = Tables.documents(spark, sf)
      .select(graft.functions.Hashing.hash64(
        lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
      .groupBy(col("fp")).count().filter(col("count") > 1)
    assert(want.count() === dupGroups)
    assert(want.agg(coalesce(sum(col("count")), lit(0L))).head.getLong(0) === dupDocs)
  }

  test("tx25 normalization levels are monotone and conserve the corpus") {
    val got = TextAnalysis.queries("tx25_norm_dedup_sweep")(spark, sf).collect()
    assert(got.map(_.getAs[String]("level")).toSeq ===
      Seq("1_raw", "2_lower", "3_ws", "4_alnum"))
    val total = Tables.documents(spark, sf).count()
    got.foreach { r =>
      // every doc is either a distinct survivor or removable
      assert(r.getAs[Long]("n_distinct") + r.getAs[Long]("removable_docs") === total)
    }
    // coarser canonical forms can only merge groups, never split them
    val distincts = got.map(_.getAs[Long]("n_distinct"))
    assert(distincts.sliding(2).forall(p => p(0) >= p(1)),
      s"n_distinct not monotone: ${distincts.toSeq}")
  }
}
