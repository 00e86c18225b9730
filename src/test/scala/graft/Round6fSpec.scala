package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, TextAnalysis}

/** tx27 / mm09 — plus dup-path coverage the driver corpus cannot
  * give (this round's testdata has zero exact-duplicate texts), via
  * a crafted documents.parquet in a temp table dir.
  */
class Round6fSpec extends SparkSpec {

  /** A documents table with known duplicate structure: doc 1/2/3
    * share text A (keeper 1), docs 4/5 share text B (keeper 4),
    * docs 6..9 unique.
    */
  private lazy val dupDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dup-docs").toString
    val a = "the quick brown fox jumps high"
    val b = "a completely different document text"
    Seq(
      (1L, a, "en", "web", a.length.toLong),
      (2L, a, "en", "web", a.length.toLong),
      (3L, "  The   quick brown fox jumps high ", "en", "news", 30L),
      (4L, b, "en", "web", b.length.toLong),
      (5L, b, "en", "news", b.length.toLong),
      (6L, "unique text one of several here", "en", "web", 31L),
      (7L, "unique text two with more words in it", "en", "web", 37L),
      (8L, "another unique document body text", "en", "news", 33L),
      (9L, "the final unique document in the fixture", "en", "web", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("tx27 splits roles correctly on a corpus with real duplicates") {
    val got = TextAnalysis.queries("tx27_dup_quality")(spark, dupDir).collect()
      .map(r => r.getAs[String]("role") -> r.getAs[Long]("n_docs")).toMap
    // group A = {1,2,3} (whitespace/case-normalized), group B = {4,5}
    assert(got === Map("dup_keeper" -> 2L, "dup_removed" -> 3L, "singleton" -> 4L))
  }

  test("tx27 on the driver corpus is all-singleton and conserves docs") {
    val got = TextAnalysis.queries("tx27_dup_quality")(spark, sf).collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum ===
      graft.core.Tables.documents(spark, sf).count())
    got.foreach { r =>
      assert(r.getAs[Long]("min_q4") <= r.getAs[Long]("max_q4"))
    }
  }

  test("dd26 counts cross-shard duplicate groups on the crafted corpus") {
    val r = Dedup.queries("dd26_shard_dup_locality")(spark, dupDir).head()
    assert(r.getAs[Long]("dup_groups") === 2L)
    assert(r.getAs[Long]("dup_docs") === 5L)
    assert(r.getAs[Long]("local_groups") + (
      if (r.getAs[Long]("cross_docs") > 0) 1L else 0L) >= 1L)
  }

  test("mm09 CAS ledger books duplicate bytes as savable") {
    val got = Multimodal.queries("mm09_cas_dedup")(spark, dupDir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_items"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("savable_bytes"))).toMap
    // web: docs 1,2 share a payload (raw md5 — doc 3 differs raw)
    val (webItems, webDistinct, webSavable) = got("web")
    assert(webItems === 6L && webDistinct === 5L)
    assert(webSavable === "the quick brown fox jumps high".length.toLong)
    // every source: items >= distinct, savable = stored - distinct bytes
    got.values.foreach { case (n, dist, sav) =>
      assert(n >= dist); assert(sav >= 0L)
    }
  }
}
