package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline, Packing, TextAnalysis}
import graft.core.Tables

/** Round-6 first-wave operators: new-vs-returning accounting, exact
  * grouped quartiles, PII census, split manifest.
  */
class Round6Spec extends SparkSpec {

  test("ev41 conserves events, splits actives, and opens all-new") {
    val got = EventPipeline.queries("ev41_new_returning")(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.map(_.getAs[Long]("n_events")).sum ===
      Tables.events(spark, sf).count())
    // actives split exactly into new + returning
    got.foreach { r =>
      assert(r.getAs[Long]("n_new") + r.getAs[Long]("n_returning") ===
        r.getAs[Long]("n_active"))
    }
    // the first day of data has no possible returners
    val first = got.minBy(_.getAs[Long]("day"))
    assert(first.getAs[Long]("n_returning") === 0L)
    // every user is new exactly once
    assert(got.map(_.getAs[Long]("n_new")).sum ===
      Tables.events(spark, sf).select(col("user_id")).distinct().count())
  }

  test("q46 quartiles are ordered, in-domain, and match a naive replay") {
    val got = CoreAnalytics.queries("q46_grouped_quartiles")(spark, sf).collect()
    assert(got.length === 3) // R, N, A
    got.foreach { r =>
      assert(r.getAs[Long]("p25") <= r.getAs[Long]("p50"))
      assert(r.getAs[Long]("p50") <= r.getAs[Long]("p75"))
    }
    // replay one group naively: sort the values, index at ceil(p*n)
    val vals = Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "R")
      .select(floor(col("l_quantity")).cast("long")).collect()
      .map(_.getLong(0)).sorted
    val n = vals.length
    def at(num: Long, den: Long): Long = vals(((num + den - 1) / den).toInt - 1)
    val r = got.find(_.getAs[String]("flag") == "R").get
    assert(r.getAs[Long]("n_rows") === n.toLong)
    assert(r.getAs[Long]("p25") === at(n.toLong, 4))
    assert(r.getAs[Long]("p50") === at(n.toLong, 2))
    assert(r.getAs[Long]("p75") === at(3L * n, 4))
  }

  test("tx24 census bounds hold and a java-regex replay agrees") {
    val got = TextAnalysis.queries("tx24_pii_census")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("docs_with_pii") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("redact_share_fx") >= 0L)
      assert(r.getAs[Long]("redact_share_fx") <= 1000000L)
    }
    // third-engine replay of the digit-run count for one source
    val src = got.head.getAs[String]("source")
    val p = java.util.regex.Pattern.compile("[0-9]{6,}")
    val want = Tables.documents(spark, sf).filter(col("source") === src)
      .select(col("text")).collect().map { row =>
        val m = p.matcher(row.getString(0)); var c = 0L
        while (m.find()) c += 1
        c
      }.sum
    assert(got.head.getAs[Long]("digit_hits") === want)
  }

  test("pk12 splits partition the corpus deterministically with sane shares") {
    val got = Packing.queries("pk12_split_manifest")(spark, sf).collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
    // shares within each split sum to ~1 (floor division loses <1e-6 per source)
    got.groupBy(_.getAs[String]("split")).foreach { case (_, rows) =>
      val s = rows.map(_.getAs[Long]("source_share_fx")).sum
      assert(s <= 1000000L && s > 1000000L - rows.length)
    }
    // train dominates: the 96/2/2 split must hold roughly per source
    val bySplit = got.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit("train") > 10L * bySplit.getOrElse("val", 0L).max(1L) / 2L)
    // deterministic: a second run is bit-identical
    val again = Packing.queries("pk12_split_manifest")(spark, sf).collect()
    assert(got.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }
}
