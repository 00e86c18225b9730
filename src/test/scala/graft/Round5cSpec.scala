package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Packing, Similarity, TextAnalysis}
import graft.core.Tables

/** Round-5 third-wave operators: rolling MAU, RRF fusion, pack plan,
  * vocabulary growth.
  */
class Round5cSpec extends SparkSpec {

  // --- q39: rolling 7-day active users -----------------------------

  test("q39 mau7 equals a direct trailing-window distinct recount") {
    val got = CoreAnalytics.queries("q39_rolling_mau")(spark, sf)
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    // direct (quadratic) recount: for each output day, distinct users
    // with activity in (day-6, day]
    val days = got.select(col("day"), col("dau"), col("mau7")).collect()
    val pairs = ud.collect().map(r => (r.getLong(0), r.getLong(1)))
    days.foreach { r =>
      val d = r.getLong(0)
      val expectMau = pairs.filter(p => p._2 <= d && p._2 > d - CoreAnalytics.MauDays)
        .map(_._1).distinct.length.toLong
      val expectDau = pairs.filter(_._2 == d).map(_._1).distinct.length.toLong
      assert(r.getLong(2) === expectMau, s"mau7 mismatch on day $d")
      assert(r.getLong(1) === expectDau, s"dau mismatch on day $d")
    }
  }

  test("q39 invariants: dau <= mau7, mau7 monotone vs dau sum bound, no phantom tail") {
    val got = CoreAnalytics.queries("q39_rolling_mau")(spark, sf).cache()
    try {
      assert(got.filter(col("dau") > col("mau7")).count() === 0L)
      val maxEventDay = Tables.events(spark, sf)
        .agg(max(expr("unix_micros(ts) div 86400000000"))).collect()(0).getLong(0)
      assert(got.agg(max(col("day"))).collect()(0).getLong(0) === maxEventDay,
        "window tail must stop at the last observed day")
    } finally got.unpersist()
  }

  // --- ss13: reciprocal-rank fusion --------------------------------

  test("ss13 fuses both arms: scores decompose into the two rank terms") {
    val got = Similarity.queries("ss13_rank_fusion")(spark, sf).collect()
    assert(got.length === 10)
    got.foreach { r =>
      val rc = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val rd = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(rc.isDefined || rd.isDefined, "a fused row must appear in >=1 arm")
      val expect = rc.map(x => 1000000L / (Similarity.RrfC + x)).getOrElse(0L) +
        rd.map(x => 1000000L / (Similarity.RrfC + x)).getOrElse(0L)
      assert(r.getLong(3) === expect, "rrf_fx must equal the closed-form sum")
    }
    // descending, tie-broken by vec_id
    val scores = got.map(r => (r.getLong(3), r.getLong(0)))
    assert(scores.sameElements(scores.sortBy(p => (-p._1, p._2))))
  }

  test("ss13 a vector ranked 1 in both arms dominates the fusion") {
    val got = Similarity.queries("ss13_rank_fusion")(spark, sf).collect()
    val top = got.head
    // the top fused score is bounded by the both-arms-rank-1 maximum
    assert(top.getLong(3) <= 2 * (1000000L / (Similarity.RrfC + 1)))
  }

  // --- pk05: pack plan ---------------------------------------------

  test("pk05 conserves documents and tokens per shard") {
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ntok"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("ntok")).as("toks"))
    val plan = Packing.queries("pk05_pack_plan")(spark, sf)
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_docs")).as("pn"), sum(col("bin_tokens")).as("ptoks"))
    val bad = docs.join(plan, Seq("lang", "source"))
      .filter(col("n") =!= col("pn") || col("toks") =!= col("ptoks")).count()
    assert(bad === 0L, "packing must assign every doc exactly once")
  }

  test("pk05 bins respect the budget geometry: tokens < budget + max doc") {
    val plan = Packing.queries("pk05_pack_plan")(spark, sf)
    val bad = plan.filter(
      col("bin_tokens") >= lit(Packing.BinBudget) + col("max_doc_tokens")).count()
    assert(bad === 0L,
      "next-fit-on-sorted-order bins exceed budget by less than one document")
    // bin ids are dense from 0 per shard
    val dense = plan.groupBy(col("lang"), col("source"))
      .agg(min(col("bin_id")).as("lo"), max(col("bin_id")).as("hi"),
        count(lit(1)).as("n"))
      .filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1).count()
    assert(dense === 0L, "bin ids must be dense 0..n-1 per shard")
  }

  // --- tx18: vocabulary growth -------------------------------------

  test("tx18 counts are internally consistent") {
    val got = TextAnalysis.queries("tx18_vocab_growth")(spark, sf).cache()
    try {
      assert(got.filter(col("hapax") > col("vocab")).count() === 0L)
      assert(got.filter(col("vocab") > col("tokens")).count() === 0L)
      assert(got.filter(col("ttr") < 0 || col("ttr") > 1).count() === 0L)
      // hand-recount one source
      val src = got.select(col("source")).first().getString(0)
      val toks = Tables.documents(spark, sf).filter(col("source") === src)
        .select(explode(split(trim(col("text")), "\\s+")).as("t"))
        .collect().map(_.getString(0))
      val byTok = toks.groupBy(identity).map { case (_, v) => v.length }
      val row = got.filter(col("source") === src).collect()(0)
      assert(row.getLong(1) === byTok.size.toLong, "vocab")
      assert(row.getLong(2) === toks.length.toLong, "tokens")
      assert(row.getLong(3) === byTok.count(_ == 1).toLong, "hapax")
    } finally got.unpersist()
  }
}
