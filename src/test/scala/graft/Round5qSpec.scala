package graft

import org.apache.spark.sql.functions._
import graft.operators.{Packing, TextAnalysis}
import graft.core.Tables
import graft.functions.Hashing

/** Round-5 seventeenth wave: the curate→dedup→pack e2e manifest. */
class Round5qSpec extends SparkSpec {

  test("pk11 stage counts agree with the shipped stages it chains") {
    val got = Packing.queries("pk11_curate_pack_e2e")(spark, sf).collect()
    assert(got.nonEmpty)
    // docs_final totals must equal tx20's per-source docs_final total
    // (same rules, same fingerprint keeper — different census key)
    val tx20Final = graft.operators.TextAnalysis.queries("tx20_curation_yield")(spark, sf)
      .agg(sum(col("docs_final"))).collect()(0).getLong(0)
    assert(got.map(_.getAs[Long]("docs_final")).sum === tx20Final)
    got.foreach { r =>
      val packs = r.getAs[Long]("n_packs")
      val toks = r.getAs[Long]("tokens_final")
      assert(packs >= 1L)
      // each pack holds at least one doc; the packer never creates
      // more packs than docs
      assert(packs <= r.getAs[Long]("docs_final"))
      assert(r.getAs[Long]("fill_fx") ===
        toks * 1000000L / (packs * Packing.PackBudget))
    }
  }

  test("pk11 packing replays driver-side for one lang") {
    val fl = TextAnalysis.ruleFlags(Tables.documents(spark, sf))
      .withColumn("fp", Hashing.hash64(
        lower(regexp_replace(trim(col("text")), "\\s+", " "))))
      .select(col("doc_id"), col("lang"), col("n_words"), col("keep"), col("fp"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_words"), r.getAs[Boolean]("keep"), r.getAs[Long]("fp")))
    val keeperIds = fl.filter(_._4).groupBy(_._5).values
      .map(_.minBy(_._1)._1).toSet
    val finals = fl.filter(r => r._4 && keeperIds(r._1))
    val lang0 = finals.head._2
    val docs = finals.filter(_._2 == lang0).sortBy(_._1)
    // pack of doc k = floor(cum-before-k / budget); replay the walk
    var cum = 0L; var packs = Set.empty[Long]
    docs.foreach { dcc =>
      packs += (cum / Packing.PackBudget); cum += dcc._3
    }
    val got = Packing.queries("pk11_curate_pack_e2e")(spark, sf).collect()
      .find(_.getAs[String]("lang") == lang0).get
    assert(got.getAs[Long]("docs_final") === docs.length.toLong)
    assert(got.getAs[Long]("tokens_final") === docs.map(_._3).sum)
    assert(got.getAs[Long]("n_packs") === packs.max + 1)
  }
}
