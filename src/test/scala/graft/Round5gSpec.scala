package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventPipeline, Packing, TextAnalysis}
import graft.core.Tables
import graft.functions.Hashing

/** Round-5 seventh-wave operators: curation yield funnel, redelivery
  * audit, output shard manifest.
  */
class Round5gSpec extends SparkSpec {

  // --- tx20: curation-yield funnel ---------------------------------

  test("tx20 funnel is monotone and recounts the tx19 keep column") {
    val got = TextAnalysis.queries("tx20_curation_yield")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("docs_in") >= r.getAs[Long]("docs_rules"))
      assert(r.getAs[Long]("docs_rules") >= r.getAs[Long]("docs_final"))
      assert(r.getAs[Long]("tokens_in") >= r.getAs[Long]("tokens_rules"))
      assert(r.getAs[Long]("tokens_rules") >= r.getAs[Long]("tokens_final"))
      assert(r.getAs[Long]("yield_fx") ===
        r.getAs[Long]("tokens_final") * 1000000L / r.getAs[Long]("tokens_in"))
    }
    // docs_rules must equal the SHIPPED tx19 battery's keep census
    val keeps = TextAnalysis.queries("tx19_rule_filter")(spark, sf)
      .filter(col("keep"))
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("docs_rules") ===
        keeps.getOrElse(r.getAs[String]("source"), 0L))
    }
  }

  test("tx20 dedup stage keeps exactly one doc per surviving fingerprint") {
    val got = TextAnalysis.queries("tx20_curation_yield")(spark, sf).collect()
    val docsFinal = got.map(_.getAs[Long]("docs_final")).sum
    // distinct normalized fingerprints among rule-kept docs
    val kept = TextAnalysis.queries("tx19_rule_filter")(spark, sf)
      .filter(col("keep")).select(col("doc_id"))
    val nFps = Tables.documents(spark, sf)
      .join(kept, "doc_id")
      .select(Hashing.hash64(
        lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
      .distinct().count()
    assert(docsFinal === nFps,
      "one keeper per distinct fingerprint among rule survivors")
  }

  // --- ev33: redelivery audit --------------------------------------

  test("ev33 duplicate count equals the injected replay census exactly") {
    val got = EventPipeline.queries("ev33_redelivery_dedup")(spark, sf).collect()
    assert(got.nonEmpty)
    val replayed = Tables.events(spark, sf)
      .filter(pmod(Hashing.hash64(col("event_id").cast("string")),
        lit(EventPipeline.RedeliverMod)) === 0)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trueCounts = Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n_dup") === replayed.getOrElse(t, 0L),
        s"duplicates for $t must be exactly the replayed events")
      assert(r.getAs[Long]("n_unique") === trueCounts(t))
      assert(r.getAs[Long]("n_delivered") ===
        trueCounts(t) + replayed.getOrElse(t, 0L))
    }
  }

  // --- pk07: shard manifest ----------------------------------------

  test("pk07 manifest covers the corpus and balances within hash noise") {
    val got = Packing.queries("pk07_shard_manifest")(spark, sf).collect()
    assert(got.length <= Packing.ManifestShards)
    val nTotal = Tables.documents(spark, sf).count()
    val tokTotal = Tables.documents(spark, sf)
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(got.map(_.getAs[Long]("n_docs")).sum === nTotal,
      "every document lands in exactly one shard")
    assert(got.map(_.getAs[Long]("n_tokens")).sum === tokTotal,
      "token mass is conserved across shards")
    val shareSum = got.map(_.getAs[Long]("share_fx")).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - got.length)
    got.foreach { r =>
      assert(r.getAs[Long]("shard") >= 0L && r.getAs[Long]("shard") < Packing.ManifestShards)
      assert(r.getAs[Long]("n_docs") > 0L, "empty shards don't emit rows")
    }
  }
}
