package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, CoreAnalytics, Dedup, EventPipeline, TextAnalysis}
import graft.core.Tables

/** Round-5 fourth-wave operators: rule-based quality filtering,
  * watermark-delay sizing, spend-concentration Lorenz, payload phash
  * near-dup candidates.
  */
class Round5dSpec extends SparkSpec {

  // --- tx19: rule-based quality filter -----------------------------

  test("tx19 keep is exactly the conjunction of the four rule flags") {
    val got = TextAnalysis.queries("tx19_rule_filter")(spark, sf).cache()
    try {
      assert(got.filter(col("keep") =!=
        (col("wc_ok") && col("mwl_ok") && col("alpha_ok") && col("stop_ok")))
        .count() === 0L)
      // the battery must actually discriminate on this corpus
      val n = got.count()
      val kept = got.filter(col("keep")).count()
      assert(kept > 0L && kept < n, s"degenerate filter: $kept of $n kept")
    } finally got.unpersist()
  }

  test("tx19 per-doc stats recompute exactly on a sampled document") {
    val doc = Tables.documents(spark, sf)
      .filter(col("doc_id") === 0).select(col("text")).collect()(0).getString(0)
    val toks = doc.trim.split("\\s+").toSeq
    val row = TextAnalysis.queries("tx19_rule_filter")(spark, sf)
      .filter(col("doc_id") === 0).collect()(0)
    assert(row.getAs[Long]("n_words") === toks.length.toLong)
    assert(row.getAs[Long]("mwl_fx") ===
      toks.map(_.length).sum.toLong * 10000L / toks.length)
    assert(row.getAs[Long]("alpha_words") ===
      toks.count(_.exists(_.isLetter)).toLong)
    assert(row.getAs[Long]("stop_hits") ===
      toks.count(t => TextAnalysis.ProbeStopWords.contains(t.toLowerCase)).toLong)
  }

  // --- ev30: watermark-delay sizing audit --------------------------

  test("ev30 two-level lateness equals the direct global runmax recount") {
    val got = EventPipeline.queries("ev30_watermark_fit")(spark, sf).collect()
      .map(r => (r.getAs[Long]("delay_s"), r.getAs[Long]("n_late"))).toMap
    // direct single-window replay (fine at spec scale)
    val direct = Tables.events(spark, sf)
      .select(col("event_id"), expr("unix_micros(ts)").as("t"))
      .withColumn("wm", max(col("t")).over(Window.orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("late_us", col("wm") - col("t"))
    EventPipeline.WmDelaysS.foreach { ds =>
      val expect = direct.filter(col("late_us") > ds * 1000000L).count()
      assert(got(ds) === expect, s"delay ${ds}s")
    }
  }

  test("ev30 drop count is monotone non-increasing in the delay") {
    val rows = EventPipeline.queries("ev30_watermark_fit")(spark, sf).collect()
    assert(rows.length === EventPipeline.WmDelaysS.length)
    val byDelay = rows.sortBy(_.getAs[Long]("delay_s")).map(_.getAs[Long]("n_late"))
    byDelay.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    val n = rows.map(_.getAs[Long]("n_events")).distinct
    assert(n.length === 1, "every delay row must price the same event census")
  }

  // --- q40: spend-concentration Lorenz curve -----------------------

  test("q40 tiles every ordering customer once and the curve closes at 1") {
    val got = CoreAnalytics.queries("q40_spend_lorenz")(spark, sf).collect()
    assert(got.length === 10)
    val nCust = Tables.orders(spark, sf).select(col("o_custkey")).distinct().count()
    assert(got.map(_.getAs[Long]("n_customers")).sum === nCust)
    val last = got.maxBy(_.getAs[Int]("decile"))
    assert(last.getAs[Long]("cum_share_fx") === 1000000L)
    // cum_cents is the running sum of decile_cents
    var run = 0L
    got.sortBy(_.getAs[Int]("decile")).foreach { r =>
      run += r.getAs[Long]("decile_cents")
      assert(r.getAs[Long]("cum_cents") === run)
    }
  }

  test("q40 deciles order by spend: later deciles never hold poorer customers") {
    // ascending NTILE ⇒ the max spend inside decile k is ≤ the min
    // spend inside decile k+1 (ties broken by custkey can straddle,
    // so compare strictly via per-decile mins/maxes of cents)
    val spend = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
    val dec = graft.operators.Rank.ntileExact(
      spend, 10, "decile", col("cents"), Seq(col("o_custkey")))
      .groupBy(col("decile"))
      .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      .collect().sortBy(_.getAs[Int]("decile"))
    dec.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
        "decile spend ranges must not invert")
    }
  }

  // --- dd18: fuzzy decontamination ---------------------------------

  test("dd18 census covers every train doc and rates stay consistent") {
    val got = Dedup.queries("dd18_fuzzy_contamination")(spark, sf).collect()
    val evalOf = Tables.documents(spark, sf)
      .withColumn("is_eval",
        graft.functions.Hashing.hash64(col("doc_id").cast("string")) % 20 === 0)
    val nTrain = evalOf.filter(!col("is_eval")).count()
    assert(got.map(_.getAs[Long]("n_train_docs")).sum === nTrain)
    got.foreach { r =>
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_train_docs"))
      val mx = r.getAs[Long]("max_j_fx")
      assert(mx >= 0L && mx <= 1000000L)
      if (r.getAs[Long]("n_flagged") === 0L) assert(mx === 0L)
      else assert(mx >= Dedup.FuzzyJfx)
    }
  }

  test("dd18 is sound: every flagged doc truly clears the Jaccard bar (quadratic recount)") {
    // truth: all cross-split shingle Jaccards, no banding (fine at spec scale)
    val docs = Tables.documents(spark, sf)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .withColumn("is_eval",
        graft.functions.Hashing.hash64(col("doc_id").cast("string")) % 20 === 0)
      .select(col("doc_id"), col("is_eval"),
        graft.operators.Dedup.shingleHashes(col("toks")).as("shs"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_eval"),
        r.getAs[collection.Seq[Long]]("shs").toSet))
    val evalDocs = docs.filter(_._2)
    val bestJ = docs.filterNot(_._2).map { case (id, _, shs) =>
      val best = evalDocs.map { case (_, _, e) =>
        if (shs.union(e).isEmpty) 0L
        else shs.intersect(e).size.toLong * 1000000L / shs.union(e).size
      }.maxOption.getOrElse(0L)
      id -> best
    }.toMap
    val nTrueHits = bestJ.count(_._2 >= Dedup.FuzzyJfx)
    val got = Dedup.queries("dd18_fuzzy_contamination")(spark, sf).collect()
    val flagged = got.map(_.getAs[Long]("n_flagged")).sum
    assert(flagged <= nTrueHits, "banding must never invent a hit")
    // reported maxima must match a true pair's Jaccard
    got.filter(_.getAs[Long]("n_flagged") > 0).foreach { r =>
      assert(bestJ.values.toSet.contains(r.getAs[Long]("max_j_fx")),
        s"max_j_fx ${r.getAs[Long]("max_j_fx")} matches no true pair")
    }
  }

  // --- mm07: payload phash near-dup candidates ---------------------

  test("mm07 stripePhash is deterministic and position-sensitive") {
    import spark.implicits._
    val media = Seq(
      (0L, "text/plain", "the quick brown fox jumps over the lazy dog".getBytes, 43L, "a"),
      (1L, "text/plain", "the quick brown fox jumps over the lazy dog".getBytes, 43L, "a"),
      (2L, "text/plain", "dog lazy the over jumps fox brown quick the".getBytes, 43L, "a"))
      .toDF("media_id", "media_type", "payload", "byte_len", "source")
    val codes = Multimodal.stripePhash(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(codes(0L) === codes(1L), "identical payloads must collide exactly")
    assert(codes(0L) !== codes(2L), "permuted payload must differ")
    assert((0 until Multimodal.PhashStripes).forall { s =>
      ((codes(0L) >> (4 * s)) & 15L) >= 0L
    })
  }

  test("mm07 audit rows are band collisions with exact hamming and a consistent flag") {
    val got = Multimodal.queries("mm07_phash_neardup")(spark, sf).cache()
    try {
      assert(got.filter(col("media_a") >= col("media_b")).count() === 0L)
      assert(got.filter(col("is_dup") =!= (col("hamming") <= 3)).count() === 0L)
      // every reported pair genuinely shares a band value
      val ascii = Tables.documents(spark, sf)
        .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      val codes = Multimodal.stripePhash(Multimodal.asMedia(ascii)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      got.collect().foreach { r =>
        val (a, b) = (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))
        val shared = (0 until Multimodal.PhashBands).exists { band =>
          ((codes(a) >> (band * Multimodal.PhashBandBits)) & Multimodal.PhashBandMask) ==
            ((codes(b) >> (band * Multimodal.PhashBandBits)) & Multimodal.PhashBandMask)
        }
        assert(shared, s"pair ($a,$b) shares no band")
        assert(r.getAs[Long]("hamming") ===
          java.lang.Long.bitCount(codes(a) ^ codes(b)).toLong)
      }
    } finally got.unpersist()
  }
}
