package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventPipeline, TextAnalysis}
import graft.core.Tables
import graft.functions.Hashing

/** Round-5 eleventh-wave operators: banding S-curve tuner,
  * out-of-order audit, char-Gini census.
  */
class Round5kSpec extends SparkSpec {

  // --- dd21: banding S-curve tuner ---------------------------------

  test("dd21 recall is monotone in bands and replays the S-curve driver-side") {
    val got = Dedup.queries("dd21_band_scurve")(spark, sf).collect()
    assert(got.map(r => (r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band")))
      .toSeq === Dedup.Layouts)
    // every layout sees the same true-pair population
    assert(got.map(_.getAs[Long]("n_true_pairs")).distinct.length === 1)
    // more bands (fewer rows per band) never lowers expected recall
    val rec = got.map(_.getAs[Long]("recall_fx"))
    assert(rec.zip(rec.tail).forall { case (hi, lo) => hi >= lo },
      "recall is monotone: (16,1) >= (8,2) >= ... >= (1,16)")
    assert(rec.forall(r => r >= 0L && r <= 1000000L))
    // replay one layout's expected recall from the raw histogram
    val base = Dedup.docShingles(spark, sf)
      .withColumn("bucket", array_min(col("shs")))
    val a = base.select(col("bucket"), col("doc_id").as("da"), col("shs").as("sa"))
    val b = base.select(col("bucket"), col("doc_id").as("db"), col("shs").as("sb"))
    val sims = a.join(b, Seq("bucket")).filter(col("da") < col("db"))
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", (size(col("sa")) + size(col("sb"))).cast("long") - col("common"))
      .select(expr("(common * 1000000) div uni").as("sfx"))
      .collect().map(_.getAs[Long]("sfx"))
    def powFx(x: Long, e: Int): Long =
      if (e == 1) x else { val h = powFx(x, e / 2); h * h / 1000000L }
    val (bb, rr) = Dedup.Layouts(1) // (8, 2)
    val trueBins = sims.map(s => math.min(s / 50000L, 19L)).filter(_ >= Dedup.TrueBin)
    val mass = trueBins.map { bin =>
      val s1 = bin * 50000L + 25000L
      1000000L - powFx(1000000L - powFx(s1, rr), bb)
    }.sum
    val want = mass / math.max(trueBins.length, 1)
    assert(got(1).getAs[Long]("recall_fx") === want)
  }

  // --- ev35: out-of-order audit ------------------------------------

  test("ev35 inversion census matches a driver-side replay of the jitter") {
    val got = EventPipeline.queries("ev35_order_inversions")(spark, sf).collect()
    assert(got.nonEmpty)
    // disorder was actually injected somewhere
    assert(got.map(_.getAs[Long]("n_inversions")).sum > 0L,
      "the jitter injection must create real inversions to audit")
    got.foreach { r =>
      val n = r.getAs[Long]("n_pairs"); val inv = r.getAs[Long]("n_inversions")
      assert(inv <= n)
      assert(r.getAs[Long]("inv_rate_fx") === inv * 1000000L / n)
      if (inv > 0) {
        val mb = r.getAs[Long]("max_backstep_us")
        assert(mb > 0L && mb < EventPipeline.MaxJitterUs)
      }
    }
    // replay the whole census driver-side from raw events
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        Hashing.hash64(col("event_id").cast("string")).as("h"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), {
          val h = r.getAs[Long]("h"); val us = r.getAs[Long]("us")
          if (h % EventPipeline.JitterMod == 0) us - h % EventPipeline.MaxJitterUs else us
        }))
    val wantInv = raw.groupBy(_._1).values.flatMap { evs =>
      evs.sortBy(_._2).sliding(2).collect {
        case Array(p, c) if c._4 < p._4 => c._3
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("n_inversions") ===
        wantInv.getOrElse(r.getAs[String]("event_type"), 0L))
    }
  }

  // --- tx22: char-Gini census --------------------------------------

  test("tx22 per-lang census bounds hold and one doc recomputes exactly") {
    val got = TextAnalysis.queries("tx22_char_gini")(spark, sf).collect()
    val langs = Tables.documents(spark, sf).select(col("lang")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(got.map(_.getAs[String]("lang")).toSeq === langs.toSeq)
    got.foreach { r =>
      val lo = r.getAs[Long]("min_gini_fx"); val hi = r.getAs[Long]("max_gini_fx")
      val avg = r.getAs[Long]("avg_gini_fx")
      assert(lo <= avg && avg <= hi)
      assert(lo >= 0L && hi < 1000000L)
    }
    assert(got.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
    // recompute one doc's gini driver-side and check it respects the
    // lang's [min, max] envelope
    val doc = Tables.documents(spark, sf).select(col("lang"), col("text"))
      .limit(1).collect()(0)
    val cs = doc.getAs[String]("text").toSeq.groupBy(identity).values
      .map(_.size.toLong)
    val n = cs.sum; val ssq = cs.map(c => c * c).sum
    val gini = (n * n - ssq) * 1000000L / (n * n)
    val row = got.find(_.getAs[String]("lang") == doc.getAs[String]("lang")).get
    assert(gini >= row.getAs[Long]("min_gini_fx") &&
      gini <= row.getAs[Long]("max_gini_fx"))
  }
}
