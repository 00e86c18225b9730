package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventPipeline}
import graft.core.Tables

/** Round-5 eighteenth-wave operators: mix drift, threshold sweep. */
class Round5rSpec extends SparkSpec {

  // --- ev40: day-over-day mix drift --------------------------------

  test("ev40 drift is bounded and one day pair replays driver-side") {
    val got = EventPipeline.queries("ev40_mix_drift")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val drift = r.getAs[Long]("drift_fx")
      assert(drift >= 0L && drift <= 2000000L, "L1 distance of two share vectors")
      assert(r.getAs[Long]("n_types_both") >= 1L)
    }
    // replay one day pair from raw events
    val cells = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
      .collect().map(r => (r.getAs[Long]("day"), r.getAs[String]("event_type")))
    def shares(day: Long): Map[String, Long] = {
      val c = cells.filter(_._1 == day).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val tot = c.values.sum
      c.view.mapValues(n => n * 1000000L / tot).toMap
    }
    val d0 = got(0).getAs[Long]("day")
    val (s0, s1) = (shares(d0), shares(d0 + 1))
    val want = (s0.keySet ++ s1.keySet).toSeq
      .map(t => math.abs(s0.getOrElse(t, 0L) - s1.getOrElse(t, 0L))).sum
    assert(got(0).getAs[Long]("drift_fx") === want)
  }

  // --- dd24: threshold sweep ---------------------------------------

  test("dd24 curve is monotone and anchors to dd02 at the 0.2 threshold") {
    val got = Dedup.queries("dd24_threshold_sweep")(spark, sf).collect()
    assert(got.nonEmpty)
    val byThr = got.map(r => r.getAs[Long]("thr_fx") -> r.getAs[Long]("n_pairs"))
    assert(byThr.map(_._1).toSeq === byThr.map(_._1).sorted.toSeq)
    // raising the threshold never admits more pairs
    val ns = byThr.map(_._2)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    assert(got.map(_.getAs[Long]("n_cands")).distinct.length === 1)
    // the 0.2 row counts exactly dd02's emitted pairs (same machinery,
    // dd02 filters jaccard >= 0.2)
    byThr.find(_._1 == 200000L).foreach { case (_, n) =>
      val dd02 = Dedup.queries("dd02_ngram_jaccard")(spark, sf).count()
      assert(n === dd02)
    }
    got.foreach { r =>
      assert(r.getAs[Long]("admit_fx") === r.getAs[Long]("n_pairs") *
        1000000L / r.getAs[Long]("n_cands"))
    }
  }
}
