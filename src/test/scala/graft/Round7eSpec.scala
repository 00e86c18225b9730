package graft

import graft.operators.{Multimodal, Packing}
import org.apache.spark.sql.functions._

class Round7eSpec extends SparkSpec {

  test("pk20 mixing falls as contexts shrink; straddle mass rises with size") {
    val rows = Packing.queries("pk20_window_doc_mixing")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("ctx")).toSeq === Packing.CtxSizes)
    // same docs under every context size
    assert(rows.map(_.getAs[Long]("n_docs")).distinct.length === 1)
    // bigger windows → fewer of them, more docs per window, fewer straddlers
    val wins = rows.map(_.getAs[Long]("n_windows"))
    assert(wins.toSeq === wins.sorted.reverse.toSeq)
    val mix = rows.map(_.getAs[Long]("avg_docs_per_window_fx"))
    assert(mix.toSeq === mix.sorted.toSeq)
    val straddle = rows.map(_.getAs[Long]("n_straddlers"))
    assert(straddle.toSeq === straddle.sorted.reverse.toSeq)
    // every window holds at least one doc on average
    assert(mix.forall(_ >= 1000000L))
  }

  test("mm14 sharing matrix is symmetric-upper and pairs are real collisions") {
    val rows = Multimodal.queries("mm14_cross_source_sharing")(spark, sf).collect()
    assert(rows.nonEmpty, "fingerprint key must produce cross-source signal")
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      assert(r.getAs[Long]("shared_payloads") >= 1L)
      assert(r.getAs[Long]("shared_bytes") >= r.getAs[Long]("shared_payloads"))
    }
  }
}
