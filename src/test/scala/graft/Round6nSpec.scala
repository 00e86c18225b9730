package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventPipeline, Multimodal, Packing, Similarity}
import graft.core.Tables

class Round6nSpec extends SparkSpec {

  test("ev50 durable upsert store lands on ev22's batch census") {
    val got = EventPipeline.queries("ev50_stream_upsert_sink")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6)))
    val want = EventPipeline.queries("ev22_cdc_upsert")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6)))
    assert(got.toSeq === want.toSeq)
  }

  test("pk15 closed-form boundary count equals a brute-force recount") {
    // the operator's arithmetic, replayed in plain Scala against the
    // O(a*b) definition across the clamp regimes
    def closed(a: Long, b: Long, w: Long): Long = {
      val capA = math.min(a, w - 1)
      val tc = math.max(0L, math.min(w - b, capA))
      tc * b + (capA - tc) * w - (capA * (capA + 1) - tc * (tc + 1)) / 2
    }
    def brute(a: Long, b: Long, w: Long): Long =
      (1L to a).map(u => (1L to b).count(v => u + v <= w).toLong).sum
    val rnd = new scala.util.Random(7)
    (1 to 300).foreach { _ =>
      val a = rnd.nextInt(150) + 1L
      val b = rnd.nextInt(150) + 1L
      val w = Seq(2L, 5L, 64L)(rnd.nextInt(3))
      assert(closed(a, b, w) === brute(a, b, w), s"a=$a b=$b w=$w")
    }
  }

  test("pk15 census is conserved: cross pairs never exceed total pairs") {
    val rows = Packing.queries("pk15_boundary_window")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("cross_pairs") <= r.getAs[Long]("total_pairs"))
      assert(r.getAs[Long]("cross_share_fx") <= 1000000L)
      // every pack with >1 doc contributes boundaries; packs are
      // bounded below by docs/packs consistency
      assert(r.getAs[Long]("n_packs") > 0)
    }
  }

  test("ss24 fanout is bounded by candidates and the shard count") {
    val rows = Similarity.queries("ss24_shard_fanout")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val cand = r.getAs[Long]("n_candidates")
      val sh = r.getAs[Long]("n_shards")
      assert(sh <= math.min(cand max 0L, 8L))
      if (cand === 0L) assert(sh === 0L)
      assert(r.getAs[Long]("fanout_fx") === sh * 1000000L / 8L)
    }
  }

  test("mm10 modality balance conserves corpus bytes") {
    val rows = Multimodal.queries("mm10_modality_balance")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("total_bytes")).sum
    val want = Tables.documents(spark, sf)
      .agg(sum(octet_length(col("text")))).head.getLong(0)
    assert(total === want)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_shards") <= 16L)
      assert(r.getAs[Long]("min_shard_bytes") <= r.getAs[Long]("max_shard_bytes"))
      assert(r.getAs[Long]("imbalance_fx") <= 1000000L)
    }
  }
}
