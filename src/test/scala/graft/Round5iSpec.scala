package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Packing, Similarity}
import graft.core.Tables
import graft.functions.Hashing

/** Round-5 ninth-wave operators: epoch shuffle, quantization bit
  * sweep, hot-shingle audit.
  */
class Round5iSpec extends SparkSpec {

  // --- pk08: epoch shuffle -----------------------------------------

  test("pk08 is a permutation per epoch with contiguous shard-local positions") {
    val got = Packing.queries("pk08_epoch_shuffle")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(got.length === nDocs * Packing.Epochs.length)
    // every (epoch, doc) exactly once
    assert(got.map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("doc_id")))
      .distinct.length === got.length)
    // positions tile 1..n within each (epoch, shard)
    got.groupBy(r => (r.getAs[Int]("epoch"), r.getAs[Long]("shard")))
      .foreach { case (_, rows) =>
        val ps = rows.map(_.getAs[Long]("pos")).sorted
        assert(ps.sameElements(1L to rows.length.toLong))
      }
  }

  test("pk08 epochs permute independently and the hash replays driver-side") {
    val got = Packing.queries("pk08_epoch_shuffle")(spark, sf).collect()
    // the two epoch orderings differ (an identical permutation would
    // mean the seed never reached the hash)
    val byEpoch = got.groupBy(_.getAs[Int]("epoch")).view
      .mapValues(_.sortBy(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos")))
        .map(_.getAs[Long]("doc_id")).toSeq).toMap
    assert(byEpoch(Packing.Epochs(0)) !== byEpoch(Packing.Epochs(1)))
    // replay one doc's shard assignment through the hash definition
    import spark.implicits._
    val doc = got(0).getAs[Long]("doc_id")
    val epoch = got(0).getAs[Int]("epoch")
    val h = spark.range(1).select(Hashing.hash64(
      concat_ws("|", lit(epoch.toString), lit(doc.toString)))).as[Long].collect()(0)
    assert(got(0).getAs[Long]("shard") ===
      ((h % Packing.ShuffleShards) + Packing.ShuffleShards) % Packing.ShuffleShards)
  }

  // --- ss15: quantization bit sweep --------------------------------

  test("ss15 reconstruction quality is monotone in bit width") {
    val got = Similarity.queries("ss15_quant_bits_sweep")(spark, sf).collect()
    assert(got.map(_.getAs[Int]("bits")).toSeq === Similarity.SweepBits)
    val n = got.map(_.getAs[Long]("n_vecs")).distinct
    assert(n.length === 1 && n(0) === Tables.embeddings(spark, sf).count())
    val cos = got.map(_.getAs[Double]("avg_recon_cos"))
    val err = got.map(_.getAs[Double]("max_abs_err"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a <= b },
      "more bits never reconstructs worse on average")
    assert(err.zip(err.tail).forall { case (a, b) => a >= b },
      "more bits never increases the worst per-dim error")
    assert(cos.forall(c => c <= 1.0 && c > 0.0))
    assert(got.last.getAs[Double]("avg_recon_cos") > 0.999,
      "8-bit reconstruction is near-exact")
  }

  // --- dd20: hot-shingle audit -------------------------------------

  test("dd20 head shingle recounts directly and shares bound the mass") {
    val got = Dedup.queries("dd20_hot_shingles")(spark, sf).collect()
    assert(got.nonEmpty && got.length <= Dedup.HotTopK)
    val dfs = got.map(_.getAs[Long]("df"))
    assert(dfs.sameElements(dfs.sortBy(-_)), "ordered by document frequency")
    got.foreach { r =>
      val df = r.getAs[Long]("df")
      assert(r.getAs[Long]("pairs") === df * (df - 1) / 2)
    }
    assert(got.map(_.getAs[Long]("share_fx")).sum <= 1000000L)
    // direct recount of the hottest shingle's document frequency
    val head = got(0)
    val n = Dedup.docShingles(spark, sf)
      .select(explode(col("shs")).as("sh"))
      .filter(col("sh") === head.getAs[Long]("sh")).count()
    assert(n === head.getAs[Long]("df"))
  }
}
