package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventPipeline, Similarity}
import graft.core.Tables

/** Round-5 fourteenth-wave operators: streaming bursts, dim stats. */
class Round5nSpec extends SparkSpec {

  // --- ev38: streaming burst twin ----------------------------------

  test("ev38 streamed burst census equals the batch ev37 census") {
    val streamed = EventPipeline.queries("ev38_stream_bursts")(spark, sf).collect()
    val batch = EventPipeline.queries("ev37_burst_minutes")(spark, sf).collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "the lambda halves must agree cell-for-cell")
    assert(streamed.nonEmpty)
  }

  // --- ss18: per-dimension moments ---------------------------------

  test("ss18 covers every dimension with full counts and sane moments") {
    val got = Similarity.queries("ss18_dim_stats")(spark, sf).collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    val dims = Tables.embeddings(spark, sf)
      .select(size(col("embedding"))).distinct().collect().map(_.getInt(0))
    assert(dims.length === 1, "fixed-width embeddings")
    assert(got.length === dims(0))
    assert(got.map(_.getAs[Int]("pos")).toSeq === (0 until dims(0)))
    got.foreach { r =>
      assert(r.getAs[Long]("n_vals") === nVecs)
      assert(r.getAs[Long]("min_fx") <= r.getAs[Long]("mean_fx"))
      assert(r.getAs[Long]("mean_fx") <= r.getAs[Long]("max_fx"))
      assert(r.getAs[Double]("var4") >= 0.0)
    }
  }

  test("ss18 one dimension's moments replay driver-side") {
    val got = Similarity.queries("ss18_dim_stats")(spark, sf).collect()
    val vs = Tables.embeddings(spark, sf)
      .select(element_at(col("embedding").cast("array<double>"), 1).as("v"))
      .collect().map(r => math.floor(r.getAs[Double]("v") * 1000000.0).toLong)
    val r0 = got(0)
    assert(r0.getAs[Long]("min_fx") === vs.min)
    assert(r0.getAs[Long]("max_fx") === vs.max)
    assert(r0.getAs[Long]("mean_fx") ===
      math.floor(vs.sum.toDouble / vs.length).toLong)
    val mean = vs.sum.toDouble / vs.length
    val varFull = vs.map(v => v.toDouble * v).sum / vs.length - mean * mean
    assert(r0.getAs[Double]("var4") === math.floor(varFull / 1e12 * 10000) / 10000)
  }
}
