package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class Round7dSpec extends SparkSpec {

  test("dd39 octave census conserves pairs and shares") {
    val rows = Dedup.queries("dd39_dup_distance_octaves")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val o = r.getAs[Int]("octave")
      val (lo, hi) = (r.getAs[Long]("min_dist"), r.getAs[Long]("max_dist"))
      // octave k holds distances in [2^k, 2^(k+1))
      assert(lo >= (1L << o) && hi < (1L << (o + 1)),
        s"octave $o bounds violated: [$lo, $hi]")
      assert(lo <= hi)
    }
    val shares = rows.map(_.getAs[Long]("share_fx"))
    assert(math.abs(shares.sum - 1000000L) <= rows.length.toLong)
  }

  test("tx36 per-language quantiles are ordered and cover all non-empty docs") {
    val rows = TextAnalysis.queries("tx36_len_quantiles_by_lang")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90, p99, mx) = (r.getAs[Long]("p50_toks"), r.getAs[Long]("p90_toks"),
        r.getAs[Long]("p99_toks"), r.getAs[Long]("max_toks"))
      assert(0L < p50 && p50 <= p90 && p90 <= p99 && p99 <= mx)
    }
    val total = graft.core.Tables.documents(spark, sf)
      .filter(size(split(trim(col("text")), "\\s+")) > 0).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
  }
}
