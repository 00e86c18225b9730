package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.core.Tables

class Round6uSpec extends SparkSpec {

  test("mm11 frame sampling is conserved and the sample ratio is exact") {
    val rows = Multimodal.queries("mm11_frame_sample")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tf = r.getAs[Long]("total_frames")
      val sf0 = r.getAs[Long]("sampled_frames")
      // sampled = per-item ceil(frames/4): bounded by [tf/4, tf/4 + n_items]
      assert(sf0 >= tf / 4 && sf0 <= tf / 4 + r.getAs[Long]("n_items"), s"$tf $sf0")
      // sampled bytes never exceed 32 bytes per sampled frame
      assert(r.getAs[Long]("sampled_bytes") <= sf0 * 32L)
      assert(r.getAs[String]("min_digest").length === 32)
    }
    // items = the ASCII non-empty subset, conserved
    val want = Tables.documents(spark, sf)
      .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      .count()
    assert(rows.map(_.getAs[Long]("n_items")).sum === want)
  }
}
