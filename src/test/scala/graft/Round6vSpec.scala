package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventPipeline}
import graft.core.Tables

class Round6vSpec extends SparkSpec {

  test("ev54 fences exactly the injected zombies that regress below the high-water mark") {
    val r = EventPipeline.queries("ev54_producer_fencing")(spark, sf).head()
    assert(r.getAs[Long]("n_records") === Tables.events(spark, sf).count())
    // every fenced record is one of the injected every-97th
    // regressions (the fence can only catch records whose effective
    // epoch dropped below something already seen)
    val injected = Tables.events(spark, sf)
      .filter(pmod(col("event_id"), lit(97)) === 0).count()
    val fenced = r.getAs[Long]("n_fenced")
    assert(fenced <= injected)
    assert(fenced > 0, "no zombie was fenced — injection or fence is broken")
    assert(r.getAs[Long]("producers_fenced") <= 16L)
  }

  test("dd31 shingle vocabulary grows and repetition falls as n grows") {
    val rows = Dedup.queries("dd31_shingle_size_sweep")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("n")).toSeq === Seq(2, 3, 5, 8))
    rows.foreach { r =>
      assert(r.getAs[Long]("distinct_shingles") <= r.getAs[Long]("total_instances"))
      assert(r.getAs[Long]("max_df") >= 1L)
    }
    // longer shingles are strictly more discriminative on any
    // natural corpus: repeated share must not increase with n
    val rep = rows.map(_.getAs[Long]("repeated_share_fx"))
    assert(rep.sliding(2).forall(p => p(0) >= p(1)), rep.toSeq.toString)
  }
}
