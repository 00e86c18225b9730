package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventPipeline, Similarity}
import graft.core.Tables

class Round6arSpec extends SparkSpec {

  test("ss31 ghosts + live hits account for the stale list") {
    val rows = Similarity.queries("ss31_tombstone_ghosts")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ghosts = r.getAs[Long]("n_ghosts")
      val hits = r.getAs[Long]("n_live_hits")
      assert(ghosts + hits <= 10L,
        "every stale slot is a ghost, a live hit, or a live non-top vector")
      assert(r.getAs[Long]("recall_fx") === hits * 100000L)
      assert(r.getAs[Long]("wasted_fx") === ghosts * 100000L)
      // zero ghosts means the stale and live lists agree entirely
      if (ghosts === 0L) assert(hits === 10L)
    }
  }

  test("ev64 debt is conserved and the cumulative curve is consistent") {
    val rows = EventPipeline.queries("ev64_compaction_debt")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_written")).sum ===
      Tables.events(spark, sf).count())
    // total dead = records - distinct users (one live version each)
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_dead")).sum ===
      rows.map(_.getAs[Long]("n_written")).sum - users)
    // cumulative columns replay from the dailies
    var cw = 0L; var cd = 0L
    rows.foreach { r =>
      cw += r.getAs[Long]("n_written"); cd += r.getAs[Long]("n_dead")
      assert(r.getAs[Long]("cum_written") === cw)
      assert(r.getAs[Long]("cum_dead") === cd)
    }
  }
}
