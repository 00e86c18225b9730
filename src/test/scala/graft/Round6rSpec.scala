package graft

import org.apache.spark.sql.functions._
import graft.operators.CoreAnalytics
import graft.core.Tables

class Round6rSpec extends SparkSpec {

  test("q52 intervals conserve changes and open exactly one interval per user") {
    val rows = CoreAnalytics.queries("q52_scd2_intervals")(spark, sf).collect()
    // every user's history ends in exactly one open interval
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_open")).sum === users)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_open") <= r.getAs[Long]("n_intervals"))
      assert(r.getAs[Long]("closed_dwell_sec") >= 0L)
    }
    // interval count = number of state CHANGES + first states
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("unix_micros(ts)"), col("event_id"))
    val wantIntervals = Tables.events(spark, sf)
      .withColumn("pt", lag(col("event_type"), 1).over(w))
      .filter(col("pt").isNull || col("pt") =!= col("event_type")).count()
    assert(rows.map(_.getAs[Long]("n_intervals")).sum === wantIntervals)
  }

  test("q53 explosion census matches the actually-run join and bounds hold") {
    val r = CoreAnalytics.queries("q53_join_explosion")(spark, sf).head()
    // ground truth: run the m:n join and count (fine at spec scale)
    val e = Tables.events(spark, sf)
    val clicks = e.filter(col("event_type") === "click").select(col("user_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"))
    val actual = clicks.join(purchases, col("user_id") === col("u2")).count()
    assert(r.getAs[Long]("total_out") === actual)
    assert(r.getAs[Long]("max_key_out") <= r.getAs[Long]("total_out"))
    assert(r.getAs[Long]("top1pct_out") <= r.getAs[Long]("total_out"))
    assert(r.getAs[Long]("max_share_fx") <= 1000000L)
    // the top percentile bucket carries at least the heaviest key
    // whenever it is populated (n_keys >= 100)
    if (r.getAs[Long]("n_keys") >= 100L)
      assert(r.getAs[Long]("top1pct_out") >= r.getAs[Long]("max_key_out"))
  }
}
