package graft

import org.apache.spark.sql.functions._
import graft.operators.EventPipeline
import graft.core.Tables

class Round6tSpec extends SparkSpec {

  test("ev53 seam reconciliation equals the single-source census exactly") {
    val got = EventPipeline.queries("ev53_backfill_seam")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6)))
    val want = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long"), countDistinct(col("user_id")).cast("long"),
        sum(col("value").cast("decimal(18,6)")).cast("double"))
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6)))
    assert(got.toSeq === want.toSeq)
    // the overlap really produces duplicate deliveries pre-dedup —
    // otherwise this test would pass vacuously with a gapless union.
    // Only assert when the data actually spans the cutover window
    // (a future testdata regen could shift the epoch; reconciliation
    // above stays valid for ANY distribution).
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val bounds = Tables.events(spark, sf)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val spans = bounds.getTimestamp(0).before(
      java.sql.Timestamp.valueOf("2024-01-15 23:00:00")) &&
      bounds.getTimestamp(1).after(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
    if (spans) {
      val overlap = Tables.events(spark, sf)
        .filter(col("ts") < cut &&
          col("ts") >= cut - expr("INTERVAL 3600 SECONDS")).count()
      assert(overlap > 0, "seam overlap window is empty at this SF")
    }
  }
}
