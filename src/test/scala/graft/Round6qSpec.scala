package graft

import org.apache.spark.sql.functions._
import graft.operators.EventPipeline
import graft.core.Tables

class Round6qSpec extends SparkSpec {

  test("ev51 completed-session census matches a batch window replay") {
    val got = EventPipeline.queries("ev51_stream_sessions")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // batch replay: gap sessions per user, drop each user's last
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("t"))
    val e = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("t"))
      .withColumn("pt", lag(col("t"), 1).over(byUser))
      .withColumn("brk", when(col("pt").isNull || col("t") - col("pt") > 1800L, 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sessions = e.groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), (max(col("t")) - min(col("t"))).as("dur"))
      .withColumn("max_sid", max(col("sid")).over(Window.partitionBy(col("user_id"))))
      .filter(col("sid") < col("max_sid"))
    val want = sessions.groupBy(col("n_events"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("dur")).cast("long").as("total_duration_sec"))
      .orderBy(col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
    assert(got.nonEmpty)
  }
}
