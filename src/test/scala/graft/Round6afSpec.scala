package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, TextAnalysis}
import graft.core.Tables

class Round6afSpec extends SparkSpec {

  test("q60 bitemporal cells are monotone along both clocks") {
    val rows = CoreAnalytics.queries("q60_bitemporal_grid")(spark, sf).collect()
    assert(rows.length === 16)
    val users = rows.map(r =>
      (r.getAs[Int]("tq"), r.getAs[Int]("vq")) -> r.getAs[Long]("n_users")).toMap
    // more transaction knowledge or a later valid cutoff can only
    // grow the set of users with a reconstructed state
    for (t <- 1 to 4; v <- 1 to 4) {
      if (t < 4) assert(users((t, v)) <= users((t + 1, v)))
      if (v < 4) assert(users((t, v)) <= users((t, v + 1)))
    }
    // full-knowledge corner = every user in the table
    assert(users((4, 4)) ===
      Tables.events(spark, sf).select(col("user_id")).distinct().count())
  }

  test("q60 corner cell replays the plain latest-per-user fold") {
    val full = CoreAnalytics.queries("q60_bitemporal_grid")(spark, sf)
      .filter(col("tq") === 4 && col("vq") === 4).collect().head
    val expect = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .agg(count(lit(1)), sum(col("value").cast("decimal(18,6)")).cast("double"))
      .collect().head
    assert(full.getAs[Long]("n_users") === expect.getLong(0))
    assert(math.abs(full.getAs[Double]("state_mass") - expect.getDouble(1)) < 1e-6)
  }

  test("tx32 hapax counts are bounded by vocab and mass") {
    val rows = TextAnalysis.queries("tx32_hapax_census")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("hapax") <= r.getAs[Long]("vocab"))
      assert(r.getAs[Long]("vocab") <= r.getAs[Long]("mass"))
      assert(r.getAs[Long]("hapax_type_fx") <= 1000000L)
      assert(r.getAs[Long]("hapax_mass_fx") <= r.getAs[Long]("hapax_type_fx"))
    }
  }
}
