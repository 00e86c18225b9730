package graft

import org.apache.spark.sql.functions._
import graft.operators.CoreAnalytics
import graft.core.Tables

class Round6atSpec extends SparkSpec {

  test("q68 arms partition users, bucketing is stable, and the A/A lift is small") {
    val rows = CoreAnalytics.queries("q68_ab_lift")(spark, sf).collect()
    assert(rows.length === 2)
    val byArm = rows.map(r => r.getAs[String]("arm") -> r).toMap
    assert(byArm.keySet === Set("control", "treatment"))
    assert(rows.map(_.getAs[Long]("n_users")).sum ===
      Tables.events(spark, sf).select(col("user_id")).distinct().count())
    // control carries no lift column; treatment carries both
    assert(byArm("control").isNullAt(
      byArm("control").fieldIndex("conv_lift_fx")))
    val lift = byArm("treatment").getAs[Long]("conv_lift_fx")
    // an A/A split measures no true effect: |lift| < 50%
    assert(math.abs(lift) < 500000L, s"A/A lift too large: $lift")
    // determinism: identical re-run
    val again = CoreAnalytics.queries("q68_ab_lift")(spark, sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }
}
