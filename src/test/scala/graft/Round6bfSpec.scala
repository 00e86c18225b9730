package graft

import graft.operators.EventPipeline
import graft.core.Tables
import org.apache.spark.sql.functions._

class Round6bfSpec extends SparkSpec {

  test("ev71 contingency covers all lagged minutes with one shared lift") {
    val rows = EventPipeline.queries("ev71_overload_errors")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 4)
    // all minutes except the first appear in exactly one cell
    val minutes = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 60000000")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_minutes")).sum === minutes - 1L)
    assert(rows.map(_.getAs[Long]("lift_fx")).distinct.length === 1)
    rows.foreach(r => assert(r.getAs[Long]("lift_fx") >= 0L))
  }
}
