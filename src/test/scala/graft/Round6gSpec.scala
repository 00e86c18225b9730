package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline}
import graft.core.Tables

class Round6gSpec extends SparkSpec {

  test("q48 audit books every child row and flags a synthetic orphan") {
    val got = CoreAnalytics.queries("q48_referential_audit")(spark, sf).collect()
      .map(r => r.getAs[String]("relation") -> r).toMap
    assert(got.keySet === Set("lineitem->orders", "orders->customer"))
    val lo = got("lineitem->orders")
    assert(lo.getAs[Long]("child_rows") === Tables.lineitem(spark, sf).count())
    // synthetic warehouse is referentially intact
    assert(lo.getAs[Long]("orphan_keys") === 0L)
    assert(lo.getAs[Long]("coverage_fx") === 1000000L)
    val oc = got("orders->customer")
    assert(oc.getAs[Long]("child_rows") === Tables.orders(spark, sf).count())
    assert(oc.getAs[Long]("parent_keys") ===
      Tables.customer(spark, sf).count())
  }

  test("q48 detects orphans on a corrupted child table") {
    // same audit logic against a crafted dir: orders referencing a
    // customer that does not exist must surface as an orphan key
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fk").toString
    Seq((1L, 10L), (2L, 10L), (3L, 99L))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq(Tuple1(10L), Tuple1(11L)).toDF("c_custkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L), (2L, 7L)).toDF("l_linenumber", "l_orderkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = CoreAnalytics.queries("q48_referential_audit")(spark, dir).collect()
      .map(r => r.getAs[String]("relation") -> r).toMap
    val oc = got("orders->customer")
    assert(oc.getAs[Long]("orphan_keys") === 1L) // custkey 99
    assert(oc.getAs[Long]("unreferenced_parents") === 1L) // custkey 11
    assert(oc.getAs[Long]("coverage_fx") === 500000L) // 1 of 2 child keys
    val lo = got("lineitem->orders")
    assert(lo.getAs[Long]("orphan_keys") === 1L) // orderkey 7
  }

  test("ev44 streamed hourly actives equal the batch distinct count") {
    val got = EventPipeline.queries("ev44_stream_hourly_actives")(spark, sf).collect()
    val want = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(countDistinct(col("user_id")).as("n_active")).collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    assert(got.map(r => r.get(0) -> r.getAs[Long]("n_active")).toMap === want)
    assert(got.map(_.getAs[Long]("n_events")).sum ===
      Tables.events(spark, sf).count())
  }
}
