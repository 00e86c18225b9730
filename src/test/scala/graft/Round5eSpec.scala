package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, EventPipeline, Packing}
import graft.core.Tables

/** Round-5 fifth-wave operators: basket affinity, type transitions,
  * context-length pricing.
  */
class Round5eSpec extends SparkSpec {

  // --- q41: market-basket affinity ---------------------------------

  test("q41 support and lift recompute exactly for the reported head pair") {
    val got = CoreAnalytics.queries("q41_basket_affinity")(spark, sf).collect()
    assert(got.nonEmpty && got.length <= CoreAnalytics.BasketTopK)
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = items.map(_._1).distinct.length.toLong
    val byPart = items.groupBy(_._2).map { case (p, xs) => p -> xs.length.toLong }
    val head = got.head
    val (a, b) = (head.getAs[Long]("part_a"), head.getAs[Long]("part_b"))
    val ordersA = items.filter(_._2 == a).map(_._1).toSet
    val ordersB = items.filter(_._2 == b).map(_._1).toSet
    val co = ordersA.intersect(ordersB).size.toLong
    assert(head.getAs[Long]("n_pairs") === co)
    assert(head.getAs[Long]("cnt_a") === byPart(a))
    assert(head.getAs[Long]("cnt_b") === byPart(b))
    assert(head.getAs[Long]("lift_fx") ===
      co * nOrders * 1000000L / (byPart(a) * byPart(b)))
    // support can never exceed either side's solo support
    got.foreach { r =>
      assert(r.getAs[Long]("n_pairs") <=
        math.min(r.getAs[Long]("cnt_a"), r.getAs[Long]("cnt_b")))
    }
  }

  // --- ev31: event-type transition matrix --------------------------

  test("ev31 census conserves transitions and normalizes per from-type") {
    val got = EventPipeline.queries("ev31_type_transitions")(spark, sf).collect()
    val totalTrans = got.map(_.getAs[Long]("n_transitions")).sum
    val expect = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") - 1)).collect()(0).getLong(0)
    assert(totalTrans === expect, "every non-first event is exactly one transition")
    got.groupBy(_.getAs[String]("from_type")).foreach { case (_, rows) =>
      val ft = rows.map(_.getAs[Long]("from_total")).distinct
      assert(ft.length === 1)
      assert(rows.map(_.getAs[Long]("n_transitions")).sum === ft.head)
      val pSum = rows.map(_.getAs[Long]("p_fx")).sum
      assert(pSum <= 1000000L && pSum > 1000000L - rows.length,
        s"floor-division probabilities must sum to 1e6 minus < |rows|: $pSum")
    }
  }

  // --- pk06: context-length pricing curve --------------------------

  test("pk06 conserves tokens at every candidate length") {
    val got = Packing.queries("pk06_ctx_curve")(spark, sf).collect()
    assert(got.length === Packing.CtxLens.length)
    val totalToks = Tables.documents(spark, sf)
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    got.foreach { r =>
      val L = r.getAs[Long]("ctx_len")
      assert(r.getAs[Long]("kept_tokens") + r.getAs[Long]("lost_tokens") === totalToks,
        s"kept+lost must equal the corpus at L=$L")
      assert(r.getAs[Long]("kept_tokens") + r.getAs[Long]("pad_tokens") ===
        r.getAs[Long]("n_docs") * L,
        s"kept+pad must fill the n_docs×L grid at L=$L")
    }
    val byL = got.sortBy(_.getAs[Long]("ctx_len"))
    byL.map(_.getAs[Long]("n_truncated")).sliding(2).foreach {
      case Array(a, b) => assert(a >= b, "truncation count must fall as L grows")
    }
    byL.map(_.getAs[Long]("lost_tokens")).sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
    }
  }
}
