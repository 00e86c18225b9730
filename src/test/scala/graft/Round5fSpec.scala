package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, CoreAnalytics, EventPipeline}
import graft.core.Tables
import graft.functions.Hashing

/** Round-5 sixth-wave operators: height-continuity audit, revenue
  * bridge, IVF cell balance.
  */
class Round5fSpec extends SparkSpec {

  // --- ev32: block-height continuity audit -------------------------

  test("ev32 buckets partition ALL missing heights (conservation law)") {
    val got = EventPipeline.queries("ev32_height_gaps")(spark, sf).collect()
    assert(got.nonEmpty)
    val nIds = got.map(_.getAs[Long]("n_ids")).sum
    val missIn = got.map(_.getAs[Long]("missing_in")).sum
    val gaps = got.map(_.getAs[Long]("gap_before")).sum
    val gMin = got.head.getAs[Long]("id_min")
    val gMax = got.last.getAs[Long]("id_max")
    // every height in [global min, global max] is either present,
    // missing inside some bucket, or in a boundary gap — exactly once
    assert(nIds + missIn + gaps === gMax - gMin + 1,
      "present + missing-inside + boundary-gaps must tile the id span")
    got.foreach { r =>
      assert(r.getAs[Long]("missing_in") >= 0L)
      assert(r.getAs[Long]("gap_before") >= 0L)
      assert(r.getAs[Long]("n_ids") > 0L, "empty buckets don't emit rows")
    }
    // the deterministic drop-out actually creates work for the audit
    assert(missIn + gaps > 0L, "the %97 drop must leave real gaps to find")
  }

  test("ev32 missing count equals the injected drop-out census") {
    val got = EventPipeline.queries("ev32_height_gaps")(spark, sf).collect()
    val missIn = got.map(_.getAs[Long]("missing_in")).sum
    val gaps = got.map(_.getAs[Long]("gap_before")).sum
    val gMin = got.head.getAs[Long]("id_min")
    val gMax = got.last.getAs[Long]("id_max")
    // recount dropped ids INSIDE the audited span directly
    val dropped = Tables.events(spark, sf)
      .select(col("event_id"))
      .filter(pmod(Hashing.hash64(col("event_id").cast("string")),
        lit(EventPipeline.DropMod)) === 0)
      .filter(col("event_id") >= gMin && col("event_id") <= gMax)
      .count()
    assert(missIn + gaps === dropped,
      "audit total must equal the directly-counted dropped heights")
  }

  // --- q42: revenue bridge -----------------------------------------

  test("q42 bridge closes and the residual is rounding-bounded") {
    val got = CoreAnalytics.queries("q42_revenue_bridge")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val rev0 = r.getAs[Long]("rev0_fx"); val rev1 = r.getAs[Long]("rev1_fx")
      val q0 = r.getAs[Long]("qty0"); val q1 = r.getAs[Long]("qty1")
      val p0 = r.getAs[Long]("price0_fx"); val p1 = r.getAs[Long]("price1_fx")
      val vol = r.getAs[Long]("vol_eff_fx"); val pe = r.getAs[Long]("price_eff_fx")
      val resid = r.getAs[Long]("resid_fx")
      // decomposition closes by construction; re-derive every term
      assert(p0 === rev0 / q0 && p1 === rev1 / q1)
      assert(vol === (q1 - q0) * p0)
      assert(pe === q1 * (p1 - p0))
      assert(rev1 - rev0 === vol + pe + resid)
      // each unit price truncates < 1 micro-unit, so the residual is
      // bounded by the quantities that multiply the two roundings
      assert(math.abs(resid) <= math.abs(q1 - q0) + 2 * q1,
        s"residual $resid exceeds the integer-rounding envelope")
    }
  }

  test("q42 per-nation totals recompute from the raw tables") {
    val got = CoreAnalytics.queries("q42_revenue_bridge")(spark, sf).collect()
    val expect = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")) === CoreAnalytics.BridgeY0)
      .groupBy(col("n_name"))
      .agg((sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")) * lit(1000000)).cast("long").as("rev0"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("rev0_fx") === expect(r.getAs[String]("n_name")))
    }
  }

  // --- ss14: IVF cell balance --------------------------------------

  test("ss14 census covers every vector and shares sum to ~1e6") {
    val got = Similarity.queries("ss14_cell_balance")(spark, sf).collect()
    assert(got.length <= Similarity.IvfK)
    val nTotal = Tables.embeddings(spark, sf).count()
    assert(got.map(_.getAs[Long]("n_vecs")).sum === nTotal,
      "every vector lands in exactly one cell")
    val shareSum = got.map(_.getAs[Long]("share_fx")).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - got.length,
      s"floor-division shares must sum to 1e6 minus < |cells|: $shareSum")
    got.foreach { r =>
      // imb_fx is share_fx scaled by K — exactly, up to floor rounding
      val n = r.getAs[Long]("n_vecs")
      assert(r.getAs[Long]("imb_fx") ===
        n * Similarity.IvfK * 1000000L / nTotal)
    }
  }

  test("ss14 agrees with ss03's own assignment (shared machinery)") {
    val cells = Similarity.assignCells(spark, sf)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Similarity.queries("ss14_cell_balance")(spark, sf).collect()
    got.foreach { r =>
      assert(r.getAs[Long]("n_vecs") === cells(r.getAs[Long]("cell")))
    }
  }
}
