package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-5 sixth wave: the ingest-completeness audit the reference's
  * block indexer lives by (ev32), a period-over-period revenue bridge
  * (q42), and the IVF cell-balance audit that prices ss03's probe cost
  * (ss14).
  *
  * Posture notes: ev32's continuity check is two-level — per-bucket
  * aggregation over the fact stream, then a lag window on the
  * buckets-sized table only (the ev30 recipe; the fact table never
  * crosses a global sort). q42 is one pass with conditional aggregation
  * (no self-join of the two periods) and broadcast dims. ss14 reuses
  * ss03's exact cell assignment; its census output is K rows. All
  * ratios are fixed-point integers (`div`), so the oracle hash-matches
  * with no float tolerance.
  */
object Round5f extends Operators {

  /** ev32: ids per continuity bucket. Buckets tile the height space,
    * so per-bucket missing counts + boundary gaps partition ALL
    * missing heights exactly (spec-proved conservation law). */
  val HeightBucket = 500L

  /** ev32: deterministic stand-in for missed blocks — heights with
    * hash64(id) % DropMod == 0 are "unprocessed" (mirrored in the
    * oracle), so the audit has real gaps to find in the contiguous
    * test ids. */
  val DropMod = 97L

  /** q42: the compared periods (both full years in the test data). */
  val BridgeY0 = 1999
  val BridgeY1 = 2000

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev32: block-height continuity audit --------------------------
    // The reference indexes consecutive block heights (main.rs
    // listen_blocks; configs.rs sync modes pick the starting height) —
    // the operational question is "did we process every height?".
    // Re-expressed as a census: processed heights bucket by
    // id div HeightBucket; per bucket, (count, min, max) fold in one
    // hash aggregation, missing-inside = span − count, and the
    // cross-bucket gap comes from a lag window over the BUCKETS-sized
    // table (fact rows never sort globally). A bucket with
    // missing_in = 0 and gap_before = 0 is provably complete.
    "ev32_height_gaps" -> { (s, d) =>
      val processed = Tables.events(s, d)
        .select(col("event_id"))
        .filter(pmod(Hashing.hash64(col("event_id").cast("string")),
          lit(DropMod)) =!= 0)
      val buckets = processed
        .withColumn("bucket", expr(s"event_id div $HeightBucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_ids"),
          min(col("event_id")).as("id_min"),
          max(col("event_id")).as("id_max"))
      // lag over the bucket table: n/HeightBucket rows, keys-sized
      val wb = Window.orderBy(col("bucket"))
      buckets
        .withColumn("missing_in",
          col("id_max") - col("id_min") + 1 - col("n_ids"))
        .withColumn("gap_before", coalesce(
          col("id_min") - lag(col("id_max"), 1).over(wb) - 1, lit(0L)))
        .select(col("bucket"), col("n_ids"), col("id_min"), col("id_max"),
          col("missing_in"), col("gap_before"))
        .orderBy(col("bucket"))
    },

    // --- q42: period-over-period revenue bridge -----------------------
    // The FP&A decomposition of a revenue delta into volume effect
    // ((q1−q0)·p0) and price effect (q1·(p1−p0)) per nation, with the
    // integer-rounding residual published so the bridge provably
    // closes. One scan with conditional aggregation — the two periods
    // never self-join; dims broadcast. Money stays decimal(18,6) until
    // the exact ×1e6 fixed-point cast; unit prices are integer `div`
    // micro-units, so both engines bridge bit-identically.
    "q42_revenue_bridge" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      def revFx(y: Int) = (sum(when(col("yr") === y, col("rev")))
        * lit(1000000)).cast("long")
      def qtyL(y: Int) = sum(when(col("yr") === y, col("qty"))).cast("long")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .filter(year(col("o_orderdate")).isin(BridgeY0, BridgeY1))
        .withColumn("yr", year(col("o_orderdate")))
        .withColumn("rev", (col("l_extendedprice")
          * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
        .withColumn("qty", col("l_quantity").cast("decimal(18,2)"))
        .groupBy(col("n_name"))
        .agg(revFx(BridgeY0).as("rev0_fx"), revFx(BridgeY1).as("rev1_fx"),
          qtyL(BridgeY0).as("qty0"), qtyL(BridgeY1).as("qty1"))
        .filter(col("qty0") > 0 && col("qty1") > 0)
        .withColumn("price0_fx", expr("rev0_fx div qty0"))
        .withColumn("price1_fx", expr("rev1_fx div qty1"))
        .withColumn("vol_eff_fx", (col("qty1") - col("qty0")) * col("price0_fx"))
        .withColumn("price_eff_fx", col("qty1") * (col("price1_fx") - col("price0_fx")))
        .withColumn("resid_fx",
          col("rev1_fx") - col("rev0_fx") - col("vol_eff_fx") - col("price_eff_fx"))
        .select(col("n_name"), col("rev0_fx"), col("rev1_fx"),
          col("qty0"), col("qty1"), col("price0_fx"), col("price1_fx"),
          col("vol_eff_fx"), col("price_eff_fx"), col("resid_fx"))
        .orderBy(col("n_name"))
    },

    // --- ss14: IVF cell-balance audit ---------------------------------
    // The dd17 pre-flight pattern applied to the ANN index: per IVF
    // cell, occupancy, corpus share and the imbalance factor vs the
    // balanced 1/K ideal (1e6 = balanced). A skewed quantizer makes
    // ss03's probe cost unpredictable — one hot cell serves most
    // queries at full-scan cost — so this K-row census is the cheap
    // check run before committing to a codebook. Reuses ss03's exact
    // assignment (shared helper, shared oracle CTE — they cannot
    // drift).
    "ss14_cell_balance" -> { (s, d) =>
      val assigned = Similarity.assignCells(s, d)
        .select(col("vec_id"), col("cell"))
      val total = assigned.agg(count(lit(1)).as("n_total"))
      assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(total))
        .withColumn("share_fx", expr("(n_vecs * 1000000) div n_total"))
        .withColumn("imb_fx",
          expr(s"(n_vecs * ${Similarity.IvfK} * 1000000) div n_total"))
        .select(col("cell"), col("n_vecs"), col("share_fx"), col("imb_fx"))
        .orderBy(col("cell"))
    })

  def oracles: Map[String, String] = Map(
    "ev32_height_gaps" -> {
      val h = Hashing.duckHash64("CAST(event_id AS VARCHAR)")
      s"""WITH p AS (
         |  SELECT event_id FROM events WHERE $h % $DropMod <> 0),
         |b AS (
         |  SELECT event_id // $HeightBucket AS bucket,
         |    COUNT(*) AS n_ids, MIN(event_id) AS id_min,
         |    MAX(event_id) AS id_max
         |  FROM p GROUP BY 1)
         |SELECT bucket, n_ids, id_min, id_max,
         |  id_max - id_min + 1 - n_ids AS missing_in,
         |  COALESCE(id_min - lag(id_max) OVER (ORDER BY bucket) - 1, 0)
         |    AS gap_before
         |FROM b ORDER BY bucket""".stripMargin
    },

    "q42_revenue_bridge" ->
      s"""WITH base AS (
         |  SELECT n_name, year(o_orderdate) AS yr,
         |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev,
         |    CAST(l_quantity AS DECIMAL(18,2)) AS qty
         |  FROM lineitem
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation   ON c_nationkey = n_nationkey
         |  WHERE year(o_orderdate) IN ($BridgeY0, $BridgeY1)),
         |agg AS (
         |  SELECT n_name,
         |    CAST(SUM(CASE WHEN yr = $BridgeY0 THEN rev END) * 1000000 AS BIGINT) AS rev0_fx,
         |    CAST(SUM(CASE WHEN yr = $BridgeY1 THEN rev END) * 1000000 AS BIGINT) AS rev1_fx,
         |    CAST(SUM(CASE WHEN yr = $BridgeY0 THEN qty END) AS BIGINT) AS qty0,
         |    CAST(SUM(CASE WHEN yr = $BridgeY1 THEN qty END) AS BIGINT) AS qty1
         |  FROM base GROUP BY n_name),
         |px AS (
         |  SELECT *, rev0_fx // qty0 AS price0_fx, rev1_fx // qty1 AS price1_fx
         |  FROM agg WHERE qty0 > 0 AND qty1 > 0)
         |SELECT n_name, rev0_fx, rev1_fx, qty0, qty1, price0_fx, price1_fx,
         |  (qty1 - qty0) * price0_fx AS vol_eff_fx,
         |  qty1 * (price1_fx - price0_fx) AS price_eff_fx,
         |  rev1_fx - rev0_fx - (qty1 - qty0) * price0_fx
         |    - qty1 * (price1_fx - price0_fx) AS resid_fx
         |FROM px ORDER BY n_name""".stripMargin,

    "ss14_cell_balance" ->
      s"""${Similarity.duckAssignedCtes},
         |c AS (SELECT cell, COUNT(*) AS n_vecs FROM assigned GROUP BY cell),
         |t AS (SELECT COUNT(*) AS n_total FROM assigned)
         |SELECT cell, n_vecs,
         |  (n_vecs * 1000000) // n_total AS share_fx,
         |  (n_vecs * ${Similarity.IvfK} * 1000000) // n_total AS imb_fx
         |FROM c CROSS JOIN t ORDER BY cell""".stripMargin)
}
