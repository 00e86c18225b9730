package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 twentieth wave: equi-height histogram selectivity (q80).
  *
  * The ANALYZE-stats primitive every cost-based optimizer runs on:
  * build a 16-bucket equi-height histogram over order totals (exact
  * ntile — Rank.ntileExact, whose DuckDB twin is plain NTILE), then
  * price range predicates by uniform-within-bucket interpolation and
  * face the estimates against direct counts. Equi-height is the
  * production choice precisely because each bucket caps estimation
  * error at its own mass — the err_fx column MEASURES that bound
  * instead of assuming it. All integer: cents domain, integer widths,
  * truncating division on both engines.
  */
object Round8t extends Operators {

  private val Fx = 10000L
  private val Buckets = 16

  /** Probe ranges in cents over o_totalprice. */
  private val Probes = Seq(
    (1000000L, 5000000L), // $10k – $50k
    (5000000L, 15000000L), // $50k – $150k
    (15000000L, 30000000L), // $150k – $300k
    (0L, 60000000L)) // everything

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q80_histogram_selectivity" -> { (s, d) =>
      val cents = Dedup.barrier(Tables.orders(s, d)
        .select(floor(col("o_totalprice") * 100).cast("long").as("c"),
          col("o_orderkey")))
      val hist = Rank.ntileExact(cents, Buckets, "bucket",
          col("c"), Seq(col("o_orderkey")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("bn"),
          min(col("c")).cast("long").as("lo"),
          max(col("c")).cast("long").as("hi"))
      import s.implicits._
      val probes = Probes.toDF("p_lo", "p_hi")
      val est = probes.join(broadcast(hist),
          col("p_lo") <= col("hi") && col("p_hi") >= col("lo"))
        .withColumn("ov",
          least(col("p_hi"), col("hi")) - greatest(col("p_lo"), col("lo")) + 1)
        .withColumn("contrib", expr("(bn * ov) div (hi - lo + 1)"))
        .groupBy(col("p_lo"), col("p_hi"))
        .agg(sum(col("contrib")).cast("long").as("est_rows"))
      // all probe counts in ONE cached-scan pass (conditional sums)
      val actualCols = Probes.zipWithIndex.map { case ((lo, hi), i) =>
        sum(when(col("c").between(lo, hi), 1L).otherwise(0L)).cast("long")
          .as(s"a_$i")
      }
      val actualRow = cents.agg(actualCols.head, actualCols.tail: _*)
      val actual = Probes.zipWithIndex.map { case ((lo, hi), i) =>
        actualRow.select(lit(lo).as("p_lo"), lit(hi).as("p_hi"),
          col(s"a_$i").as("actual_rows"))
      }.reduce(_ unionByName _)
      probes.join(est, Seq("p_lo", "p_hi"), "left")
        .join(actual, Seq("p_lo", "p_hi"))
        .withColumn("est_rows", coalesce(col("est_rows"), lit(0L)))
        .withColumn("err_fx", expr(
          s"abs(est_rows - actual_rows) * $Fx div greatest(actual_rows, 1)"))
        .select(col("p_lo"), col("p_hi"), col("est_rows"),
          col("actual_rows"), col("err_fx"))
        .orderBy(col("p_lo"), col("p_hi"))
    })

  def oracles: Map[String, String] = {
    val probeRows = Probes
      .map { case (lo, hi) => s"(CAST($lo AS BIGINT), CAST($hi AS BIGINT))" }
      .mkString(", ")
    Map("q80_histogram_selectivity" ->
      s"""WITH cents AS (
         |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c, o_orderkey
         |  FROM orders),
         |tiled AS (
         |  SELECT c, NTILE($Buckets) OVER (ORDER BY c, o_orderkey) AS bucket
         |  FROM cents),
         |hist AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS bn,
         |    CAST(MIN(c) AS BIGINT) AS lo, CAST(MAX(c) AS BIGINT) AS hi
         |  FROM tiled GROUP BY bucket),
         |probes AS (SELECT * FROM (VALUES $probeRows) AS t(p_lo, p_hi)),
         |est AS (
         |  SELECT p_lo, p_hi,
         |    CAST(SUM((bn * (LEAST(p_hi, hi) - GREATEST(p_lo, lo) + 1))
         |      // (hi - lo + 1)) AS BIGINT) AS est_rows
         |  FROM probes JOIN hist ON p_lo <= hi AND p_hi >= lo
         |  GROUP BY 1, 2),
         |actual AS (
         |  SELECT p_lo, p_hi,
         |    CAST((SELECT COUNT(*) FROM cents
         |      WHERE c >= p_lo AND c <= p_hi) AS BIGINT) AS actual_rows
         |  FROM probes)
         |SELECT p.p_lo, p.p_hi,
         |  CAST(COALESCE(est_rows, 0) AS BIGINT) AS est_rows, actual_rows,
         |  CAST(abs(COALESCE(est_rows, 0) - actual_rows) * $Fx
         |    // GREATEST(actual_rows, 1) AS BIGINT) AS err_fx
         |FROM probes p
         |LEFT JOIN est USING (p_lo, p_hi)
         |JOIN actual USING (p_lo, p_hi)
         |ORDER BY p.p_lo, p.p_hi""".stripMargin)
  }
}
