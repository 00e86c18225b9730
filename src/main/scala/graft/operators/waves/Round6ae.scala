package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 thirty-first wave: Benford first-digit audit (q59).
  *
  * Posture note: one narrow fact scan folded to a 9-row digit
  * census; the Benford expectations are PLAN-TIME literals (computed
  * once on the driver and spliced into both engines' plans
  * identically), so no runtime float crosses an engine boundary.
  */
object Round6ae extends Operators {

  private val Fx = 1000000L

  /** floor(log10(1 + 1/d) · Fx) for d = 1..9 — the Benford expected
    * shares as fixed-point literals.
    */
  private val BenfordFx: Map[Int, Long] =
    (1 to 9).map(d => d -> math.floor(math.log10(1.0 + 1.0 / d) * Fx).toLong).toMap

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q59: Benford first-digit fraud census ---------------------------
    // Naturally-occurring money amounts follow Benford's law; ledgers
    // cooked by humans don't. Per leading digit of the order total
    // (in cents): observed count and share vs the Benford
    // expectation, and the absolute deviation — the screen an
    // auditor runs before sampling anything.
    "q59_benford_census" -> { (s, d) =>
      val expected = typedLit((1 to 9).map(i => BenfordFx(i)))
      val census = Tables.orders(s, d)
        .select(substring(floor(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
      val totals = census.agg(sum(col("n_orders")).cast("long").as("total"))
      census.crossJoin(broadcast(totals))
        .withColumn("obs_fx", expr(s"(n_orders * $Fx) div total"))
        .withColumn("benford_fx", element_at(expected, col("digit")))
        .withColumn("dev_fx", abs(col("obs_fx") - col("benford_fx")))
        .select(col("digit"), col("n_orders"), col("obs_fx"),
          col("benford_fx"), col("dev_fx"))
        .orderBy(col("digit"))
    })

  def oracles: Map[String, String] = Map(
    "q59_benford_census" -> {
      val cases = (1 to 9).map(d => s"WHEN ${d} THEN ${BenfordFx(d)}")
        .mkString(" ")
      s"""WITH c AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS INT) AS digit,
         |    CAST(COUNT(*) AS BIGINT) AS n_orders
         |  FROM orders GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS total FROM c)
         |SELECT digit, n_orders,
         |  (n_orders * $Fx) // total AS obs_fx,
         |  CAST(CASE digit $cases END AS BIGINT) AS benford_fx,
         |  abs((n_orders * $Fx) // total - CASE digit $cases END) AS dev_fx
         |FROM c CROSS JOIN t ORDER BY digit""".stripMargin
    })
}
