package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 forty-first wave: cardinality-estimation error (q65) and
  * the nprobe knee (ss30).
  *
  * Posture notes: q65 folds each join edge to a 1-row stats
  * aggregate (counts + distincts) and evaluates the textbook
  * estimator against the measured join count — three bounded arms
  * unioned. ss30 derives from ss11's 3-row sweep output with one
  * window over that aggregate frame.
  */
object Round6ao extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q65: cardinality-estimation error census ------------------------
    // Every optimizer misplan starts with a bad cardinality
    // estimate. For the three standard FK edges, the textbook
    // |A|·|B| / max(d_A, d_B) estimate vs the measured join count,
    // as a signed fixed-point ratio — the page that says which edge
    // statistics the planner can trust. (On clean FK data the
    // estimator is near-exact; the interesting number is how far
    // real data drifts from that.)
    "q65_cardinality_error" -> { (s, d) =>
      def edge(name: String, a: DataFrame, ka: String,
          b: DataFrame, kb: String): DataFrame = {
        val stats = a.agg(count(lit(1)).cast("long").as("n_a"),
            countDistinct(col(ka)).cast("long").as("d_a"))
          .crossJoin(b.agg(count(lit(1)).cast("long").as("n_b"),
            countDistinct(col(kb)).cast("long").as("d_b")))
        val actual = a.join(b, a(ka) === b(kb))
          .agg(count(lit(1)).cast("long").as("actual_rows"))
        stats.crossJoin(actual)
          .withColumn("est_rows", expr("(n_a * n_b) div greatest(d_a, d_b)"))
          .select(lit(name).as("edge"), col("n_a"), col("n_b"),
            col("d_a"), col("d_b"), col("est_rows"), col("actual_rows"))
          .withColumn("err_fx", expr(s"(est_rows * $Fx) div actual_rows"))
      }
      val e1 = edge("orders-customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey")
      val e2 = edge("lineitem-orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey")
      val e3 = edge("lineitem-part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey")
      e1.unionByName(e2).unionByName(e3).orderBy(col("edge"))
    },

    // --- ss30: the nprobe knee -------------------------------------------
    // ss11 sweeps the dial; this picks it: per nprobe, the marginal
    // recall hits per marginal candidate scanned, and the knee (the
    // sweep point with the best marginal efficiency) — the number an
    // operator actually sets in production. Derived entirely from
    // ss11's 3-row sweep with one window over that bounded frame.
    "ss30_nprobe_knee" -> { (s, d) =>
      val sweep = Round5.queries("ss11_ivf_nprobe_eval")(s, d)
      val w = Window.orderBy(col("nprobe"))
      val marg = sweep
        .withColumn("prev_hit", coalesce(lag(col("n_hit"), 1).over(w), lit(0L)))
        .withColumn("prev_cand", coalesce(lag(col("n_cand"), 1).over(w), lit(0L)))
        .withColumn("marg_hits", col("n_hit") - col("prev_hit"))
        .withColumn("marg_cand", col("n_cand") - col("prev_cand"))
        .withColumn("eff_fx",
          expr(s"(marg_hits * $Fx) div greatest(marg_cand, 1)"))
      val best = marg.agg(max(struct(col("eff_fx"),
        (lit(0L) - col("nprobe")).as("negp"))).as("b"))
      marg.crossJoin(broadcast(best))
        .withColumn("is_knee",
          col("eff_fx") === col("b.eff_fx") &&
            col("nprobe") === -col("b.negp"))
        .select(col("nprobe"), col("n_cand"), col("n_hit"),
          col("marg_hits"), col("marg_cand"), col("eff_fx"), col("is_knee"))
        .orderBy(col("nprobe"))
    })

  def oracles: Map[String, String] = Map(
    "q65_cardinality_error" -> {
      def arm(name: String, ta: String, ka: String, tb: String,
          kb: String): String =
        s"""SELECT '$name' AS edge,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ta) AS n_a,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $tb) AS n_b,
           |  (SELECT CAST(COUNT(DISTINCT $ka) AS BIGINT) FROM $ta) AS d_a,
           |  (SELECT CAST(COUNT(DISTINCT $kb) AS BIGINT) FROM $tb) AS d_b,
           |  ((SELECT CAST(COUNT(*) AS BIGINT) FROM $ta)
           |    * (SELECT CAST(COUNT(*) AS BIGINT) FROM $tb))
           |    // greatest((SELECT CAST(COUNT(DISTINCT $ka) AS BIGINT) FROM $ta),
           |        (SELECT CAST(COUNT(DISTINCT $kb) AS BIGINT) FROM $tb))
           |    AS est_rows,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ta JOIN $tb
           |     ON $ta.$ka = $tb.$kb) AS actual_rows,
           |  (((SELECT CAST(COUNT(*) AS BIGINT) FROM $ta)
           |    * (SELECT CAST(COUNT(*) AS BIGINT) FROM $tb))
           |    // greatest((SELECT CAST(COUNT(DISTINCT $ka) AS BIGINT) FROM $ta),
           |        (SELECT CAST(COUNT(DISTINCT $kb) AS BIGINT) FROM $tb))
           |    * $Fx) // (SELECT CAST(COUNT(*) AS BIGINT) FROM $ta JOIN $tb
           |     ON $ta.$ka = $tb.$kb) AS err_fx""".stripMargin
      Seq(
        arm("orders-customer", "orders", "o_custkey", "customer", "c_custkey"),
        arm("lineitem-orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        arm("lineitem-part", "lineitem", "l_partkey", "part", "p_partkey"))
        .mkString("\nUNION ALL\n") + "\nORDER BY edge"
    },

    "ss30_nprobe_knee" -> {
      val ss11 = Round5.oracles("ss11_ivf_nprobe_eval")
      s"""WITH sweep AS ($ss11),
         |marg AS (
         |  SELECT nprobe, n_cand, n_hit,
         |    n_hit - COALESCE(lag(n_hit) OVER (ORDER BY nprobe), 0)
         |      AS marg_hits,
         |    n_cand - COALESCE(lag(n_cand) OVER (ORDER BY nprobe), 0)
         |      AS marg_cand
         |  FROM sweep),
         |m2 AS (
         |  SELECT *, (marg_hits * $Fx) // greatest(marg_cand, 1) AS eff_fx
         |  FROM marg),
         |b AS (
         |  SELECT eff_fx AS best_eff, nprobe AS best_p FROM m2
         |  ORDER BY eff_fx DESC, nprobe LIMIT 1)
         |SELECT nprobe, n_cand, n_hit, marg_hits, marg_cand, eff_fx,
         |  eff_fx = best_eff AND nprobe = best_p AS is_knee
         |FROM m2 CROSS JOIN b ORDER BY nprobe""".stripMargin
    })
}
