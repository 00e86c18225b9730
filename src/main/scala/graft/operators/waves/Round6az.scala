package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 fifty-second wave: PQ codebook utilization (ss32).
  *
  * Posture note: ss12's assignment recipe (broadcast codebook,
  * per-(vec, subspace) argmin window) folded to a |subspaces|-row
  * health census — no new plan shapes.
  */
object Round6az extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss32: PQ codebook utilization -----------------------------------
    // A product quantizer is only as good as its code usage: a
    // subspace whose vectors pile onto a few codes wastes its bits
    // (and its nearest-neighbor resolution). Per subspace: codes
    // used (of 16), the top code's share, and singleton codes —
    // the index-health page that says WHICH subspace needs its
    // codebook retrained. Reuses ss12's assignment exactly.
    "ss32_pq_utilization" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val subs = e
        .select(col("vec_id"), col("emb"),
          explode(sequence(lit(0), lit(Round5b.PqM - 1))).as("m"))
        .withColumn("sub",
          slice(col("emb"), col("m") * Round5b.PqSubDim + 1, lit(Round5b.PqSubDim)))
        .select(col("vec_id"), col("m"), col("sub"))
      val cb = subs.filter(col("vec_id") < Round5b.PqK)
        .select(col("m"), col("vec_id").cast("int").as("code"),
          col("sub").as("csub"))
      val byVm = Window.partitionBy(col("vec_id"), col("m"))
        .orderBy(col("d2t"), col("code"))
      val assigned = subs.join(broadcast(cb), Seq("m"))
        .withColumn("d2t", floor(
          aggregate(zip_with(col("sub"), col("csub"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, z) => acc + z) * lit(Round5b.MixFx)).cast("long"))
        .withColumn("rn", row_number().over(byVm))
        .filter(col("rn") === 1)
        .select(col("m"), col("code"))
      val codeCounts = assigned.groupBy(col("m"), col("code"))
        .agg(count(lit(1)).cast("long").as("n"))
      codeCounts.groupBy(col("m"))
        .agg(count(lit(1)).cast("long").as("codes_used"),
          max(col("n")).cast("long").as("top_code_n"),
          sum(when(col("n") === 1L, 1L).otherwise(0L)).cast("long")
            .as("singleton_codes"),
          sum(col("n")).cast("long").as("n_vecs"))
        .withColumn("top_share_fx", expr(s"(top_code_n * $Fx) div n_vecs"))
        .select(col("m"), col("codes_used"), col("top_code_n"),
          col("singleton_codes"), col("n_vecs"), col("top_share_fx"))
        .orderBy(col("m"))
    })

  def oracles: Map[String, String] = Map(
    "ss32_pq_utilization" -> {
      val d2 = s"""CAST(floor(list_sum(list_transform(range(${Round5b.PqSubDim}),
                  | i -> (s.sub[i+1] - c.csub[i+1]) * (s.sub[i+1] - c.csub[i+1])))
                  | * ${Round5b.MixFx}) AS BIGINT)""".stripMargin.replace("\n", "")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |subs AS (
         |  SELECT vec_id, m,
         |    list_slice(emb, m * ${Round5b.PqSubDim} + 1,
         |      (m + 1) * ${Round5b.PqSubDim}) AS sub
         |  FROM e, (SELECT unnest(range(${Round5b.PqM})) AS m) t),
         |cb AS (
         |  SELECT m, CAST(vec_id AS INT) AS code, sub AS csub
         |  FROM subs WHERE vec_id < ${Round5b.PqK}),
         |assigned AS (
         |  SELECT m, code FROM (
         |    SELECT s.vec_id, s.m, c.code,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY $d2, c.code) AS rn
         |    FROM subs s JOIN cb c ON s.m = c.m) WHERE rn = 1),
         |cc AS (
         |  SELECT m, code, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM assigned GROUP BY 1, 2)
         |SELECT m, CAST(COUNT(*) AS BIGINT) AS codes_used,
         |  CAST(MAX(n) AS BIGINT) AS top_code_n,
         |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS singleton_codes,
         |  CAST(SUM(n) AS BIGINT) AS n_vecs,
         |  (CAST(MAX(n) AS BIGINT) * $Fx) // CAST(SUM(n) AS BIGINT)
         |    AS top_share_fx
         |FROM cc GROUP BY m ORDER BY m""".stripMargin
    })
}
