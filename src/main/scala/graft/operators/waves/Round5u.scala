package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-5 twenty-first wave: cluster assignment-margin census
  * (ss20) — the clustering-quality metric for the ss04/ss09 trainer.
  *
  * Posture notes: same model shape as ss09 — the K label centroids
  * train in ONE distributed (label, dim) aggregate, are held
  * driver-side (K×dim doubles, the fitted model a real pipeline
  * keeps), and travel as one broadcast packed row; the per-vector
  * margin (cos to OWN centroid minus best cos to any OTHER) is a
  * sequential fold over that array, so assignment stays narrow. The
  * census lands on a K-row table. A large negative-margin share in
  * a cluster is the signal to re-run Lloyd (ss09) or split the
  * cell (ss14's balance view).
  */
object Round5u extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss20: per-cluster assignment margin --------------------------
    "ss20_cluster_margin" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      // centroid table stays a DataFrame end-to-end (VERDICT r6 #8):
      // the K-row frame flows straight into the 1-row packed
      // broadcast — no driver collect/re-parallelize round-trip
      val cents = e.select(col("label"), posexplode(col("emb")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,10)")).cast("double") /
          count(lit(1))).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("cent"))
        .select(col("label").as("clbl"), col("cent"))
        .withColumn("c_norm", Similarity.l2norm(col("cent")))
      val packed = cents.agg(array_sort(collect_list(
        struct(col("clbl"), col("cent"), col("c_norm")))).as("cs"))
      // Zero-norm guard: a zero vector (or a degenerate centroid)
      // makes cos NaN, and NaN ORDERS DIFFERENTLY between the fold
      // (`>` is false — acc kept) and DuckDB MAX (NaN sorts greatest).
      // Pin both engines to the same sentinel: a zero-norm pair
      // scores -2.0, below any real cosine.
      def cosOf(cst: org.apache.spark.sql.Column) = {
        val denom = col("norm") * cst.getField("c_norm")
        when(denom === 0.0, lit(-2.0))
          .otherwise(Similarity.dot(col("emb"), cst.getField("cent")) / denom)
      }
      e.withColumn("norm", Similarity.l2norm(col("emb")))
        .crossJoin(broadcast(packed))
        .withColumn("own", aggregate(col("cs"), lit(-2.0), (acc, cst) =>
          when(cst.getField("clbl") === col("label"), cosOf(cst)).otherwise(acc)))
        .withColumn("other", aggregate(col("cs"), lit(-2.0), (acc, cst) => {
          val cos = cosOf(cst)
          when(cst.getField("clbl") =!= col("label") && cos > acc, cos)
            .otherwise(acc)
        }))
        .withColumn("margin_i4",
          floor((col("own") - col("other")) * 10000).cast("long"))
        .groupBy(col("label").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          Det.trunc4(sum(col("margin_i4")).cast("double") /
            (count(lit(1)) * lit(10000.0))).as("mean_margin4"),
          sum(when(col("margin_i4") < 0, 1L).otherwise(0L))
            .cast("long").as("n_negative"))
        .withColumn("neg_share_fx", expr(s"(n_negative * $Fx) div n_vecs"))
        .select(col("cluster"), col("n_vecs"), col("mean_margin4"),
          col("n_negative"), col("neg_share_fx"))
        .orderBy(col("cluster"))
    })

  def oracles: Map[String, String] = Map(
    "ss20_cluster_margin" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |dims AS (
         |  SELECT label, i, CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM (SELECT label, generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS v FROM e)
         |  GROUP BY label, i),
         |cn AS (
         |  SELECT label AS clbl, cent,
         |    sqrt(list_sum(list_transform(cent, x -> x * x))) AS c_norm
         |  FROM (SELECT label, list(c ORDER BY i) AS cent FROM dims GROUP BY label)),
         |scored AS (
         |  SELECT e.vec_id, e.label, cn.clbl,
         |    CASE WHEN sqrt(list_sum(list_transform(e.emb, x -> x * x))) * cn.c_norm = 0
         |      THEN -2.0
         |      ELSE list_sum(list_transform(range(len(e.emb)), i -> e.emb[i+1] * cn.cent[i+1]))
         |        / (sqrt(list_sum(list_transform(e.emb, x -> x * x))) * cn.c_norm) END AS cos
         |  FROM e CROSS JOIN cn),
         |per AS (
         |  SELECT vec_id, label,
         |    MAX(CASE WHEN clbl = label THEN cos END) AS own,
         |    MAX(CASE WHEN clbl <> label THEN cos END) AS other
         |  FROM scored GROUP BY vec_id, label),
         |m AS (
         |  SELECT label, CAST(floor((own - other) * 10000) AS BIGINT) AS mi
         |  FROM per)
         |SELECT label AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  ${Det.duckTrunc(
              "CAST(SUM(mi) AS DOUBLE) / (COUNT(*) * 10000.0)", 4)} AS mean_margin4,
         |  CAST(SUM(CASE WHEN mi < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
         |  (CAST(SUM(CASE WHEN mi < 0 THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // COUNT(*) AS neg_share_fx
         |FROM m GROUP BY label ORDER BY cluster""".stripMargin)
}
