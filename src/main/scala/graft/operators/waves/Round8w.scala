package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 twenty-third wave: segmented-index merge recall (ss39).
  *
  * Production ANN serves LSM-style: a big MAIN segment plus a small
  * DELTA of fresh vectors, each with its OWN centroids (they drift —
  * delta's members differ), merged at query time. ss39 measures what
  * that buys and costs: the panel routes nprobe=2 in EACH segment,
  * candidates score exact cosine, the merged top-5 faces the exact
  * global top-5 (the documented quadratic truth arm over the panel).
  * The census also reports how much of the TRUE neighborhood lives in
  * the delta — the staleness pressure that forces segment compaction
  * (ss27 priced staleness by LOSS; ss39 prices the two-segment serving
  * path that avoids it).
  */
object Round8w extends Operators {

  private val Fx = 10000L
  private val NProbe = 2
  private val K = 5
  private val PanelMod = 19L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss39_segment_merge_recall" -> { (s, d) =>
      val e = Dedup.barrier(Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .withColumn("seg", when(pmod(col("vec_id"), lit(10L)) === 0,
          lit("delta")).otherwise(lit("main"))))
      // per-segment label centroids (ss04's construction, keyed by seg)
      val dims = e.select(col("seg"), col("label"), posexplode(col("emb")))
        .groupBy(col("seg"), col("label"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as("c"))
      val cents = dims.groupBy(col("seg"), col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("cent"))
        .withColumn("c_norm", Similarity.l2norm(col("cent")))
      val panel = e.filter(pmod(col("vec_id"), lit(PanelMod)) === 0)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"))
      val routed = panel.crossJoin(broadcast(cents))
        .withColumn("r_fx", floor(
          Similarity.dot(col("q_emb"), col("cent"))
            / (col("q_norm") * col("c_norm")) * Fx).cast("long"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id"), col("seg"))
            .orderBy(col("r_fx").desc, col("label"))))
        .filter(col("rk") <= NProbe)
        .select(col("q_id"), col("q_emb"), col("q_norm"),
          col("seg"), col("label"))
      val serving = routed
        .join(e.select(col("seg"), col("label"), col("vec_id"),
          col("emb"), col("norm")), Seq("seg", "label"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("c_fx", floor(
          Similarity.dot(col("emb"), col("q_emb"))
            / (col("norm") * col("q_norm")) * Fx).cast("long"))
        .withColumn("srk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("c_fx").desc, col("vec_id"))))
        .filter(col("srk") <= K)
        .select(col("q_id"), col("vec_id"))
      // exact global top-K: the quadratic truth arm over the panel
      val truth = e.select(col("vec_id"), col("emb"), col("norm"), col("seg"))
        .crossJoin(broadcast(panel))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("t_fx", floor(
          Similarity.dot(col("emb"), col("q_emb"))
            / (col("norm") * col("q_norm")) * Fx).cast("long"))
        .withColumn("trk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("t_fx").desc, col("vec_id"))))
        .filter(col("trk") <= K)
        .select(col("q_id"), col("vec_id"), col("seg"))
      val perQ = truth
        .join(serving.withColumn("hit", lit(1L)),
          Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("hits"),
          sum(when(col("seg") === "delta", 1L).otherwise(0L)).cast("long")
            .as("truth_in_delta"))
      perQ.agg(count(lit(1)).cast("long").as("n_queries"),
          expr(s"sum(hits) * $Fx div (count(1) * $K)").cast("long")
            .as("mean_recall_fx"),
          expr(s"min(hits) * $Fx div $K").cast("long").as("min_recall_fx"),
          expr(s"sum(truth_in_delta) * $Fx div (count(1) * $K)").cast("long")
            .as("truth_delta_fx"))
    })

  def oracles: Map[String, String] = Map(
    "ss39_segment_merge_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
         |    CASE WHEN vec_id % 10 = 0 THEN 'delta' ELSE 'main' END AS seg
         |  FROM embeddings),
         |en AS (
         |  SELECT vec_id, label, seg, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm FROM e),
         |dims AS (
         |  SELECT seg, label, i,
         |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM (SELECT seg, label, generate_subscripts(emb, 1) - 1 AS i,
         |    unnest(emb) AS v FROM e)
         |  GROUP BY 1, 2, 3),
         |cents AS (
         |  SELECT seg, label, list(c ORDER BY i) AS cent
         |  FROM dims GROUP BY 1, 2),
         |cn AS (
         |  SELECT seg, label, cent,
         |    sqrt(list_sum(list_transform(cent, x -> x * x))) AS c_norm
         |  FROM cents),
         |panel AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm
         |  FROM en WHERE vec_id % $PanelMod = 0),
         |routed AS (
         |  SELECT q_id, q_emb, q_norm, seg, label FROM (
         |    SELECT p.q_id, p.q_emb, p.q_norm, cn.seg, cn.label,
         |      row_number() OVER (PARTITION BY p.q_id, cn.seg ORDER BY
         |        CAST(floor(list_sum(list_transform(range(len(p.q_emb)),
         |          i -> p.q_emb[i+1] * cn.cent[i+1]))
         |          / (p.q_norm * cn.c_norm) * $Fx) AS BIGINT) DESC,
         |        cn.label) AS rk
         |    FROM panel p CROSS JOIN cn)
         |  WHERE rk <= $NProbe),
         |serving AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT r.q_id, v.vec_id,
         |      row_number() OVER (PARTITION BY r.q_id ORDER BY
         |        CAST(floor(list_sum(list_transform(range(len(v.emb)),
         |          i -> v.emb[i+1] * r.q_emb[i+1]))
         |          / (v.norm * r.q_norm) * $Fx) AS BIGINT) DESC,
         |        v.vec_id) AS srk
         |    FROM routed r
         |    JOIN en v ON v.seg = r.seg AND v.label = r.label
         |      AND v.vec_id <> r.q_id)
         |  WHERE srk <= $K),
         |truth AS (
         |  SELECT q_id, vec_id, seg FROM (
         |    SELECT p.q_id, v.vec_id, v.seg,
         |      row_number() OVER (PARTITION BY p.q_id ORDER BY
         |        CAST(floor(list_sum(list_transform(range(len(v.emb)),
         |          i -> v.emb[i+1] * p.q_emb[i+1]))
         |          / (v.norm * p.q_norm) * $Fx) AS BIGINT) DESC,
         |        v.vec_id) AS trk
         |    FROM en v CROSS JOIN panel p WHERE v.vec_id <> p.q_id)
         |  WHERE trk <= $K),
         |per_q AS (
         |  SELECT t.q_id,
         |    CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS hits,
         |    CAST(SUM(CASE WHEN t.seg = 'delta' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS truth_in_delta
         |  FROM truth t
         |  LEFT JOIN serving s ON s.q_id = t.q_id AND s.vec_id = t.vec_id
         |  GROUP BY t.q_id)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(CAST(SUM(hits) AS BIGINT) * $Fx // (COUNT(*) * $K)
         |    AS BIGINT) AS mean_recall_fx,
         |  CAST(MIN(hits) * $Fx // $K AS BIGINT) AS min_recall_fx,
         |  CAST(CAST(SUM(truth_in_delta) AS BIGINT) * $Fx
         |    // (COUNT(*) * $K) AS BIGINT) AS truth_delta_fx
         |FROM per_q""".stripMargin)
}
