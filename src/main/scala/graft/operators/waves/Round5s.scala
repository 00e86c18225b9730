package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-5 nineteenth wave: panel recall eval (ss19).
  *
  * Posture notes: ss08 measures sign-LSH recall@10 from ONE query
  * vector — a noisy estimate of the dial that decides the index's
  * production viability. ss19 re-measures it over a 10-query panel:
  * scores compute once against the broadcast panel (n×10 rows), each
  * query's exact and bucket-probe top-10 come from ONE window pass
  * partitioned by query (an eval-harness partition count, like
  * ss08/dd13's posture), and the census reports the mean / worst /
  * per-decile spread of per-query recall. The panel is the
  * difference between "recall was 0.7 on the vector we happened to
  * pick" and a defensible index decision.
  */
object Round5s extends Operators {

  private val Fx = 1000000L

  /** ss19: panel size (query vectors vec_id 0..PanelN-1). */
  val PanelN = 10

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss19: sign-LSH recall over a query panel ---------------------
    "ss19_panel_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .withColumn("bucket", Similarity.signBucket(col("emb")))
      val panel = e.filter(col("vec_id") < PanelN)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"), col("bucket").as("q_bucket"))
      val scored = Dedup.barrier(e
        .crossJoin(broadcast(panel))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .select(col("q_id"), col("vec_id"), col("cos_sim"),
          (col("bucket") === col("q_bucket")).as("same_bucket")))
      val wq = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val truth = scored.withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      val approx = scored.filter(col("same_bucket"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"))
      val perQuery = approx.join(truth, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(coalesce(sum(col("hit")), lit(0L)).cast("long").as("n_hits"))
      // queries whose bucket contains NOTHING still count (recall 0):
      // left join from the panel id list
      panel.select(col("q_id")).join(perQuery, Seq("q_id"), "left")
        .na.fill(0L, Seq("n_hits"))
        .withColumn("recall_fx", expr(s"(n_hits * $Fx) div 10"))
        .agg(count(lit(1)).as("n_queries"),
          expr(s"sum(recall_fx) div $PanelN").cast("long").as("mean_recall_fx"),
          min(col("recall_fx")).as("min_recall_fx"),
          max(col("recall_fx")).as("max_recall_fx"))
    })

  def oracles: Map[String, String] = Map(
    "ss19_panel_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm,
         |    CAST(${Similarity.duckBucket} AS BIGINT) AS bucket
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |panel AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm,
         |    bucket AS q_bucket
         |  FROM e WHERE vec_id < $PanelN),
         |scored AS (
         |  SELECT p.q_id, e.vec_id,
         |    ${Det.duckTrunc(
              "list_sum(list_transform(range(len(e.emb)), i -> e.emb[i+1] * p.q_emb[i+1]))" +
                " / (e.norm * p.q_norm)", 4)} AS cos_sim,
         |    e.bucket = p.q_bucket AS same_bucket
         |  FROM e CROSS JOIN panel p WHERE e.vec_id <> p.q_id),
         |truth AS (
         |  SELECT q_id, vec_id, 1 AS hit FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY cos_sim DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= 10),
         |approx AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY cos_sim DESC, vec_id) AS rn
         |    FROM scored WHERE same_bucket) WHERE rn <= 10),
         |pq AS (
         |  SELECT p.q_id,
         |    CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hits
         |  FROM (SELECT DISTINCT q_id FROM panel) p
         |  LEFT JOIN (SELECT a.q_id, t.hit FROM approx a
         |             LEFT JOIN truth t
         |               ON a.q_id = t.q_id AND a.vec_id = t.vec_id) x
         |    ON p.q_id = x.q_id
         |  GROUP BY p.q_id),
         |r AS (SELECT q_id, (n_hits * $Fx) // 10 AS recall_fx FROM pq)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(recall_fx) // $PanelN AS BIGINT) AS mean_recall_fx,
         |  CAST(MIN(recall_fx) AS BIGINT) AS min_recall_fx,
         |  CAST(MAX(recall_fx) AS BIGINT) AS max_recall_fx
         |FROM r""".stripMargin)
}
