package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 fifty-fifth wave: dimension-truncation recall (ss33).
  *
  * Posture note: the ss19 broadcast-panel brute pattern, swept over
  * prefix dimensionalities — per (query, d) scoring reuses the one
  * barriered scored table; windows stay panel-partitioned.
  */
object Round6bc extends Operators {

  private val Fx = 1000000L

  /** Prefix dimensionalities swept (full width last). */
  private val Dims: Seq[Int] = Seq(16, 32, 64)
  private val K = 10

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss33: matryoshka truncation recall ------------------------------
    // Serving at a fraction of the embedding width is the cheapest
    // index shrink there is — IF the prefix dimensions carry the
    // ranking. Per kept width (16/32/64 of 64): mean top-10 recall
    // against the full-width truth over the query panel — the page
    // that says how many dimensions this embedding actually needs.
    "ss33_matryoshka_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val panel = e.filter(col("vec_id") < Round5s.PanelN)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val dims = { import s.implicits._; Dims.toDF("d") }
      val scored = Dedup.barrier(e.crossJoin(broadcast(panel))
        .filter(col("vec_id") =!= col("q_id"))
        .crossJoin(broadcast(dims))
        .withColumn("emb_d", slice(col("emb"), lit(1), col("d")))
        .withColumn("q_d", slice(col("q_emb"), lit(1), col("d")))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb_d"), col("q_d")) /
            (Similarity.l2norm(col("emb_d")) * Similarity.l2norm(col("q_d")))))
        .select(col("d"), col("q_id"), col("vec_id"), col("cos_sim")))
      val wq = Window.partitionBy(col("d"), col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val top = scored.withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= K)
        .select(col("d"), col("q_id"), col("vec_id"))
      val truth = top.filter(col("d") === Dims.last)
        .select(col("q_id"), col("vec_id")).withColumn("hit", lit(1L))
      top.join(truth, Seq("q_id", "vec_id"), "left")
        .groupBy(col("d"))
        .agg(countDistinct(col("q_id")).cast("long").as("n_queries"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
        .withColumn("recall_fx",
          expr(s"(n_hits * $Fx) div (n_queries * $K)"))
        .select(col("d"), col("n_queries"), col("n_hits"), col("recall_fx"))
        .orderBy(col("d"))
    })

  def oracles: Map[String, String] = Map(
    "ss33_matryoshka_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |panel AS (
         |  SELECT vec_id AS q_id, emb AS q_emb FROM e
         |  WHERE vec_id < ${Round5s.PanelN}),
         |dims AS (SELECT unnest([${Dims.mkString(", ")}]) AS d),
         |scored AS (
         |  SELECT dm.d, p.q_id, e.vec_id,
         |    ${Det.duckTrunc(
              "list_sum(list_transform(range(dm.d), " +
              "i -> e.emb[i+1] * p.q_emb[i+1])) / " +
              "(sqrt(list_sum(list_transform(e.emb[1:dm.d], x -> x * x))) * " +
              "sqrt(list_sum(list_transform(p.q_emb[1:dm.d], x -> x * x))))", 4)}
         |      AS cos_sim
         |  FROM e CROSS JOIN panel p CROSS JOIN dims dm
         |  WHERE e.vec_id <> p.q_id),
         |top AS (
         |  SELECT d, q_id, vec_id FROM (
         |    SELECT d, q_id, vec_id,
         |      row_number() OVER (PARTITION BY d, q_id
         |        ORDER BY cos_sim DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= $K),
         |truth AS (
         |  SELECT q_id, vec_id FROM top WHERE d = ${Dims.last})
         |SELECT t.d, CAST(COUNT(DISTINCT t.q_id) AS BIGINT) AS n_queries,
         |  CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  (CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * $Fx)
         |    // (CAST(COUNT(DISTINCT t.q_id) AS BIGINT) * $K) AS recall_fx
         |FROM top t LEFT JOIN truth tr
         |  ON t.q_id = tr.q_id AND t.vec_id = tr.vec_id
         |GROUP BY t.d ORDER BY t.d""".stripMargin)
}
