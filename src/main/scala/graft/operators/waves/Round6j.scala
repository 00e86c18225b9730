package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 tenth wave: filtered ANN recall (ss23).
  *
  * Posture note: ss11's IVF probe with a metadata predicate — the
  * filtered-search production trap. Same plan shapes as ss11 (one
  * broadcast-centroids assignment pass, equi-joins on the cell id,
  * TakeOrdered truth arm); the filter applies on the scored frame,
  * narrow on both arms.
  */
object Round6j extends Operators {

  /** The metadata predicate under evaluation: label = FilterLabel. */
  val FilterLabel = 3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss23: filtered ANN recall ------------------------------------
    // Production vector search rarely runs unfiltered ("similar docs
    // in MY collection"). Post-filtering an IVF probe loses recall
    // faster than the unfiltered ss11 curve because the predicate's
    // survivors spread across cells — this measures the filtered
    // recall and the filtered candidate yield per nprobe, against
    // the filtered brute-force truth. High candidate attrition at
    // low recall = the signal to pre-partition the index by the
    // filter column (label-scoped IVF) instead of post-filtering.
    "ss23_filtered_ann" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
      val cents = e.filter(col("vec_id") < Similarity.IvfK)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
          col("norm").as("c_norm"))
      val byVec = Window.partitionBy(col("vec_id"))
        .orderBy(col("c_cos").desc, col("c_id"))
      val assigned = Dedup.barrier(e
        .crossJoin(broadcast(cents))
        .withColumn("c_cos", Det.trunc4(
          Similarity.dot(col("emb"), col("c_emb")) / (col("norm") * col("c_norm"))))
        .withColumn("rn", row_number().over(byVec))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("emb"), col("norm"),
          col("c_id").as("cell")))
      val q = assigned.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("norm").as("q_norm"))
      val qcells = cents.crossJoin(broadcast(q))
        .withColumn("qc_cos", Det.trunc4(
          Similarity.dot(col("c_emb"), col("q_emb")) / (col("c_norm") * col("q_norm"))))
        .withColumn("qrank", row_number().over(
          Window.orderBy(col("qc_cos").desc, col("c_id"))))
        .select(col("c_id").as("cell"), col("qrank"))
      // the predicate applies to the scored frame ONCE; truth and all
      // probe arms see the same filtered candidates
      val scored = Dedup.barrierAlso(assigned
        .filter(col("vec_id") =!= 0 && col("label") === FilterLabel)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .select(col("vec_id"), col("cell"), col("cos_sim")))
      val truth = scored
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
      val nprobes = { import s.implicits._; Seq(1, 2, 4).toDF("nprobe") }
      val probed = scored
        .join(broadcast(qcells), Seq("cell"))
        .join(broadcast(nprobes), col("qrank") <= col("nprobe"))
      val byProbe = Window.partitionBy(col("nprobe"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val approx = probed
        .withColumn("rk", row_number().over(byProbe))
        .filter(col("rk") <= 10)
        .select(col("nprobe"), col("vec_id"), lit(1).as("hit"))
      val cand = probed.groupBy(col("nprobe")).agg(count(lit(1)).as("n_cand"))
      nprobes.crossJoin(broadcast(truth))
        .join(approx, Seq("nprobe", "vec_id"), "left")
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .join(cand, Seq("nprobe"), "left")
        .select(col("nprobe").cast("long").as("nprobe"),
          coalesce(col("n_cand"), lit(0L)).cast("long").as("n_cand"),
          col("n_truth").cast("long").as("n_truth"),
          col("n_hit").cast("long").as("n_hit"),
          Det.trunc4(col("n_hit").cast("double") / col("n_truth"))
            .as("recall_at_10"))
        .orderBy(col("nprobe"))
    })

  def oracles: Map[String, String] = Map(
    "ss23_filtered_ann" -> {
      val duckNorm = "sqrt(list_sum(list_transform(emb, x -> x * x)))"
      def cos(a: String, b: String, na: String, nb: String) =
        s"floor((list_sum(list_transform(range(len($a)), i -> $a[i+1] * $b[i+1]))" +
          s" / ($na * $nb)) * 10000) / 10000"
      s"""WITH e AS (
         |  SELECT vec_id, label, emb, $duckNorm AS norm
         |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
         |        FROM embeddings)),
         |cents AS (
         |  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm FROM e
         |  WHERE vec_id < ${Similarity.IvfK}),
         |assigned AS (
         |  SELECT vec_id, label, emb, norm, c_id AS cell FROM (
         |    SELECT e.vec_id, e.label, e.emb, e.norm, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.emb", "c.c_emb", "e.norm", "c.c_norm")} DESC,
         |          c.c_id) AS rn
         |    FROM e, cents c) WHERE rn = 1),
         |q AS (SELECT emb AS q_emb, norm AS q_norm FROM e WHERE vec_id = 0),
         |qcells AS (
         |  SELECT c_id AS cell, ROW_NUMBER() OVER (ORDER BY qc_cos DESC, c_id) AS qrank
         |  FROM (SELECT c_id,
         |          ${cos("c_emb", "q_emb", "c_norm", "q_norm")} AS qc_cos
         |        FROM cents, q)),
         |scored AS (
         |  SELECT a.vec_id, a.cell,
         |    ${cos("a.emb", "q_emb", "a.norm", "q_norm")} AS cos_sim
         |  FROM assigned a, q
         |  WHERE a.vec_id <> 0 AND a.label = $FilterLabel),
         |truth AS (SELECT vec_id FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10),
         |nprobes AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |probed AS (
         |  SELECT np.nprobe, s.vec_id, s.cos_sim
         |  FROM scored s JOIN qcells qc ON s.cell = qc.cell
         |  JOIN nprobes np ON qc.qrank <= np.nprobe),
         |approx AS (
         |  SELECT nprobe, vec_id, 1 AS hit FROM (
         |    SELECT nprobe, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY nprobe
         |        ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM probed) WHERE rk <= 10),
         |cand AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_cand
         |         FROM probed GROUP BY nprobe)
         |SELECT CAST(np.nprobe AS BIGINT) AS nprobe,
         |  COALESCE(cand.n_cand, 0) AS n_cand,
         |  CAST(COUNT(*) AS BIGINT) AS n_truth,
         |  CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
         |  floor((CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / COUNT(*)) * 10000)
         |    / 10000 AS recall_at_10
         |FROM nprobes np
         |CROSS JOIN truth t
         |LEFT JOIN approx a ON a.nprobe = np.nprobe AND a.vec_id = t.vec_id
         |LEFT JOIN cand ON cand.nprobe = np.nprobe
         |GROUP BY np.nprobe, cand.n_cand
         |ORDER BY np.nprobe""".stripMargin
    })
}
