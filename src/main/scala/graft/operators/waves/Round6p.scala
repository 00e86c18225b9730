package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 sixteenth wave: panel-robust IVF tuning (ss25) and the
  * hashing-trick dimension sizer (q51).
  *
  * Posture notes: ss25 is ss11's nprobe sweep generalized from one
  * query to the 10-vector panel — a single query's recall curve is
  * noise; capacity decisions need the mean AND the worst query.
  * Same plan shapes (broadcast centroids/panel, cell equi-joins,
  * per-(query, nprobe)-partitioned windows). q51 is three hash
  * aggregates on the feature-bucket key, one per candidate dimension.
  */
object Round6p extends Operators {

  private val Fx = 1000000L

  /** q51's candidate hash dimensions. */
  private val Dims = Seq(64L, 256L, 1024L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss25: panel-robust nprobe sweep -------------------------------
    // Per nprobe: total candidates scanned across the panel, truth
    // size, hits, the WORST single-query hit count, and mean recall
    // in fixed point. The dial answer changes when the tail query is
    // visible: a mean-only curve hides the query whose neighbors
    // live outside the probed cells.
    "ss25_panel_nprobe" -> { (s, d) =>
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
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
        .select(col("vec_id"), col("emb"), col("norm"), col("c_id").as("cell")))
      val panel = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"))
      // per (query, cell) probe order: an 80-row frame
      val qcells = cents.crossJoin(broadcast(panel))
        .withColumn("qc_cos", Det.trunc4(
          Similarity.dot(col("c_emb"), col("q_emb")) / (col("c_norm") * col("q_norm"))))
        .withColumn("qrank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("qc_cos").desc, col("c_id"))))
        .select(col("q_id"), col("c_id").as("cell"), col("qrank"))
      val scored = Dedup.barrierAlso(assigned.filter(col("vec_id") >= 10)
        .crossJoin(broadcast(panel))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .select(col("q_id"), col("vec_id"), col("cell"), col("cos_sim")))
      val byQ = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val truth = scored
        .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= 10)
        .select(col("q_id"), col("vec_id"))
      val nprobes = Seq(1, 2, 4).toDF("nprobe")
      val probed = scored
        .join(broadcast(qcells), Seq("q_id", "cell"))
        .join(broadcast(nprobes), col("qrank") <= col("nprobe"))
      val byQProbe = Window.partitionBy(col("q_id"), col("nprobe"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val approx = probed
        .withColumn("rk", row_number().over(byQProbe)).filter(col("rk") <= 10)
        .select(col("q_id"), col("nprobe"), col("vec_id"), lit(1L).as("hit"))
      val perQuery = truth.crossJoin(broadcast(nprobes))
        .join(approx, Seq("q_id", "nprobe", "vec_id"), "left")
        .groupBy(col("q_id"), col("nprobe"))
        .agg(count(lit(1)).as("n_truth_q"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit_q"))
      val cand = probed.groupBy(col("nprobe"))
        .agg(count(lit(1)).cast("long").as("n_cand"))
      perQuery.groupBy(col("nprobe"))
        .agg(sum(col("n_truth_q")).cast("long").as("n_truth"),
          sum(col("n_hit_q")).cast("long").as("n_hit"),
          min(col("n_hit_q")).cast("long").as("worst_hits"))
        .join(cand, Seq("nprobe"))
        .select(col("nprobe").cast("long").as("nprobe"), col("n_cand"),
          col("n_truth"), col("n_hit"), col("worst_hits"))
        .withColumn("recall_fx", expr(s"(n_hit * $Fx) div n_truth"))
        .orderBy(col("nprobe"))
    },

    // --- q51: feature-hashing dimension sizer --------------------------
    // The hashing trick maps unbounded categorical vocabularies into
    // a fixed feature dimension; too small and distinct features
    // collide into the same weight. Per candidate dimension m: the
    // feature vocabulary (id + low-card categoricals), buckets
    // occupied, features sharing a bucket, and the collision share —
    // measured, not the birthday-bound estimate. One distinct
    // aggregate for the vocabulary, then a bucket fold per m.
    "q51_feature_hashing" -> { (s, d) =>
      val feats = Tables.orders(s, d)
        .select(explode(array(
          concat(lit("cust="), col("o_custkey").cast("string")),
          concat(lit("status="), col("o_orderstatus")),
          concat(lit("prio="), col("o_orderpriority")))).as("feat"))
        .distinct()
      Dims.map { m =>
        feats
          .select(pmod(Hashing.hash64(col("feat")), lit(m)).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).cast("long").as("n_buckets_used"),
            sum(col("n")).cast("long").as("n_features"),
            sum(when(col("n") > 1, col("n")).otherwise(0L))
              .cast("long").as("collided_features"))
          .withColumn("dim", lit(m))
      }.reduce(_ unionByName _)
        .withColumn("fill_fx", expr(s"(n_buckets_used * $Fx) div dim"))
        .withColumn("collision_share_fx",
          expr(s"(collided_features * $Fx) div n_features"))
        .select(col("dim"), col("n_features"), col("n_buckets_used"),
          col("collided_features"), col("fill_fx"), col("collision_share_fx"))
        .orderBy(col("dim"))
    })

  def oracles: Map[String, String] = Map(
    "ss25_panel_nprobe" -> {
      val duckNorm = "sqrt(list_sum(list_transform(emb, x -> x * x)))"
      def cos(a: String, b: String, na: String, nb: String) =
        s"floor((list_sum(list_transform(range(len($a)), i -> $a[i+1] * $b[i+1]))" +
          s" / ($na * $nb)) * 10000) / 10000"
      s"""WITH e AS (
         |  SELECT vec_id, emb, $duckNorm AS norm
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |cents AS (
         |  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm FROM e
         |  WHERE vec_id < ${Similarity.IvfK}),
         |assigned AS (
         |  SELECT vec_id, emb, norm, c_id AS cell FROM (
         |    SELECT e.vec_id, e.emb, e.norm, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.emb", "c.c_emb", "e.norm", "c.c_norm")} DESC,
         |          c.c_id) AS rn
         |    FROM e, cents c) WHERE rn = 1),
         |panel AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm
         |  FROM assigned WHERE vec_id < 10),
         |qcells AS (
         |  SELECT q_id, c_id AS cell,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qc_cos DESC, c_id) AS qrank
         |  FROM (SELECT p.q_id, c.c_id,
         |          ${cos("c.c_emb", "p.q_emb", "c.c_norm", "p.q_norm")} AS qc_cos
         |        FROM cents c, panel p)),
         |scored AS (
         |  SELECT p.q_id, a.vec_id, a.cell,
         |    ${cos("a.emb", "p.q_emb", "a.norm", "p.q_norm")} AS cos_sim
         |  FROM assigned a, panel p WHERE a.vec_id >= 10),
         |truth AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM scored) WHERE rk <= 10),
         |nprobes AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |probed AS (
         |  SELECT s.q_id, np.nprobe, s.vec_id, s.cos_sim
         |  FROM scored s
         |  JOIN qcells qc ON s.q_id = qc.q_id AND s.cell = qc.cell
         |  JOIN nprobes np ON qc.qrank <= np.nprobe),
         |approx AS (
         |  SELECT q_id, nprobe, vec_id, 1 AS hit FROM (
         |    SELECT q_id, nprobe, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id, nprobe
         |        ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM probed) WHERE rk <= 10),
         |perq AS (
         |  SELECT t.q_id, np.nprobe, COUNT(*) AS n_truth_q,
         |    CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit_q
         |  FROM truth t CROSS JOIN nprobes np
         |  LEFT JOIN approx a
         |    ON a.q_id = t.q_id AND a.nprobe = np.nprobe AND a.vec_id = t.vec_id
         |  GROUP BY t.q_id, np.nprobe),
         |cand AS (
         |  SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_cand
         |  FROM probed GROUP BY nprobe),
         |rec AS (
         |  SELECT nprobe, CAST(SUM(n_truth_q) AS BIGINT) AS n_truth,
         |    CAST(SUM(n_hit_q) AS BIGINT) AS n_hit,
         |    CAST(MIN(n_hit_q) AS BIGINT) AS worst_hits
         |  FROM perq GROUP BY nprobe)
         |SELECT CAST(rec.nprobe AS BIGINT) AS nprobe, n_cand, n_truth, n_hit,
         |  worst_hits, (n_hit * $Fx) // n_truth AS recall_fx
         |FROM rec JOIN cand ON rec.nprobe = cand.nprobe
         |ORDER BY nprobe""".stripMargin
    },

    "q51_feature_hashing" -> {
      val parts = Dims.map { m =>
        s"""SELECT $m AS dim, CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           |  CAST(SUM(n) AS BIGINT) AS n_features,
           |  CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
           |    AS collided_features
           |FROM (
           |  SELECT (${Hashing.duckHash64("feat")}) % $m AS bucket, COUNT(*) AS n
           |  FROM feats GROUP BY bucket)""".stripMargin
      }
      s"""WITH feats AS (
         |  SELECT DISTINCT feat FROM (
         |    SELECT unnest(['cust=' || CAST(o_custkey AS VARCHAR),
         |      'status=' || o_orderstatus,
         |      'prio=' || o_orderpriority]) AS feat
         |    FROM orders)),
         |u AS (${parts.mkString("\nUNION ALL\n")})
         |SELECT dim, n_features, n_buckets_used, collided_features,
         |  (n_buckets_used * $Fx) // dim AS fill_fx,
         |  (collided_features * $Fx) // n_features AS collision_share_fx
         |FROM u ORDER BY dim""".stripMargin
    })
}
