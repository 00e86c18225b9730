package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Similarity search over the `embeddings` table (`array<float>`).
  *
  * `ss01` is the exactness baseline: brute-force cosine top-k against
  * a query vector — a single scan + broadcast of the (tiny) query row,
  * no shuffle until the final top-k (TakeOrderedAndProject).
  * `ss02` is the scale path: sign-bit hyperplane LSH — each vector
  * hashes to an 8-bit bucket, the query probes only its own bucket, so
  * at 100 TB the candidate set is ~1/256 of the corpus and the bucket
  * column can be a partition/cluster key for pruning.
  */
object Similarity extends Operators {

  /** Dot product of two double arrays — native fused-loop expression
    * ([[graft.functions.DotExpr]]); bit-identical to the composable
    * `aggregate(zip_with(...))` left fold and the oracle's list_sum. */
  def dot(a: Column, b: Column): Column = graft.functions.DotExpr(a, b)

  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Sign-bit bucket over the first 8 dims: Σ (emb[i]>0 ? 2^i : 0). */
  def signBucket(emb: Column, bits: Int = 8): Column =
    (0 until bits).map(i =>
      when(element_at(emb, i + 1) > 0.0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  private def withNorm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("norm", l2norm(col("emb")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss01_topk_cosine" -> { (s, d) =>
      val e = withNorm(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("norm").as("q_norm"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim",
          graft.functions.Det.trunc4(dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    "ss02_ann_signlsh" -> { (s, d) =>
      val e = withNorm(s, d).withColumn("bucket", signBucket(col("emb")))
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("norm").as("q_norm"), col("bucket").as("q_bucket"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .filter(col("bucket") === col("q_bucket"))
        .withColumn("cos_sim",
          graft.functions.Det.trunc4(dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .select(col("vec_id"), col("bucket"), col("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    },

    "ss03_ann_ivf" -> { (s, d) =>
      val assigned = assignCells(s, d)
      val q = assigned.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("norm").as("q_norm"), col("cell").as("q_cell"))
      assigned.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .filter(col("cell") === col("q_cell"))
        .withColumn("cos_sim", graft.functions.Det.trunc4(
          dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .select(col("vec_id"), col("cell"), col("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    }
  )

  private[operators] val duckNorm = "sqrt(list_sum(list_transform(emb, x -> x * x)))"
  private[operators] val duckBucket = (0 until 8).map(i =>
    s"CASE WHEN emb[${i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END").mkString(" + ")

  /** IVF-style ANN: coarse quantizer = the first `IvfK` vectors (a
    * deterministic stand-in for trained k-means centroids — at scale
    * you'd train once and broadcast), each vector assigned to its
    * nearest centroid by cosine, query probes only its own cell. The
    * cell id becomes a partition/cluster key at 100 TB.
    */
  val IvfK = 8

  /** The ss03 cell assignment, shared with ss14's balance audit so the
    * two can never drift: every vector → nearest of the K first-vector
    * centroids (one broadcast row set), argmax cosine, ties → lower
    * c_id. At scale the returned `cell` is the IVF partition key.
    */
  private[graft] def assignCells(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, d)
    val cents = e.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"), col("norm").as("c_norm"))
    // assign: argmax cosine over the K centroids (ties → lower c_id)
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
    e.crossJoin(broadcast(cents))
      .withColumn("c_cos", graft.functions.Det.trunc4(
        dot(col("emb"), col("c_emb")) / (col("norm") * col("c_norm"))))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("emb"), col("norm"), col("c_id").as("cell"))
  }

  private[operators] val duckCos =
    "floor((list_sum(list_transform(range(len(%s)), i -> %s[i+1] * %s[i+1])) / (%s * %s)) * 10000) / 10000"

  /** DuckDB CTE prefix mirroring [[assignCells]] (`WITH e, cents,
    * assigned`), shared by the ss03 and ss14 oracles. */
  private[graft] def duckAssignedCtes: String = {
    val assignCos = duckCos.format("e.emb", "e.emb", "c.c_emb", "e.norm", "c.c_norm")
    s"""WITH e AS (
       |  SELECT vec_id, label, emb, $duckNorm AS norm
       |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
       |cents AS (
       |  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm FROM e WHERE vec_id < $IvfK),
       |assigned AS (
       |  SELECT vec_id, emb, norm, c_id AS cell FROM (
       |    SELECT e.vec_id, e.emb, e.norm, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY $assignCos DESC, c.c_id) AS rn
       |    FROM e, cents c) WHERE rn = 1)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "ss01_topk_cosine" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, emb, $duckNorm AS norm
         |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |q AS (SELECT emb AS q_emb, norm AS q_norm FROM e WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  floor((list_sum(list_transform(range(len(emb)), i -> emb[i+1] * q_emb[i+1]))
         |        / (norm * q_norm)) * 10000) / 10000 AS cos_sim
         |FROM e, q WHERE vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "ss02_ann_signlsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, emb, $duckNorm AS norm, CAST($duckBucket AS BIGINT) AS bucket
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |q AS (SELECT emb AS q_emb, norm AS q_norm, bucket AS q_bucket FROM e WHERE vec_id = 0)
         |SELECT vec_id, bucket,
         |  floor((list_sum(list_transform(range(len(emb)), i -> emb[i+1] * q_emb[i+1]))
         |        / (norm * q_norm)) * 10000) / 10000 AS cos_sim
         |FROM e, q WHERE vec_id <> 0 AND bucket = q_bucket
         |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin,

    "ss03_ann_ivf" -> {
      val queryCos = duckCos.format("emb", "emb", "q_emb", "norm", "q_norm")
      s"""$duckAssignedCtes,
         |q AS (SELECT emb AS q_emb, norm AS q_norm, cell AS q_cell
         |      FROM assigned WHERE vec_id = 0)
         |SELECT vec_id, cell, $queryCos AS cos_sim
         |FROM assigned, q WHERE vec_id <> 0 AND cell = q_cell
         |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin
    }
  )
}
