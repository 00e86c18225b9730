package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 thirty-sixth wave: mutual-kNN graph quality (ss28) and
  * exact range-partition planning (q63).
  *
  * Posture notes: ss28's neighbor candidates come from the sign-LSH
  * bucket equi-join (never all-pairs); per-vector k-NN selection is
  * a bucket-bounded window, and the mutuality check is one self
  * equi-join of the slim edge list on the reversed pair key. q63
  * tiles the sort key with Rank.ntileExact (no global sort) and
  * folds each tile to its boundary row — exactly the boundary table
  * a 100 TB global sort/range-write needs, computed without doing
  * the sort.
  */
object Round6aj extends Operators {

  private val Fx = 1000000L

  /** ss28: neighbors per vector (within the vector's sign bucket). */
  private val K = 5

  /** q63: target partition count for the range plan. */
  private val NParts = 32

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss28: mutual-kNN graph census -----------------------------------
    // The manifold-quality number behind every kNN-graph consumer
    // (UMAP, label propagation, graph dedup): build the bucketed
    // k=5 NN graph, then measure how many directed edges are
    // MUTUAL. A low mutual share means the space's neighborhoods
    // are asymmetric (hubs) — kNN-graph algorithms degrade exactly
    // there. Census per label: vectors, directed edges, mutual
    // edges, mutual share, and hub mass (vectors appearing in > 2k
    // in-edges).
    "ss28_mutual_knn" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .withColumn("bucket", Similarity.signBucket(col("emb")))
      val eb = Dedup.barrier(e)
      val cand = eb.select(col("bucket"), col("vec_id").as("a"),
          col("label"), col("emb").as("ea"), col("norm").as("na"))
        .join(eb.select(col("bucket"), col("vec_id").as("b"),
          col("emb").as("eb"), col("norm").as("nb")), Seq("bucket"))
        .filter(col("a") =!= col("b"))
        .withColumn("cos", Det.trunc4(
          Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb"))))
        .select(col("label"), col("a"), col("b"), col("cos"))
      val wk = Window.partitionBy(col("a"))
        .orderBy(col("cos").desc, col("b"))
      val edges = Dedup.barrierAlso(cand.withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= K)
        .select(col("label"), col("a"), col("b")))
      val mutual = edges
        .join(edges.select(col("a").as("b"), col("b").as("a"))
          .withColumn("rev", lit(1L)), Seq("a", "b"), "left")
        .withColumn("is_mutual", col("rev").isNotNull)
      val inDeg = edges.groupBy(col("b")).agg(count(lit(1)).as("in_deg"))
      val hubs = inDeg.filter(col("in_deg") > 2L * K)
        .agg(count(lit(1)).cast("long").as("n_hubs"))
      mutual.groupBy(col("label"))
        .agg(countDistinct(col("a")).cast("long").as("n_vecs"),
          count(lit(1)).cast("long").as("n_edges"),
          sum(when(col("is_mutual"), 1L).otherwise(0L)).cast("long")
            .as("n_mutual"))
        .withColumn("mutual_fx", expr(s"(n_mutual * $Fx) div n_edges"))
        .crossJoin(broadcast(hubs))
        .select(col("label"), col("n_vecs"), col("n_edges"),
          col("n_mutual"), col("mutual_fx"), col("n_hubs"))
        .orderBy(col("label"))
    },

    // --- q63: exact range-partition planner ------------------------------
    // The boundary table a 100 TB global sort needs, computed
    // WITHOUT sorting: tile the sort key into 32 exact-NTILE ranges
    // (Rank.ntileExact — two-level, no single-task window), fold
    // each tile to (lo, hi, rows), and report the skew against the
    // ideal 1/32 — what Spark's RangePartitioner estimates by
    // sampling, here exact and deterministic.
    "q63_range_plan" -> { (s, d) =>
      val keyed = Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100).cast("long").as("k"),
          col("l_orderkey"), col("l_linenumber"))
      val tiled = Rank.ntileExact(keyed, NParts, "part", col("k"),
        Seq(col("l_orderkey"), col("l_linenumber")))
      val parts = tiled.groupBy(col("part"))
        .agg(min(col("k")).as("lo_cents"), max(col("k")).as("hi_cents"),
          count(lit(1)).cast("long").as("n_rows"))
      val total = parts.agg(sum(col("n_rows")).cast("long").as("n_total"))
      parts.crossJoin(broadcast(total))
        .withColumn("skew_fx", expr(s"(n_rows * $NParts * $Fx) div n_total"))
        .select(col("part").cast("int").as("part"), col("lo_cents"),
          col("hi_cents"), col("n_rows"), col("skew_fx"))
        .orderBy(col("part"))
    })

  def oracles: Map[String, String] = Map(
    "ss28_mutual_knn" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm,
         |    CAST(${Similarity.duckBucket} AS BIGINT) AS bucket
         |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
         |        FROM embeddings)),
         |cand AS (
         |  SELECT a.label, a.vec_id AS a, b.vec_id AS b,
         |    ${Det.duckTrunc(
                "list_sum(list_transform(range(len(a.emb)), " +
                "i -> a.emb[i+1] * b.emb[i+1])) / (a.norm * b.norm)", 4)} AS cos
         |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |edges AS (
         |  SELECT label, a, b FROM (
         |    SELECT label, a, b,
         |      row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rn
         |    FROM cand) WHERE rn <= $K),
         |m AS (
         |  SELECT x.label, x.a, x.b, y.a IS NOT NULL AS is_mutual
         |  FROM edges x LEFT JOIN edges y ON x.a = y.b AND x.b = y.a),
         |hubs AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hubs FROM (
         |    SELECT b FROM edges GROUP BY b HAVING COUNT(*) > ${2 * K}))
         |SELECT label,
         |  CAST(COUNT(DISTINCT a) AS BIGINT) AS n_vecs,
         |  CAST(COUNT(*) AS BIGINT) AS n_edges,
         |  CAST(SUM(CASE WHEN is_mutual THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mutual,
         |  (CAST(SUM(CASE WHEN is_mutual THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(COUNT(*) AS BIGINT) AS mutual_fx,
         |  (SELECT n_hubs FROM hubs) AS n_hubs
         |FROM m GROUP BY label ORDER BY label""".stripMargin,

    "q63_range_plan" ->
      s"""WITH keyed AS (
         |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS k,
         |    l_orderkey, l_linenumber
         |  FROM lineitem),
         |tiled AS (
         |  SELECT k, NTILE($NParts) OVER
         |    (ORDER BY k, l_orderkey, l_linenumber) AS part
         |  FROM keyed),
         |parts AS (
         |  SELECT part, MIN(k) AS lo_cents, MAX(k) AS hi_cents,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows
         |  FROM tiled GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM parts)
         |SELECT CAST(part AS INT) AS part, lo_cents, hi_cents, n_rows,
         |  (n_rows * $NParts * $Fx) // n_total AS skew_fx
         |FROM parts CROSS JOIN t ORDER BY part""".stripMargin)
}
