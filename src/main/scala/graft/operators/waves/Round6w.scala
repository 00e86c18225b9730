package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 twenty-third wave: web-artifact density census (tx29) and
  * MIPS norm-bound pruning (ss26).
  *
  * Posture notes: tx29 is regex counting in one narrow scan + one
  * aggregate; ss26's second pass is the point at scale — the prune
  * decision reads ONLY the norm column (an index-only scan against a
  * broadcast threshold table), never the vectors.
  */
object Round6w extends Operators {

  private val Fx = 1000000L

  /** tx29's artifact patterns — one definition feeds BOTH engines
    * (syntax common to Spark rlike/regexp_count and DuckDB
    * regexp_extract_all).
    */
  private val UrlPat = """https?://[^\s]+"""
  private val EmailPat = """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"""
  private val MarkupPat = """[<>{}\[\]|\\]"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- tx29: web-artifact density census -----------------------------
    // Scraped text drags URLs, emails and markup soup into the
    // corpus; C4-style pipelines threshold on their density. Per
    // source: docs, artifact instance counts, docs over the 1%%
    // markup-density line, and the artifact-free share — the
    // measurement BEHIND tx19's rule filter, so the thresholds are
    // set from data. One narrow scan, regex counts, one aggregate.
    "tx29_artifact_census" -> { (s, d) =>
      val base = Tables.documents(s, d).select(col("source"),
        regexp_count(col("text"), lit(UrlPat)).cast("long").as("n_urls"),
        regexp_count(col("text"), lit(EmailPat)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(MarkupPat)).cast("long").as("n_markup"),
        length(col("text")).cast("long").as("n_chars"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_urls")).cast("long").as("url_instances"),
          sum(col("n_emails")).cast("long").as("email_instances"),
          sum(col("n_markup")).cast("long").as("markup_instances"),
          sum(when(col("n_markup") * 100L > col("n_chars"), 1L).otherwise(0L))
            .cast("long").as("docs_markup_heavy"),
          sum(when(col("n_urls") + col("n_emails") + col("n_markup") === 0L, 1L)
            .otherwise(0L)).cast("long").as("docs_clean"))
        .withColumn("clean_share_fx", expr(s"(docs_clean * $Fx) div n_docs"))
        .orderBy(col("source"))
    },

    // --- ss26: MIPS norm-bound pruning ---------------------------------
    // dot(q, x) <= |q|·|x|, so once a query holds a top-k threshold
    // θ, every vector with |x| < θ/|q| is provably outside the top-k
    // — a norm-sorted index prunes it WITHOUT reading the vector.
    // Per panel query: the exact top-10 MIPS threshold and the
    // corpus share prunable by that bound. At 100 TB the second scan
    // is index-only (norm column), the thresholds are a 10-row
    // broadcast, and the first scan is the brute-force baseline the
    // pruning pays for once.
    "ss26_mips_norm_prune" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
      val panel = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"))
      val corpus = e.filter(col("vec_id") >= 10)
      val byQ = Window.partitionBy(col("q_id"))
        .orderBy(col("dot").desc, col("vec_id"))
      val thresholds = corpus.crossJoin(broadcast(panel))
        .withColumn("dot", Det.trunc4(Similarity.dot(col("emb"), col("q_emb"))))
        .withColumn("rk", row_number().over(byQ))
        .filter(col("rk") === 10)
        .select(col("q_id"), col("q_norm"), col("dot").as("theta"))
      corpus.select(col("norm")).crossJoin(broadcast(thresholds))
        .groupBy(col("q_id"), col("theta"))
        .agg(count(lit(1)).cast("long").as("n_corpus"),
          sum(when(col("norm") * col("q_norm") < col("theta"), 1L).otherwise(0L))
            .cast("long").as("n_prunable"))
        .withColumn("prune_share_fx", expr(s"(n_prunable * $Fx) div n_corpus"))
        .select(col("q_id"), col("theta"), col("n_corpus"), col("n_prunable"),
          col("prune_share_fx"))
        .orderBy(col("q_id"))
    })

  def oracles: Map[String, String] = Map(
    "tx29_artifact_census" ->
      s"""WITH b AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(text, '$UrlPat')) AS BIGINT) AS n_urls,
         |    CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(text, '$MarkupPat')) AS BIGINT) AS n_markup,
         |    CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_urls) AS BIGINT) AS url_instances,
         |  CAST(SUM(n_emails) AS BIGINT) AS email_instances,
         |  CAST(SUM(n_markup) AS BIGINT) AS markup_instances,
         |  CAST(SUM(CASE WHEN n_markup * 100 > n_chars THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_markup_heavy,
         |  CAST(SUM(CASE WHEN n_urls + n_emails + n_markup = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS docs_clean,
         |  (CAST(SUM(CASE WHEN n_urls + n_emails + n_markup = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) * $Fx) // CAST(COUNT(*) AS BIGINT) AS clean_share_fx
         |FROM b GROUP BY source ORDER BY source""".stripMargin,

    "ss26_mips_norm_prune" -> {
      val duckNorm = "sqrt(list_sum(list_transform(emb, x -> x * x)))"
      val dot = "list_sum(list_transform(range(len(c.emb)), i -> c.emb[i+1] * p.q_emb[i+1]))"
      s"""WITH e AS (
         |  SELECT vec_id, emb, $duckNorm AS norm
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |p AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM e
         |  WHERE vec_id < 10),
         |c AS (SELECT vec_id, emb, norm FROM e WHERE vec_id >= 10),
         |scored AS (
         |  SELECT p.q_id, p.q_norm, c.vec_id,
         |    ${Det.duckTrunc(dot, 4)} AS dot
         |  FROM c, p),
         |th AS (
         |  SELECT q_id, q_norm, dot AS theta FROM (
         |    SELECT q_id, q_norm, dot,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rk
         |    FROM scored) WHERE rk = 10)
         |SELECT th.q_id, th.theta, CAST(COUNT(*) AS BIGINT) AS n_corpus,
         |  CAST(SUM(CASE WHEN c.norm * th.q_norm < th.theta THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_prunable,
         |  (CAST(SUM(CASE WHEN c.norm * th.q_norm < th.theta THEN 1 ELSE 0 END)
         |    AS BIGINT) * $Fx) // CAST(COUNT(*) AS BIGINT) AS prune_share_fx
         |FROM c CROSS JOIN th
         |GROUP BY th.q_id, th.theta ORDER BY th.q_id""".stripMargin
    })
}
