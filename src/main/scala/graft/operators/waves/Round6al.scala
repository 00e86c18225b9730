package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 thirty-eighth wave: centroid refresh drift (ss29) and the
  * length × quality joint census (tx33).
  *
  * Posture notes: ss29 is two label-keyed centroid folds (ss04's
  * decimal-exact mean recipe) joined on the |labels|-row key — no
  * per-vector work at all beyond the folds. tx33 runs Rank.ntileExact
  * twice (no global sort windows) and joins the two quartile frames
  * co-partitioned on doc_id, folding to the 16-cell matrix.
  */
object Round6al extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss29: centroid refresh drift ------------------------------------
    // ss27 measures staleness of ANSWERS; this measures drift of the
    // MODEL: per label, the centroid trained on the early half of
    // the ids vs on everything — their cosine is the rotation the
    // index's quantizer suffered as data arrived (1.0 = retraining
    // would change nothing). The retrain-cadence page, one number
    // per cluster.
    "ss29_centroid_drift" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val bounds = e.agg(
        min(col("vec_id")).as("lo"),
        (max(col("vec_id")) - min(col("vec_id")) + 1L).as("span"))
      val tagged = e.crossJoin(broadcast(bounds))
        .withColumn("early", expr("(vec_id - lo) * 2 < span"))
      def centroids(df: DataFrame, cc: String, nc: String): DataFrame =
        df.select(col("label"), posexplode(col("emb")))
          .groupBy(col("label"), col("pos"))
          .agg((sum(col("col").cast("decimal(27,10)")).cast("double") /
            count(lit(1))).as("c"))
          .groupBy(col("label"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            x => x.getField("c")).as(cc))
          .withColumn(nc, Similarity.l2norm(col(cc)))
      val centE = centroids(tagged.filter(col("early")), "cent_e", "norm_e")
      val centF = centroids(tagged, "cent_f", "norm_f")
      val counts = tagged.groupBy(col("label"))
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(when(col("early"), 1L).otherwise(0L)).cast("long").as("n_early"))
      counts.join(centE, Seq("label")).join(centF, Seq("label"))
        .withColumn("drift_cos", Det.trunc4(
          Similarity.dot(col("cent_e"), col("cent_f")) /
            (col("norm_e") * col("norm_f"))))
        .select(col("label"), col("n_vecs"), col("n_early"), col("drift_cos"))
        .orderBy(col("label"))
    },

    // --- tx33: length × quality joint census -----------------------------
    // Filtering on quality alone silently filters on LENGTH when the
    // two correlate — the bias every curation pipeline must check.
    // Exact quartiles of token length × exact quartiles of quality
    // (tx02's score), censused as the 16-cell joint matrix with each
    // cell's share against the independent 1/16 — the off-diagonal
    // depletion IS the correlation.
    "tx33_len_quality_joint" -> { (s, d) =>
      val scored = TextAnalysis.queries("tx02_quality_score")(s, d)
        .withColumn("q4", floor(col("quality") * 10000).cast("long"))
      val lenQ = Rank.ntileExact(
        scored.select(col("doc_id"), col("n_tokens")), 4, "len_q",
        col("n_tokens"), Seq(col("doc_id")))
        .select(col("doc_id"), col("len_q"))
      val qualQ = Rank.ntileExact(
        scored.select(col("doc_id"), col("q4")), 4, "qual_q",
        col("q4"), Seq(col("doc_id")))
        .select(col("doc_id"), col("qual_q"))
      val cells = lenQ.join(qualQ, Seq("doc_id"))
        .groupBy(col("len_q").cast("int").as("len_q"),
          col("qual_q").cast("int").as("qual_q"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val total = cells.agg(sum(col("n_docs")).cast("long").as("n"))
      cells.crossJoin(broadcast(total))
        .withColumn("share_fx", expr(s"(n_docs * 16 * $Fx) div n"))
        .select(col("len_q"), col("qual_q"), col("n_docs"), col("share_fx"))
        .orderBy(col("len_q"), col("qual_q"))
    })

  def oracles: Map[String, String] = Map(
    "ss29_centroid_drift" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings),
         |b AS (
         |  SELECT MIN(vec_id) AS lo,
         |    MAX(vec_id) - MIN(vec_id) + 1 AS span FROM e),
         |t AS (
         |  SELECT e.*, (vec_id - lo) * 2 < span AS early
         |  FROM e CROSS JOIN b),
         |de AS (
         |  SELECT label, pos,
         |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM (SELECT label, generate_subscripts(emb, 1) - 1 AS pos,
         |          unnest(emb) AS v FROM t WHERE early)
         |  GROUP BY 1, 2),
         |ce AS (
         |  SELECT label, list(c ORDER BY pos) AS cent_e FROM de GROUP BY 1),
         |df AS (
         |  SELECT label, pos,
         |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM (SELECT label, generate_subscripts(emb, 1) - 1 AS pos,
         |          unnest(emb) AS v FROM t)
         |  GROUP BY 1, 2),
         |cf AS (
         |  SELECT label, list(c ORDER BY pos) AS cent_f FROM df GROUP BY 1),
         |cn AS (
         |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |    CAST(SUM(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_early
         |  FROM t GROUP BY 1)
         |SELECT cn.label, cn.n_vecs, cn.n_early,
         |  ${Det.duckTrunc(
              "list_sum(list_transform(range(len(ce.cent_e)), " +
              "i -> ce.cent_e[i+1] * cf.cent_f[i+1])) / " +
              "(sqrt(list_sum(list_transform(ce.cent_e, x -> x * x))) * " +
              "sqrt(list_sum(list_transform(cf.cent_f, x -> x * x))))", 4)}
         |    AS drift_cos
         |FROM cn JOIN ce USING (label) JOIN cf USING (label)
         |ORDER BY cn.label""".stripMargin,

    "tx33_len_quality_joint" -> {
      // quality comes from tx02's WHOLE oracle as a subquery — the
      // shared-fragment rule (one definition, zero drift)
      val tx02 = TextAnalysis.oracles("tx02_quality_score")
      s"""WITH scored AS (
         |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(floor(quality * 10000) AS BIGINT) AS q4
         |  FROM ($tx02)),
         |lq AS (
         |  SELECT doc_id,
         |    NTILE(4) OVER (ORDER BY n_tokens, doc_id) AS len_q
         |  FROM scored),
         |qq AS (
         |  SELECT doc_id,
         |    NTILE(4) OVER (ORDER BY q4, doc_id) AS qual_q
         |  FROM scored),
         |cells AS (
         |  SELECT CAST(len_q AS INT) AS len_q, CAST(qual_q AS INT) AS qual_q,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM lq JOIN qq USING (doc_id) GROUP BY 1, 2),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cells)
         |SELECT len_q, qual_q, n_docs,
         |  (n_docs * 16 * $Fx) // n AS share_fx
         |FROM cells CROSS JOIN t ORDER BY len_q, qual_q""".stripMargin
    })
}
