package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 fourth wave: exact-dup embedding coherence (ss22) and the
  * order-backlog ageing census (q47).
  *
  * Posture notes: ss22's pair generation is the dd01 fingerprint
  * equi-join (pairs bounded by duplicate-group sizes — never
  * corpus-quadratic); q47 is one conditional aggregate with a 1-row
  * broadcast tip date.
  */
object Round6d extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss22: do identical texts carry identical embeddings? ---------
    // The cross-check between the text-dedup and embedding-dedup
    // stacks: for every exact-duplicate TEXT pair (dd01's normalized
    // fingerprint), the cosine of the two docs' embeddings. High
    // coherence licenses dd05-style embedding dedup as a stand-in
    // for exact dedup on sources without raw text; low coherence
    // flags a broken embedding pipeline (duplicates SHOULD embed
    // identically). Candidates come from the fingerprint equi-join —
    // group-bounded, the dd01 shape — and the census is one row.
    "ss22_dup_embed_coherence" -> { (s, d) =>
      val fps = Tables.documents(s, d).select(col("doc_id"),
        Hashing.hash64(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
          .as("fp"))
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
      val je = fps.join(emb, Seq("doc_id"))
      val a = je.select(col("fp"), col("doc_id").as("doc_a"),
        col("emb").as("ea"), col("norm").as("na"))
      val b = je.select(col("fp"), col("doc_id").as("doc_b"),
        col("emb").as("eb"), col("norm").as("nb"))
      val pairs = a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
        // ss20's zero-norm sentinel, same on both engines
        .withColumn("cos_i4", floor(
          when(col("na") * col("nb") === 0.0, lit(-2.0))
            .otherwise(Similarity.dot(col("ea"), col("eb")) /
              (col("na") * col("nb"))) * lit(10000)).cast("long"))
      pairs.agg(
        count(lit(1)).cast("long").as("n_dup_pairs"),
        coalesce(Det.trunc4(sum(col("cos_i4")).cast("double") /
          (count(lit(1)) * lit(10000.0))), lit(0.0)).as("avg_cos4"),
        coalesce(min(col("cos_i4")), lit(0L)).cast("long").as("min_cos_i4"),
        coalesce(sum(when(col("cos_i4") < 9900, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_incoherent"))
    },

    // --- q47: order-backlog ageing census -----------------------------
    // Operational backlog health: orders not yet finalized
    // (status O/P), bucketed by age at the data tip in 90-day bands,
    // censused per priority — the queue-depth dashboard a fulfilment
    // org actually runs. One pass over orders; the tip date is a
    // 1-row broadcast aggregate; age arithmetic is datediff on DATE
    // (UTC both engines).
    "q47_order_backlog" -> { (s, d) =>
      val tip = Tables.orders(s, d).agg(max(col("o_orderdate")).as("tip"))
      Tables.orders(s, d)
        .filter(col("o_orderstatus") =!= "F")
        .crossJoin(broadcast(tip))
        .withColumn("age_d", datediff(col("tip"), col("o_orderdate")).cast("long"))
        .withColumn("age_band", expr("(age_d div 90) * 90"))
        .groupBy(col("o_orderpriority").as("priority"), col("age_band"))
        .agg(count(lit(1)).as("n_open"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("open_value"))
        .orderBy(col("priority"), col("age_band"))
    })

  def oracles: Map[String, String] = Map(
    "ss22_dup_embed_coherence" -> {
      val fp = Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
      s"""WITH fps AS (
         |  SELECT doc_id, $fp AS fp FROM documents),
         |emb AS (
         |  SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> x * x))) AS norm
         |  FROM embeddings),
         |je AS (SELECT fps.doc_id, fp, emb, norm FROM fps JOIN emb USING (doc_id)),
         |pairs AS (
         |  SELECT CAST(floor(
         |      CASE WHEN a.norm * b.norm = 0 THEN -2.0
         |           ELSE list_sum(list_transform(range(len(a.emb)),
         |                  i -> a.emb[i+1] * b.emb[i+1])) / (a.norm * b.norm) END
         |      * 10000) AS BIGINT) AS cos_i4
         |  FROM je a JOIN je b ON a.fp = b.fp AND a.doc_id < b.doc_id)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
         |  COALESCE(${Det.duckTrunc(
              "CAST(SUM(cos_i4) AS DOUBLE) / (COUNT(*) * 10000.0)", 4)}, 0.0)
         |    AS avg_cos4,
         |  CAST(COALESCE(MIN(cos_i4), 0) AS BIGINT) AS min_cos_i4,
         |  CAST(COALESCE(SUM(CASE WHEN cos_i4 < 9900 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_incoherent
         |FROM pairs""".stripMargin
    },

    "q47_order_backlog" ->
      """WITH tip AS (SELECT MAX(o_orderdate) AS tip FROM orders)
        |SELECT o_orderpriority AS priority,
        |  (date_diff('day', o_orderdate, tip) // 90) * 90 AS age_band,
        |  CAST(COUNT(*) AS BIGINT) AS n_open,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS open_value
        |FROM orders CROSS JOIN tip
        |WHERE o_orderstatus <> 'F'
        |GROUP BY priority, age_band
        |ORDER BY priority, age_band""".stripMargin)
}
