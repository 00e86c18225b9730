package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 sixth wave: duplicate-quality audit (tx27) and
  * content-addressed payload dedup (mm09).
  *
  * Posture notes: tx27's group stats are windows partitioned by the
  * high-cardinality fingerprint; mm09 is two map-side-combinable
  * aggregate levels on the digest key. No joins beyond tx27's
  * doc_id equi-join of two narrow derived frames.
  */
object Round6f extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- tx27: does dedup remove the good copies? ---------------------
    // Dedup policy audit: quality (tx02's score) censused by
    // duplicate role — keeper (min doc_id per dd01 fingerprint
    // group), removed copy, or singleton. If removed copies scored
    // systematically higher than keepers, the min-id keeper rule
    // (dd01/dd10) would be discarding the better text and should be
    // replaced by a quality-keeper policy; this measures that
    // directly. Quality comes from the SHARED tx02 operator so the
    // definitions cannot drift.
    "tx27_dup_quality" -> { (s, d) =>
      val scored = TextAnalysis.queries("tx02_quality_score")(s, d)
        .withColumn("q4", floor(col("quality") * 10000).cast("long"))
        .select(col("doc_id"), col("q4"))
      val fps = Tables.documents(s, d).select(col("doc_id"),
        Hashing.hash64(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
          .as("fp"))
      val wf = Window.partitionBy(col("fp"))
      scored.join(fps, Seq("doc_id"))
        .withColumn("n_copies", count(lit(1)).over(wf))
        .withColumn("keeper", min(col("doc_id")).over(wf))
        .withColumn("role",
          when(col("n_copies") === 1, "singleton")
            .when(col("doc_id") === col("keeper"), "dup_keeper")
            .otherwise("dup_removed"))
        .groupBy(col("role"))
        .agg(count(lit(1)).as("n_docs"),
          Det.trunc4(sum(col("q4")).cast("double") /
            (count(lit(1)) * lit(10000.0))).as("avg_q4"),
          min(col("q4")).as("min_q4"), max(col("q4")).as("max_q4"))
        .orderBy(col("role"))
    },

    // --- mm09: content-addressed payload dedup ------------------------
    // The blob-store dedup ledger: payloads keyed by digest (CAS),
    // per source the item count, distinct payloads, duplicate items,
    // and the bytes a content-addressed store saves vs storing every
    // copy. Two aggregate levels on the digest — the binary twin of
    // dd01, sized for the mm06 shard layout.
    "mm09_cas_dedup" -> { (s, d) =>
      Multimodal.asMedia(Tables.documents(s, d))
        .withColumn("digest", md5(col("payload")))
        .groupBy(col("source"), col("digest"))
        .agg(count(lit(1)).as("n"), max(col("byte_len")).as("bytes"))
        .groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("n_items"),
          count(lit(1)).cast("long").as("n_distinct"),
          sum(col("n") - 1).cast("long").as("dup_items"),
          sum(col("n") * col("bytes")).cast("long").as("stored_bytes"),
          sum((col("n") - 1) * col("bytes")).cast("long").as("savable_bytes"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    "tx27_dup_quality" -> {
      val fp = Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
      s"""WITH base AS (
         |  SELECT doc_id, len(${Dedup.duckToks}) AS n_tokens,
         |    CAST(${TextAnalysis.duckStop} AS DOUBLE) / len(${Dedup.duckToks})
         |      AS stop_ratio,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text)
         |      AS punct_ratio,
         |    $fp AS fp
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, fp,
         |    CAST(floor((${TextAnalysis.duckQuality}) * 10000) AS BIGINT) AS q4
         |  FROM base),
         |rolled AS (
         |  SELECT doc_id, q4,
         |    COUNT(*) OVER (PARTITION BY fp) AS n_copies,
         |    MIN(doc_id) OVER (PARTITION BY fp) AS keeper
         |  FROM scored)
         |SELECT CASE WHEN n_copies = 1 THEN 'singleton'
         |            WHEN doc_id = keeper THEN 'dup_keeper'
         |            ELSE 'dup_removed' END AS role,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  ${Det.duckTrunc("CAST(SUM(q4) AS DOUBLE) / (COUNT(*) * 10000.0)", 4)}
         |    AS avg_q4,
         |  MIN(q4) AS min_q4, MAX(q4) AS max_q4
         |FROM rolled GROUP BY role ORDER BY role""".stripMargin
    },

    "mm09_cas_dedup" ->
      """WITH g AS (
        |  SELECT source, md5(text) AS digest, CAST(COUNT(*) AS BIGINT) AS n,
        |    MAX(strlen(text)) AS bytes
        |  FROM documents GROUP BY source, digest)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_items,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(n - 1) AS BIGINT) AS dup_items,
        |  CAST(SUM(n * bytes) AS BIGINT) AS stored_bytes,
        |  CAST(SUM((n - 1) * bytes) AS BIGINT) AS savable_bytes
        |FROM g GROUP BY source ORDER BY source""".stripMargin)
}
