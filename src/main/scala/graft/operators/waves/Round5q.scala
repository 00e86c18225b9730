package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-5 seventeenth wave: the end-to-end curate-and-pack manifest
  * (pk11) — the "run the whole pipeline in one call" flagship that
  * chains the shipped stages: rule battery (tx19's shared
  * [[Round5d.ruleFlags]]) → exact dedup keeper (dd01's normalized
  * fingerprint, min-doc_id wins) → greedy context packing (pk01's
  * cumulative-budget rule) → per-lang manifest.
  *
  * Posture notes: every stage keeps its original scale shape — the
  * rule battery is a narrow projection, the dedup keeper is one
  * fingerprint-partitioned window, the packer is pk01's per-lang
  * running sum (partitioned window, no global sort), and the
  * manifest is a langs-sized census. Nothing new is invented here;
  * the value is the PROOF (oracle + spec) that the composition of
  * the shipped stages is itself exactly reproducible.
  */
object Round5q extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk11: curate → dedup → pack, end to end ----------------------
    "pk11_curate_pack_e2e" -> { (s, d) =>
      val fl = Round5d.ruleFlags(Tables.documents(s, d))
        .withColumn("fp", Hashing.hash64(
          lower(regexp_replace(trim(col("text")), "\\s+", " "))))
        .select(col("doc_id"), col("lang"), col("n_words"), col("keep"), col("fp"))
      val wfp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val finals = fl.filter(col("keep"))
        .withColumn("rn", row_number().over(wfp))
        .filter(col("rn") === 1)
      val wl = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      finals
        .withColumn("cum", sum(col("n_words")).over(wl))
        .withColumn("pack_id",
          floor((col("cum") - col("n_words")) / lit(Curation.PackBudget)).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_final"),
          sum(col("n_words")).cast("long").as("tokens_final"),
          (max(col("pack_id")) + 1).cast("long").as("n_packs"))
        .withColumn("fill_fx",
          expr(s"(tokens_final * $Fx) div (n_packs * ${Curation.PackBudget})"))
        .select(col("lang"), col("docs_final"), col("tokens_final"),
          col("n_packs"), col("fill_fx"))
        .orderBy(col("lang"))
    })

  def oracles: Map[String, String] = Map(
    "pk11_curate_pack_e2e" -> {
      val fp = Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
      s"""${Round5d.duckRuleFlagsCtes},
         |fps AS (
         |  SELECT doc_id, $fp AS fp FROM documents),
         |fl AS (
         |  SELECT flags.doc_id, lang, n_words, keep, fp
         |  FROM flags JOIN fps ON flags.doc_id = fps.doc_id),
         |finals AS (
         |  SELECT doc_id, lang, n_words FROM (
         |    SELECT doc_id, lang, n_words,
         |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |    FROM fl WHERE keep)
         |  WHERE rn = 1),
         |packed AS (
         |  SELECT lang, n_words,
         |    CAST(floor((cum - n_words) / ${Curation.PackBudget}) AS BIGINT)
         |      AS pack_id
         |  FROM (
         |    SELECT lang, n_words,
         |      SUM(n_words) OVER (PARTITION BY lang ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM finals))
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs_final,
         |  CAST(SUM(n_words) AS BIGINT) AS tokens_final,
         |  CAST(MAX(pack_id) + 1 AS BIGINT) AS n_packs,
         |  (CAST(SUM(n_words) AS BIGINT) * $Fx)
         |    // (CAST(MAX(pack_id) + 1 AS BIGINT) * ${Curation.PackBudget})
         |    AS fill_fx
         |FROM packed GROUP BY lang ORDER BY lang""".stripMargin
    })
}
