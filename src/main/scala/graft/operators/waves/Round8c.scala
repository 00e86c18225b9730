package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 third wave: real image decode (mm15).
  *
  * Posture note: both mapPartitions stages (media build, PGM parse)
  * are the multimodal family's sanctioned imperative steps — payload
  * bytes never pass through the driver, never join, never shuffle
  * (features are extracted in place and only the slim feature rows
  * aggregate).
  */
object Round8c extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- mm15: REAL binary image decode (PGM P5) --------------------------
    // mm02's decode is a documented stub because the container has no
    // codec libraries; PGM needs none. Each doc becomes a real binary
    // P5 image (closed-form raster), and PgmCodec — a full parser of
    // the format's grammar (magic, comment-tolerant ASCII header,
    // 1-byte raster) — decodes it back. The per-source census is
    // gated against the closed form computed WITHOUT bytes, so any
    // off-by-one in header parsing or raster extraction hash-fails.
    "mm15_pgm_decode" -> { (s, d) =>
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val feats = Multimodal.pgmFeatures(Multimodal.pgmMedia(base))
      feats.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_images"),
          sum(col("n_px")).cast("long").as("total_pixels"),
          sum(col("sum_px")).cast("long").as("sum_px"),
          min(col("min_px")).cast("long").as("min_px"),
          max(col("max_px")).cast("long").as("max_px"))
        .withColumn("mean_px_fx", expr(s"(sum_px * $Fx) div total_pixels"))
        .select(col("source"), col("n_images"), col("total_pixels"),
          col("sum_px"), col("min_px"), col("max_px"), col("mean_px_fx"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    "mm15_pgm_decode" ->
      s"""WITH imgs AS (
         |  SELECT source,
         |    CAST(4 + doc_id % 5 AS BIGINT) AS w,
         |    CAST(3 + doc_id % 4 AS BIGINT) AS h,
         |    list_transform(range(CAST((4 + doc_id % 5) * (3 + doc_id % 4)
         |      AS BIGINT)), k -> (doc_id * 31 + k * 17) % 256) AS px
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(w * h) AS BIGINT) AS total_pixels,
         |  CAST(SUM(list_sum(px)) AS BIGINT) AS sum_px,
         |  CAST(MIN(list_min(px)) AS BIGINT) AS min_px,
         |  CAST(MAX(list_max(px)) AS BIGINT) AS max_px,
         |  (CAST(SUM(list_sum(px)) AS BIGINT) * $Fx)
         |    // CAST(SUM(w * h) AS BIGINT) AS mean_px_fx
         |FROM imgs GROUP BY source ORDER BY source""".stripMargin)
}
