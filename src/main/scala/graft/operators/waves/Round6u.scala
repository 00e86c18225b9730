package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 twenty-first wave: temporal frame sampling over opaque
  * payloads (mm11) — the video-ingest half of the multimodal plumbing
  * (mm03 chunks for upload; this samples every Nth FRAME for
  * feature extraction).
  *
  * Posture note: one narrow scan; frame offsets are per-row integer
  * arithmetic (bounded `sequence` explode over the sampled indices
  * only — 1/SampleEvery of the frame count), digests verify the
  * sampled stream byte-exactly.
  */
object Round6u extends Operators {

  /** Frame geometry: FrameBytes-sized frames, keep every Nth. */
  private val FrameBytes = 32
  private val SampleEvery = 4

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- mm11: every-Nth-frame sampling --------------------------------
    // A video decode pipeline never keys on every frame: it samples a
    // deterministic subset (every Nth) and extracts features from
    // those. The codec is stubbed (ASCII corpus ⇒ byte == char, the
    // mm02/mm04 convention), but the ADDRESSING — frame boundaries,
    // sampled offsets, reassembly order, byte budget — is real and
    // digest-verified: per source, items, total frames, sampled
    // frames, sampled bytes, and the min digest of the concatenated
    // sampled stream.
    "mm11_frame_sample" -> { (s, d) =>
      val ascii = Tables.documents(s, d)
        .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      val framed = ascii
        .withColumn("n_frames",
          ceil(length(col("text")) / lit(FrameBytes.toDouble)).cast("long"))
        .withColumn("n_sampled",
          expr(s"(n_frames + ${SampleEvery - 1}) div $SampleEvery"))
        .withColumn("sampled", array_join(
          transform(
            sequence(lit(0L), col("n_sampled") - 1),
            k => col("text").substr(
              (k * (SampleEvery * FrameBytes) + 1).cast("int"),
              lit(FrameBytes))), ""))
      framed.groupBy(col("source"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("n_frames")).cast("long").as("total_frames"),
          sum(col("n_sampled")).cast("long").as("sampled_frames"),
          sum(length(col("sampled"))).cast("long").as("sampled_bytes"),
          min(md5(col("sampled"))).as("min_digest"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    "mm11_frame_sample" ->
      s"""WITH a AS (
         |  SELECT doc_id, source, text FROM documents
         |  WHERE length(text) > 0 AND NOT regexp_matches(text, '[^\\x00-\\x7F]')),
         |f AS (
         |  SELECT doc_id, source, text,
         |    CAST(ceil(length(text) / ${FrameBytes.toDouble}) AS BIGINT) AS n_frames
         |  FROM a),
         |g AS (
         |  SELECT doc_id, source, text, n_frames,
         |    (n_frames + ${SampleEvery - 1}) // $SampleEvery AS n_sampled
         |  FROM f),
         |c AS (
         |  SELECT doc_id, source, text, n_frames, n_sampled,
         |    unnest(range(n_sampled)) AS k
         |  FROM g),
         |re AS (
         |  SELECT doc_id, source, n_frames, n_sampled,
         |    string_agg(
         |      substr(text, CAST(k * ${SampleEvery * FrameBytes} + 1 AS INT),
         |        $FrameBytes), '' ORDER BY k) AS sampled
         |  FROM c GROUP BY doc_id, source, n_frames, n_sampled)
         |SELECT source, COUNT(*) AS n_items,
         |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
         |  CAST(SUM(n_sampled) AS BIGINT) AS sampled_frames,
         |  CAST(SUM(length(sampled)) AS BIGINT) AS sampled_bytes,
         |  MIN(md5(sampled)) AS min_digest
         |FROM re GROUP BY source ORDER BY source""".stripMargin)
}
