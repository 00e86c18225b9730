package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-8 sixth wave: WARC container round-trip (mm16).
  *
  * Posture note: WARC is the Common Crawl container — THE ingest
  * format of a web-scale text pipeline. mm16 exercises the full
  * build→parse loop over real ISO 28500 bytes (WarcCodec): docs pack
  * into multi-record archive members, the parser re-frames them by
  * Content-Length (never sentinel scanning), and the census is gated
  * against a closed form computed from the raw table WITHOUT the
  * codec — so a framing off-by-one (header line, terminator, UTF-8
  * byte length vs char length) hash-fails. The bit_xor header hash
  * makes the gate sensitive to every record id AND body length while
  * staying order-independent and overflow-free.
  */
object Round8f extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- mm16: WARC archive build→parse census ---------------------------
    "mm16_warc_roundtrip" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      val recs = Multimodal.warcRecords(Multimodal.warcMedia(docs))
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "^urn:graft:(\\d+)$", 1).cast("long"))
        .withColumn("h", Hashing.hash64(
          concat(col("record_id"), lit(":"), col("body_len").cast("string"))))
      recs.groupBy(col("source"))
        .agg(
          countDistinct(expr("doc_id div 16")).cast("long").as("n_archives"),
          count(lit(1)).cast("long").as("n_records"),
          sum(col("body_len")).cast("long").as("total_body_bytes"),
          sum(when(col("declared_len") =!= col("body_len"), 1L).otherwise(0L))
            .cast("long").as("n_len_mismatch"),
          expr("bit_xor(h)").as("hdr_hash_xor"))
        .select(col("source"), col("n_archives"), col("n_records"),
          col("total_body_bytes"), col("n_len_mismatch"), col("hdr_hash_xor"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = {
    val h = Hashing.duckHash64(
      "('urn:graft:' || CAST(doc_id AS VARCHAR) || ':' || CAST(strlen(text) AS VARCHAR))")
    Map("mm16_warc_roundtrip" ->
      s"""SELECT source,
         |  CAST(COUNT(DISTINCT doc_id // 16) AS BIGINT) AS n_archives,
         |  CAST(COUNT(*) AS BIGINT) AS n_records,
         |  CAST(SUM(strlen(text)) AS BIGINT) AS total_body_bytes,
         |  CAST(0 AS BIGINT) AS n_len_mismatch,
         |  CAST(bit_xor($h) AS BIGINT) AS hdr_hash_xor
         |FROM documents GROUP BY source ORDER BY source""".stripMargin)
  }
}
