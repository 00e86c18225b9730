package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 twelfth wave: streaming near-dup detection gated (ev48).
  *
  * Posture note: the last spec-only stateful component promoted into
  * the oracle gate. The signature table replays as a FILE STREAM (the
  * stand-in for the real ingest log a production deployment tails);
  * state lives per band-bucket with the documented cap — set above
  * this corpus's max occupancy here, so the gate proves the streaming
  * path finds EXACTLY the batch banded join's pairs.
  */
object Round6l extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev48: streaming near-dup, oracle-gated -------------------------
    // dd07 joins banded simhashes in batch; StreamNearDup makes the
    // same decision at ingest time (per-bucket retained signatures,
    // arrival order = doc_id). The census counts docs flagged as
    // near-dups of an EARLIER doc and the distinct flagged pairs —
    // matched against the batch pair definition (shared ≥1 band,
    // hamming ≤ 3, earlier-doc-keeps) in DuckDB.
    "ev48_stream_neardup" -> { (s, d) =>
      import graft.streaming.{StreamJobs, StreamNearDup}
      import s.implicits._
      // the ingest log: (doc_id, seq, simhash), seq = doc_id order
      val sigs = Dedup.queries("dd04_simhash")(s, d)
        .select(col("doc_id"), col("doc_id").as("seq"), col("simhash"))
      val dir = java.nio.file.Files.createTempDirectory("graft-ev48-feed").toString
      sigs.write.mode("overwrite").parquet(dir)
      val feed = s.readStream
        .schema(sigs.schema)
        .parquet(dir)
        .as[StreamNearDup.DocSig]
      val hitStream = StreamNearDup.hits(
        StreamNearDup.banded(feed), maxPerBucket = 1 << 20)
      // FILE snapshot, not memory: the hit stream is data-proportional
      // (one row per banded near-dup pair), and a memory sink collects
      // it all to the driver — the sf10 ladder measured 2.1 GiB of
      // task results against the 1 GiB maxResultSize. The file sink
      // keeps the census distributed end to end.
      val snap = StreamJobs.runFileSnapshot(hitStream.toDF())
      // the same pair can fire in up to 4 bands — consumers dedup in
      // foreachBatch; here the census folds distinct pairs
      val pairs = snap.select(col("doc_id"), col("dup_of")).distinct()
      pairs.agg(
        count(lit(1)).cast("long").as("n_pairs"),
        coalesce(countDistinct(col("doc_id")), lit(0L)).cast("long")
          .as("n_dup_docs"),
        coalesce(countDistinct(col("dup_of")), lit(0L)).cast("long")
          .as("n_originals"))
    })

  def oracles: Map[String, String] = Map(
    "ev48_stream_neardup" -> {
      // dd04's simhash + dd07's BANDED pair join (candidates from the
      // band equi-join, never all-pairs — the oracle must survive
      // sf0.1 too), hamming <= 3, later doc flagged against earlier
      val dd04 = Dedup.oracles("dd04_simhash")
      s"""WITH sims AS ($dd04),
         |banded AS (
         |  SELECT doc_id, simhash, b AS band,
         |    (simhash >> (b * ${Dedup.SimhashBandBits})) & ${Dedup.SimhashBandMask} AS bval
         |  FROM sims CROSS JOIN (SELECT unnest(range(${Dedup.SimhashBands})) AS b) t),
         |pairs AS (
         |  SELECT doc_b AS doc_id, doc_a AS dup_of FROM (
         |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      a.simhash AS sh_a, b.simhash AS sh_b
         |    FROM banded a JOIN banded b
         |      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |  WHERE bit_count(xor(sh_a, sh_b)) <= 3)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(COUNT(DISTINCT doc_id), 0) AS BIGINT) AS n_dup_docs,
         |  CAST(COALESCE(COUNT(DISTINCT dup_of), 0) AS BIGINT) AS n_originals
         |FROM pairs""".stripMargin
    })
}
