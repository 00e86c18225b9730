package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Round-6 ninth wave: incremental ingest dedup (dd27).
  *
  * Posture note: the daily-corpus-build shape — the new batch checks
  * against the EXISTING index, never re-deduping the whole corpus.
  * Candidates are (band, band_hash) equi-joins of the new side
  * against the old side only (new×new and old×old pairs never
  * generated); the verify rejoins shingle sets for survivors alone.
  */
object Round6i extends Operators {

  /** dd02/dd03's duplicate threshold, shared semantics. */
  private val JaccT = 0.5

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd27: incremental ingest dedup --------------------------------
    // A 10% hash-split stands in for today's ingest batch; the other
    // 90% is the standing corpus with its minhash band index (dd03's
    // exact banding, one shared construction). The census prices the
    // ingest-time question: how many new docs collide with the
    // corpus, how many candidates the bands admit, and how many
    // verify as true near-dups (exact Jaccard >= 0.5) — the numbers
    // that size the daily dedup job. At 100 TB the old side's banded
    // index is a materialized table partitioned by (band, band_hash);
    // the new batch probes it with a partition-pruned equi-join.
    "dd27_incremental_dedup" -> { (s, d) =>
      val ds = Dedup.barrier(Dedup.docShingles(s, d))
        .withColumn("is_new",
          pmod(Hashing.hash64(col("doc_id").cast("string")), lit(10)) === 0)
      val sig = ds.select(col("doc_id"), col("is_new"),
        Dedup.minhashSig(col("shs")).as("_sig"))
      // materialized: nb and ob both consume this frame — unbarriered,
      // the signature pipeline would evaluate twice (the dd20/dd33/dd44
      // generate-trap lint flags exactly this shape). At 100 TB this IS
      // the "banded index is a materialized table" posture above.
      val banded = Dedup.barrierAlso(
        sig.select(col("doc_id"), col("is_new"),
          posexplode(array(Dedup.bandHashCols(col("_sig")): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_hash"))
      val nb = banded.filter(col("is_new"))
        .select(col("doc_id").as("new_id"), col("band"), col("band_hash"))
      val ob = banded.filter(!col("is_new"))
        .select(col("doc_id").as("old_id"), col("band"), col("band_hash"))
      val cand = nb.join(ob, Seq("band", "band_hash"))
        .select(col("new_id"), col("old_id")).distinct()
      val verified = cand
        .join(ds.select(col("doc_id").as("new_id"), col("shs").as("sh_a")),
          Seq("new_id"))
        .join(ds.select(col("doc_id").as("old_id"), col("shs").as("sh_b")),
          Seq("old_id"))
        .withColumn("jaccard", Dedup.exactJaccard(col("sh_a"), col("sh_b")))
      val pairStats = verified.agg(
        count(lit(1)).cast("long").as("n_cand_pairs"),
        coalesce(countDistinct(col("new_id")), lit(0L)).cast("long")
          .as("n_new_with_cand"),
        coalesce(sum(when(col("jaccard") >= JaccT, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_dup_pairs"),
        coalesce(countDistinct(when(col("jaccard") >= JaccT, col("new_id"))),
          lit(0L)).cast("long").as("n_new_dups"))
      val newCount = ds.filter(col("is_new"))
        .agg(count(lit(1)).cast("long").as("n_new_docs"))
      newCount.crossJoin(broadcast(pairStats))
        .select(col("n_new_docs"), col("n_cand_pairs"), col("n_new_with_cand"),
          col("n_dup_pairs"), col("n_new_dups"))
    })

  def oracles: Map[String, String] = {
    val h = Hashing.duckHash64("CAST(doc_id AS VARCHAR)")
    val jac = """floor((CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
                |    (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))))
                |    * 10000) / 10000""".stripMargin
    Map("dd27_incremental_dedup" ->
      s"""WITH ${Dedup.duckBandedCtes},
         |flags AS (
         |  SELECT doc_id, (($h) % 10 + 10) % 10 = 0 AS is_new FROM documents),
         |nb AS (
         |  SELECT b.doc_id AS new_id, band, band_hash
         |  FROM banded b JOIN flags f ON b.doc_id = f.doc_id WHERE f.is_new),
         |ob AS (
         |  SELECT b.doc_id AS old_id, band, band_hash
         |  FROM banded b JOIN flags f ON b.doc_id = f.doc_id WHERE NOT f.is_new),
         |cand AS (
         |  SELECT DISTINCT new_id, old_id
         |  FROM nb JOIN ob USING (band, band_hash)),
         |ver AS (
         |  SELECT new_id, old_id, $jac AS jaccard
         |  FROM cand
         |  JOIN sh_t a ON a.doc_id = new_id
         |  JOIN sh_t b ON b.doc_id = old_id),
         |pair_stats AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_pairs,
         |    CAST(COALESCE(COUNT(DISTINCT new_id), 0) AS BIGINT)
         |      AS n_new_with_cand,
         |    CAST(COALESCE(SUM(CASE WHEN jaccard >= $JaccT THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_dup_pairs,
         |    CAST(COALESCE(COUNT(DISTINCT CASE WHEN jaccard >= $JaccT
         |      THEN new_id END), 0) AS BIGINT) AS n_new_dups
         |  FROM ver),
         |news AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_new_docs
         |  FROM sh_t JOIN flags USING (doc_id) WHERE is_new)
         |SELECT n_new_docs, n_cand_pairs, n_new_with_cand, n_dup_pairs,
         |  n_new_dups
         |FROM news CROSS JOIN pair_stats""".stripMargin)
  }
}
