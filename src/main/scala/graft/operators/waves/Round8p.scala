package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-8 sixteenth wave: TAR shard round-trip (mm18), anchor-
  * sampled duplication estimate (dd43).
  *
  * mm18 closes the container-format set with the one training
  * pipelines actually shard by: TAR (WebDataset). Docs pack into
  * 16-doc ustar shards through the REAL [[graft.sources.TarCodec]],
  * parse back, and the census — including the header+padding
  * overhead TAR charges per entry — is gated against a closed form
  * computed WITHOUT the codec, so any framing drift (octal size,
  * checksum, 512-byte padding, terminator blocks) hash-fails.
  *
  * dd43 is the estimator that makes corpus-duplication DASHBOARDS
  * affordable at 100 TB: sample fingerprint CLASSES (hash64(fp) mod
  * den = 0), never documents — class sampling observes each sampled
  * class's FULL multiplicity, so the dup-share ratio estimator is
  * consistent, while doc sampling would observe thinned multiplicities
  * and bias dup share toward zero. The census prices the estimator at
  * 1/16, 1/4 and 1/1 against the exact share computed in the same
  * query (the 1/1 arm doubles as an in-query exactness gate).
  */
object Round8p extends Operators {

  private val Fx = 10000L

  /** dd43: sampling denominators (1 = exact, the built-in gate). */
  private val Denoms = Seq(16L, 4L, 1L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- mm18: TAR (WebDataset) shard build→parse census ----------------
    "mm18_tar_roundtrip" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      val ent = Multimodal.tarEntries(Multimodal.tarMedia(docs))
        .withColumn("h", Hashing.hash64(concat(col("entry_name"), lit(":"),
          col("body_len").cast("string"))))
      val perShard = ent.groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_entries"),
          sum(col("body_len")).cast("long").as("body_bytes"),
          max(col("shard_bytes")).as("shard_bytes"),
          expr("bit_xor(h)").as("hx"))
      perShard.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_shards"),
          sum(col("n_entries")).cast("long").as("n_entries"),
          sum(col("body_bytes")).cast("long").as("total_body_bytes"),
          sum(col("shard_bytes")).cast("long").as("total_shard_bytes"),
          expr("bit_xor(hx)").as("hdr_hash_xor"))
        .withColumn("overhead_fx", expr(
          s"(total_shard_bytes - total_body_bytes) * $Fx div total_shard_bytes"))
        .select(col("source"), col("n_shards"), col("n_entries"),
          col("total_body_bytes"), col("total_shard_bytes"),
          col("overhead_fx"), col("hdr_hash_xor"))
        .orderBy(col("source"))
    },

    // --- dd43: anchor-sampled duplication estimate ----------------------
    "dd43_anchor_sampling" -> { (s, d) =>
      val classes = Dedup.barrier(Tables.documents(s, d)
        .select(Hashing.hash64(
          lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).cast("long").as("mult")))
      val exact = classes.agg(
          sum(col("mult") - 1).cast("long").as("exact_dups"),
          sum(col("mult")).cast("long").as("n_docs"))
        .select(expr(s"exact_dups * $Fx div n_docs").as("exact_share_fx"))
      val perDen = Denoms.map { den =>
        classes.filter(pmod(col("fp"), lit(den)) === 0)
          .agg(count(lit(1)).cast("long").as("n_classes"),
            coalesce(sum(col("mult")), lit(0L)).cast("long")
              .as("n_docs_sampled"),
            coalesce(sum(col("mult") - 1), lit(0L)).cast("long")
              .as("dups_sampled"))
          .select(lit(den).as("sample_denom"), col("n_classes"),
            col("n_docs_sampled"), col("dups_sampled"))
      }.reduce(_ unionByName _)
      perDen.crossJoin(broadcast(exact))
        .withColumn("est_share_fx",
          when(col("n_docs_sampled") > 0,
            expr(s"dups_sampled * $Fx div n_docs_sampled")).otherwise(lit(0L)))
        .withColumn("err_fx", abs(col("est_share_fx") - col("exact_share_fx")))
        .select(col("sample_denom"), col("n_classes"), col("n_docs_sampled"),
          col("dups_sampled"), col("est_share_fx"), col("exact_share_fx"),
          col("err_fx"))
        .orderBy(col("sample_denom"))
    })

  def oracles: Map[String, String] = {
    val entryHash = Hashing.duckHash64(
      "('docs/' || CAST(doc_id AS VARCHAR) || '.txt:' || CAST(strlen(text) AS VARCHAR))")
    val fpHash = Hashing.duckHash64(
      "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
    Map(
      // closed form, no codec: TAR charges 512 header + pad-to-512 per
      // entry and 1024 terminator per shard
      "mm18_tar_roundtrip" ->
        s"""WITH d AS (
           |  SELECT source, doc_id // 16 AS bucket,
           |    CAST(strlen(text) AS BIGINT) AS bl,
           |    CAST(512 + ((strlen(text) + 511) // 512) * 512 AS BIGINT)
           |      AS disk,
           |    $entryHash AS h
           |  FROM documents),
           |shard AS (
           |  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_entries,
           |    CAST(SUM(bl) AS BIGINT) AS body,
           |    CAST(SUM(disk) + 1024 AS BIGINT) AS sb,
           |    bit_xor(h) AS hx
           |  FROM d GROUP BY 1, 2)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shards,
           |  CAST(SUM(n_entries) AS BIGINT) AS n_entries,
           |  CAST(SUM(body) AS BIGINT) AS total_body_bytes,
           |  CAST(SUM(sb) AS BIGINT) AS total_shard_bytes,
           |  CAST((CAST(SUM(sb) AS BIGINT) - CAST(SUM(body) AS BIGINT)) * $Fx
           |    // CAST(SUM(sb) AS BIGINT) AS BIGINT) AS overhead_fx,
           |  CAST(bit_xor(hx) AS BIGINT) AS hdr_hash_xor
           |FROM shard GROUP BY source ORDER BY source""".stripMargin,

      "dd43_anchor_sampling" -> {
        val perDen = Denoms.map { den =>
          s"""SELECT CAST($den AS BIGINT) AS sample_denom,
             |    CAST(COUNT(*) AS BIGINT) AS n_classes,
             |    CAST(COALESCE(SUM(mult), 0) AS BIGINT) AS n_docs_sampled,
             |    CAST(COALESCE(SUM(mult - 1), 0) AS BIGINT) AS dups_sampled
             |  FROM classes WHERE fp % $den = 0""".stripMargin
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH classes AS (
           |  SELECT fp, CAST(COUNT(*) AS BIGINT) AS mult FROM (
           |    SELECT $fpHash AS fp FROM documents) GROUP BY fp),
           |exact AS (
           |  SELECT CAST(SUM(mult - 1) AS BIGINT) * $Fx
           |    // CAST(SUM(mult) AS BIGINT) AS exact_share_fx FROM classes),
           |per_den AS (
           |  $perDen)
           |SELECT sample_denom, n_classes, n_docs_sampled, dups_sampled,
           |  CAST(CASE WHEN n_docs_sampled > 0
           |    THEN dups_sampled * $Fx // n_docs_sampled ELSE 0 END
           |    AS BIGINT) AS est_share_fx,
           |  CAST(exact_share_fx AS BIGINT) AS exact_share_fx,
           |  CAST(abs(CASE WHEN n_docs_sampled > 0
           |    THEN dups_sampled * $Fx // n_docs_sampled ELSE 0 END
           |    - exact_share_fx) AS BIGINT) AS err_fx
           |FROM per_den CROSS JOIN exact ORDER BY sample_denom""".stripMargin
      })
  }
}
