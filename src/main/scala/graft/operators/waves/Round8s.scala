package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-8 nineteenth wave: WAV container round-trip (mm19),
  * IDF-weighted Jaccard dedup (dd44).
  *
  * mm19 closes the audio path the way mm16/mm18 closed text/shards:
  * mm17's deterministic samples travel through the REAL RIFF/WAVE
  * container (44-byte PCM16 mono header, chunk-walk parsing) and the
  * census is gated against a closed form computed WITHOUT bytes —
  * any header-layout or chunk-framing drift hash-fails.
  *
  * dd44 is the weighted variant dedup practice actually wants:
  * boilerplate shingles (high document frequency) shouldn't drag
  * unrelated docs together, so each shingle carries an integer IDF
  * octave weight and pairs score weighted Jaccard
  * J_w = Σ_{A∩B} w / Σ_{A∪B} w next to the unweighted J — the
  * movement matrix between their quintile bands SHOWS the weighting
  * demoting boilerplate-inflated pairs. Candidates ride the existing
  * banded-minhash path (never all pairs); the exact pass pays only
  * for the shortlist, arrays never cross the pair shuffle (dd08's
  * slim-explode recipe).
  */
object Round8s extends Operators {

  private val Fx = 10000L

  /** mm19: synthesized clip sample rate. */
  private val Rate = 16000

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- mm19: WAV build→parse census -------------------------------------
    "mm19_wav_roundtrip" -> { (s, d) =>
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val clips = Multimodal.wavClips(Multimodal.wavMedia(base, Rate))
        .withColumn("h", Hashing.hash64(concat(col("doc_id").cast("string"),
          lit(":"), col("n_samples").cast("string"))))
      clips.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_clips"),
          min(col("sample_rate")).cast("long").as("min_rate"),
          max(col("sample_rate")).cast("long").as("max_rate"),
          sum(col("n_samples")).cast("long").as("total_samples"),
          sum(col("container_bytes")).cast("long").as("total_bytes"),
          expr("bit_xor(h)").as("clip_hash_xor"))
        .orderBy(col("source"))
    },

    // --- dd44: IDF-weighted Jaccard over banded candidates ----------------
    "dd44_weighted_jaccard" -> { (s, d) =>
      // materialize the shingle ARRAYS, then explode from the cache:
      // exploding the computed md5-shingle pipeline directly would
      // re-evaluate it per consumer (the dd20 InferFiltersFromGenerate
      // trap — measured ~10 s at sf0.1 in either uncached shape)
      val shArr = Dedup.barrier(Dedup.docShingles(s, d))
      val sh = shArr.select(col("doc_id"), explode(col("shs")).as("h"))
      // docShingles keeps only docs with ≥3 tokens, so every row has
      // a nonempty set: row count = distinct doc count
      val nd = shArr.agg(count(lit(1)).cast("long").as("n_docs"))
      // integer IDF octave: rare shingles weigh ⌊log2 N⌋−⌊log2 df⌋+1,
      // corpus-wide boilerplate weighs 1
      val wts = sh.groupBy(col("h")).agg(count(lit(1)).cast("long").as("df"))
        .crossJoin(broadcast(nd))
        .select(col("h"), ((length(bin(col("n_docs"))) - 1)
          - (length(bin(col("df"))) - 1) + 1).cast("long").as("w"))
      val wsh = sh.join(wts, Seq("h"))
      val docw = wsh.groupBy(col("doc_id"))
        .agg(sum(col("w")).cast("long").as("wsum"),
          count(lit(1)).cast("long").as("nsh"))
      val banded = Dedup.barrierAlso(Dedup.bandedSignaturesOf(shArr))  // r13 opt: read the barriered shingle cache, not a second md5 lineage
      // NOT scatterBy'd (r13 opt, measured negative): dd08's keyed-
      // scatter recipe applied here read 4.1 → 4.7/7.4 s in an
      // alternating process-level A/B — at runtime AQE broadcast-joins
      // the small pair/weight frames, so the intersection compute
      // already runs on the posting list's full parallelism and the
      // explicit repartitions only forced shuffle layouts back in.
      val cands = banded
        .select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
        .join(banded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_b")), Seq("band", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      val inter = cands
        .join(wsh.select(col("doc_id").as("doc_a"), col("h"), col("w")),
          Seq("doc_a"))
        .join(wsh.select(col("doc_id").as("doc_b"), col("h")),
          Seq("doc_b", "h"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("w")).cast("long").as("iw"),
          count(lit(1)).cast("long").as("ic"))
      cands
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .withColumn("iw", coalesce(col("iw"), lit(0L)))
        .withColumn("ic", coalesce(col("ic"), lit(0L)))
        .join(docw.select(col("doc_id").as("doc_a"), col("wsum").as("wa"),
          col("nsh").as("na")), Seq("doc_a"))
        .join(docw.select(col("doc_id").as("doc_b"), col("wsum").as("wb"),
          col("nsh").as("nb")), Seq("doc_b"))
        .withColumn("jw_fx", expr(s"(iw * $Fx) div (wa + wb - iw)"))
        .withColumn("j_fx", expr(s"(ic * $Fx) div (na + nb - ic)"))
        .withColumn("band_j", least(expr("j_fx div 2000"), lit(4L)))
        .withColumn("band_jw", least(expr("jw_fx div 2000"), lit(4L)))
        .groupBy(col("band_j"), col("band_jw"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          expr("sum(j_fx) div count(1)").cast("long").as("mean_j_fx"),
          expr("sum(jw_fx) div count(1)").cast("long").as("mean_jw_fx"))
        .orderBy(col("band_j"), col("band_jw"))
    })

  def oracles: Map[String, String] = Map(
    // closed form, no codec: n = 400 + (id % 7)·64 samples, container
    // = 44-byte canonical header + 2 bytes per sample
    "mm19_wav_roundtrip" -> {
      val h = Hashing.duckHash64(
        "(CAST(doc_id AS VARCHAR) || ':' || CAST(400 + (doc_id % 7) * 64 AS VARCHAR))")
      s"""WITH clips AS (
         |  SELECT source, doc_id,
         |    CAST(400 + (doc_id % 7) * 64 AS BIGINT) AS n, $h AS h
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST($Rate AS BIGINT) AS min_rate,
         |  CAST($Rate AS BIGINT) AS max_rate,
         |  CAST(SUM(n) AS BIGINT) AS total_samples,
         |  CAST(SUM(44 + 2 * n) AS BIGINT) AS total_bytes,
         |  CAST(bit_xor(h) AS BIGINT) AS clip_hash_xor
         |FROM clips GROUP BY source ORDER BY source""".stripMargin
    },

    "dd44_weighted_jaccard" ->
      s"""WITH ${Dedup.duckBandedCtes},
         |sh AS (SELECT doc_id, unnest(shs) AS h FROM sh_t),
         |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM sh),
         |wts AS (
         |  SELECT h, CAST((length(bin(n_docs)) - 1)
         |    - (length(bin(CAST(COUNT(*) AS BIGINT))) - 1) + 1 AS BIGINT)
         |    AS w
         |  FROM sh CROSS JOIN nd GROUP BY h, n_docs),
         |wsh AS (SELECT doc_id, sh.h, w FROM sh JOIN wts ON wts.h = sh.h),
         |docw AS (
         |  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wsum,
         |    CAST(COUNT(*) AS BIGINT) AS nsh
         |  FROM wsh GROUP BY doc_id),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT doc_a, doc_b, CAST(SUM(wa.w) AS BIGINT) AS iw,
         |    CAST(COUNT(*) AS BIGINT) AS ic
         |  FROM cands
         |  JOIN wsh wa ON wa.doc_id = doc_a
         |  JOIN wsh wb ON wb.doc_id = doc_b AND wb.h = wa.h
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT c.doc_a, c.doc_b,
         |    COALESCE(iw, 0) AS iw, COALESCE(ic, 0) AS ic,
         |    da.wsum AS wa, da.nsh AS na, db.wsum AS wb, db.nsh AS nb
         |  FROM cands c
         |  LEFT JOIN inter USING (doc_a, doc_b)
         |  JOIN docw da ON da.doc_id = c.doc_a
         |  JOIN docw db ON db.doc_id = c.doc_b),
         |j AS (
         |  SELECT (ic * $Fx) // (na + nb - ic) AS j_fx,
         |    (iw * $Fx) // (wa + wb - iw) AS jw_fx
         |  FROM scored)
         |SELECT CAST(LEAST(j_fx // 2000, 4) AS BIGINT) AS band_j,
         |  CAST(LEAST(jw_fx // 2000, 4) AS BIGINT) AS band_jw,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(CAST(SUM(j_fx) AS BIGINT) // COUNT(*) AS BIGINT)
         |    AS mean_j_fx,
         |  CAST(CAST(SUM(jw_fx) AS BIGINT) // COUNT(*) AS BIGINT)
         |    AS mean_jw_fx
         |FROM j GROUP BY 1, 2 ORDER BY band_j, band_jw""".stripMargin)
}
