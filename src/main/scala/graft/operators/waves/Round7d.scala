package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-7 fourth wave: duplicate-distance octaves (dd39) and
  * per-language length quantiles (tx36).
  *
  * Posture notes: dd39's pairs come from the shared banded equi-join
  * (dd03's candidate path — never all-pairs) and fold straight to a
  * ≤64-row octave census; tx36 is one narrow scan through
  * [[Rank.exactQuantilesByKey]] (group-partitioned windows, exact
  * integer rank picks).
  */
object Round7d extends Operators {

  private val Fx = 1000000L

  /** tx36: percentiles of per-doc token counts. */
  val LenPercentiles: Seq[Int] = Seq(50, 90, 99)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd39: duplicate-distance octaves ---------------------------------
    // ev60 prices the dedup window in TIME; this measures the same
    // dial in CORPUS POSITION: over banded candidate pairs (dd03's
    // equi-join, dedup'd), the id-distance doc_b − doc_a bucketed
    // into power-of-2 octaves — how far apart duplicates actually
    // sit. A mass concentrated at low octaves means a bounded
    // dedup window (incremental ingest, dd27's setting) catches
    // nearly everything; a long tail prices what full-corpus dedup
    // buys over windowed. Slim pair ids only; ≤64-row census.
    "dd39_dup_distance_octaves" -> { (s, d) =>
      val banded = Dedup.barrier(Dedup.bandedSignatures(s, d))
      val l = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
      val r = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
      val pairs = l.join(r, Seq("band", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      val oct = pairs
        .withColumn("octave",
          (length(bin((col("doc_b") - col("doc_a")).cast("long"))) - 1).cast("int"))
        .groupBy(col("octave"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          min(col("doc_b") - col("doc_a")).cast("long").as("min_dist"),
          max(col("doc_b") - col("doc_a")).cast("long").as("max_dist"))
      val t = oct.agg(sum(col("n_pairs")).cast("long").as("total"))
      oct.crossJoin(broadcast(t))
        .withColumn("share_fx", expr(s"(n_pairs * $Fx) div total"))
        .select(col("octave"), col("n_pairs"), col("min_dist"),
          col("max_dist"), col("share_fx"))
        .orderBy(col("octave"))
    },

    // --- tx36: sequence-length quantiles per language ---------------------
    // The context-length budget is set per corpus slice, not
    // globally: per labeled language, exact p50/p90/p99/max token
    // counts (integer rank picks — Rank.exactQuantilesByKey, the
    // percentile_approx replacement) — which languages blow the
    // budget and which waste padding. One narrow scan.
    "tx36_len_quantiles_by_lang" -> { (s, d) =>
      val lens = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_toks"))
        .filter(col("n_toks") > 0)
      Rank.exactQuantilesByKey(lens, "lang", col("n_toks"),
          col("doc_id"), LenPercentiles, p => s"p${p}_toks", "max_toks")
        .withColumnRenamed("n_rows", "n_docs")
        .orderBy(col("lang"))
    })

  def oracles: Map[String, String] = Map(
    "dd39_dup_distance_octaves" ->
      s"""WITH ${Dedup.duckBandedCtes},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |oct AS (
         |  SELECT CAST(length(bin(doc_b - doc_a)) - 1 AS INTEGER) AS octave,
         |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(MIN(doc_b - doc_a) AS BIGINT) AS min_dist,
         |    CAST(MAX(doc_b - doc_a) AS BIGINT) AS max_dist
         |  FROM pairs GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS total FROM oct)
         |SELECT octave, n_pairs, min_dist, max_dist,
         |  (n_pairs * $Fx) // total AS share_fx
         |FROM oct CROSS JOIN t ORDER BY octave""".stripMargin,

    "tx36_len_quantiles_by_lang" -> {
      val pickCols = LenPercentiles.map(p =>
        s"MAX(CASE WHEN rn = ((n - 1) * $p) // 100 + 1 THEN n_toks END) AS p${p}_toks")
        .mkString(",\n  ")
      s"""WITH lens AS (
         |  SELECT lang, doc_id, CAST(len(${Dedup.duckToks}) AS BIGINT) AS n_toks
         |  FROM documents WHERE len(${Dedup.duckToks}) > 0),
         |r AS (
         |  SELECT lang, n_toks,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY n_toks, doc_id) AS BIGINT) AS rn,
         |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM lens)
         |SELECT lang, MAX(n) AS n_docs,
         |  $pickCols,
         |  MAX(n_toks) AS max_toks
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
