package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-5 fifteenth wave: capped LSH banding (dd23) and the
  * character-class quality profile (tx23).
  *
  * Posture notes: dd23 is the production MITIGATION for the hot-
  * bucket blowup dd17/dd20 measure — drop buckets whose occupancy
  * exceeds a cap before the pair join and price exactly what that
  * costs in candidate and true-pair recall. It reuses dd03's banding
  * (one shared definition both sides) and dd02's exact-Jaccard
  * arithmetic; the expensive stages are a bucket-occupancy aggregate
  * and the SAME bucket equi-joins dd03 runs, never anything
  * quadratic. tx23 is one narrow projection per doc (regex count via
  * length deltas — all ASCII, verified) folded to a sources-sized
  * census.
  */
object Round5o extends Operators {

  private val Fx = 1000000L

  /** dd23: max docs per (band, band_hash) bucket before it is dropped
    * as boilerplate-hot. A bucket of occupancy m contributes m(m−1)/2
    * pairs, so the cap bounds per-bucket pair work at Cap²/2. Set to
    * 2 so the synthetic corpus (occupancies 1/2/3 at sf0.01) actually
    * exercises the drop path — and the census shows the
    * OR-construction recovering capped pairs through their other
    * bands.
    */
  val BucketCap = 2L

  /** dd23: exact-Jaccard threshold defining a TRUE duplicate pair
    * (dd02's dial) for the recall pricing.
    */
  val TrueJaccardFx = 500000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd23: capped banding with priced recall ----------------------
    // At 100 TB a single boilerplate bucket with 10^6 members would
    // contribute 5·10^11 pairs — the mitigation every production LSH
    // join ships is an occupancy cap. This operator drops buckets
    // with occupancy > BucketCap, regenerates candidates from the
    // kept buckets, and prices the damage: candidate recall and
    // TRUE-pair recall (exact Jaccard ≥ 0.5 among the full candidate
    // set). One occupancy aggregate + the dd03 bucket equi-joins;
    // arrays rejoin only for the bounded candidate set (the dd08
    // slim-join lesson).
    "dd23_capped_banding" -> { (s, d) =>
      // r13 opt: barrier the shingle table FIRST and band off the
      // cache — banding and the exact-Jaccard rejoin were each
      // running their own split+md5 shingle lineage
      val shs = Dedup.barrier(Dedup.docShingles(s, d))
      val banded = Dedup.barrierAlso(Dedup.bandedSignaturesOf(shs))
      val occ = banded.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("occ"))
      val bucketCensus = occ.agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("occ") > BucketCap, 1L).otherwise(0L))
          .cast("long").as("n_hot_dropped"))
      val kept = occ.filter(col("occ") <= BucketCap)
        .select(col("band"), col("band_hash"))
      def pairsOf(src: DataFrame): DataFrame = {
        val l = src.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
        val r = src.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
        l.join(r, Seq("band", "band_hash")).filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b")).distinct()
      }
      val fullPairs = pairsOf(banded)
      val cappedPairs = pairsOf(banded.join(kept, Seq("band", "band_hash")))
        .withColumn("kept", lit(1L))
      // exact Jaccard only for the bounded full candidate set: slim
      // pair ids joined back to the barriered shingle arrays (shs,
      // barriered above)
      val flagged = fullPairs
        .join(cappedPairs, Seq("doc_a", "doc_b"), "left")
        .join(shs.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")), Seq("doc_a"))
        .join(shs.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")), Seq("doc_b"))
        .withColumn("common", graft.functions.IntersectCountExpr(col("sh_a"), col("sh_b")))
        .withColumn("uni", (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("common"))
        .withColumn("is_true",
          when(expr(s"(common * $Fx) div uni") >= TrueJaccardFx, 1L).otherwise(0L))
      val pairCensus = flagged.agg(
        count(lit(1)).as("cand_full"),
        coalesce(sum(col("kept")), lit(0L)).cast("long").as("cand_capped"),
        sum(col("is_true")).cast("long").as("true_full"),
        coalesce(sum(col("is_true") * col("kept")), lit(0L))
          .cast("long").as("true_kept"))
      bucketCensus.crossJoin(pairCensus)
        .withColumn("cand_recall_fx",
          expr(s"(cand_capped * $Fx) div greatest(cand_full, 1)"))
        .withColumn("true_recall_fx",
          expr(s"(true_kept * $Fx) div greatest(true_full, 1)"))
        .select(col("n_buckets"), col("n_hot_dropped"), col("cand_full"),
          col("cand_capped"), col("true_full"), col("true_kept"),
          col("cand_recall_fx"), col("true_recall_fx"))
    },

    // --- tx23: character-class quality profile ------------------------
    // OCR noise and markup residue show up as digit/punctuation mass
    // before any tokenizer runs: per source, the fixed-point shares
    // of letter / digit / whitespace / other characters. Class counts
    // are length deltas under regexp_replace (the corpus is ASCII —
    // verified — so char classes agree between engines), one narrow
    // projection per doc, one sources-sized census.
    "tx23_charclass_profile" -> { (s, d) =>
      def clsCount(c: String) =
        (length(col("text")) - length(regexp_replace(col("text"), c, ""))).cast("long")
      Tables.documents(s, d)
        .select(col("source"), length(col("text")).cast("long").as("n"),
          clsCount("[A-Za-z]").as("alpha"), clsCount("[0-9]").as("digit"),
          clsCount("\\s").as("space"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("long").as("n_chars"),
          sum(col("alpha")).cast("long").as("n_alpha"),
          sum(col("digit")).cast("long").as("n_digit"),
          sum(col("space")).cast("long").as("n_space"))
        .withColumn("alpha_fx", expr(s"(n_alpha * $Fx) div n_chars"))
        .withColumn("digit_fx", expr(s"(n_digit * $Fx) div n_chars"))
        .withColumn("space_fx", expr(s"(n_space * $Fx) div n_chars"))
        .withColumn("other_fx", expr(
          s"((n_chars - n_alpha - n_digit - n_space) * $Fx) div n_chars"))
        .select(col("source"), col("n_docs"), col("n_chars"),
          col("alpha_fx"), col("digit_fx"), col("space_fx"), col("other_fx"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    "dd23_capped_banding" ->
      s"""WITH ${Dedup.duckBandedCtes},
         |occ AS (
         |  SELECT band, band_hash, CAST(COUNT(*) AS BIGINT) AS occ
         |  FROM banded GROUP BY band, band_hash),
         |bc AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |    CAST(SUM(CASE WHEN occ > $BucketCap THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hot_dropped
         |  FROM occ),
         |fullp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |keptb AS (SELECT band, band_hash FROM occ WHERE occ <= $BucketCap),
         |cappedp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS kept
         |  FROM banded a
         |  JOIN keptb k ON a.band = k.band AND a.band_hash = k.band_hash
         |  JOIN banded b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |flagged AS (
         |  SELECT f.doc_a, f.doc_b, c.kept,
         |    CASE WHEN (CAST(len(list_intersect(sa.shs, sb.shs)) AS BIGINT)
         |        * $Fx) // CAST(len(sa.shs) + len(sb.shs)
         |        - len(list_intersect(sa.shs, sb.shs)) AS BIGINT)
         |      >= $TrueJaccardFx THEN 1 ELSE 0 END AS is_true
         |  FROM fullp f
         |  LEFT JOIN cappedp c ON f.doc_a = c.doc_a AND f.doc_b = c.doc_b
         |  JOIN sh_t sa ON f.doc_a = sa.doc_id
         |  JOIN sh_t sb ON f.doc_b = sb.doc_id),
         |pc AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS cand_full,
         |    CAST(COALESCE(SUM(kept), 0) AS BIGINT) AS cand_capped,
         |    CAST(SUM(is_true) AS BIGINT) AS true_full,
         |    CAST(COALESCE(SUM(is_true * kept), 0) AS BIGINT) AS true_kept
         |  FROM flagged)
         |SELECT n_buckets, n_hot_dropped, cand_full, cand_capped,
         |  true_full, true_kept,
         |  (cand_capped * $Fx) // greatest(cand_full, 1) AS cand_recall_fx,
         |  (true_kept * $Fx) // greatest(true_full, 1) AS true_recall_fx
         |FROM bc CROSS JOIN pc""".stripMargin,

    "tx23_charclass_profile" -> {
      def cls(c: String) =
        s"length(text) - length(regexp_replace(text, '$c', '', 'g'))"
      s"""WITH d AS (
         |  SELECT source, CAST(length(text) AS BIGINT) AS n,
         |    CAST(${cls("[A-Za-z]")} AS BIGINT) AS alpha,
         |    CAST(${cls("[0-9]")} AS BIGINT) AS digit,
         |    CAST(${cls("\\s")} AS BIGINT) AS space
         |  FROM documents),
         |a AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n) AS BIGINT) AS n_chars,
         |    CAST(SUM(alpha) AS BIGINT) AS n_alpha,
         |    CAST(SUM(digit) AS BIGINT) AS n_digit,
         |    CAST(SUM(space) AS BIGINT) AS n_space
         |  FROM d GROUP BY source)
         |SELECT source, n_docs, n_chars,
         |  (n_alpha * $Fx) // n_chars AS alpha_fx,
         |  (n_digit * $Fx) // n_chars AS digit_fx,
         |  (n_space * $Fx) // n_chars AS space_fx,
         |  ((n_chars - n_alpha - n_digit - n_space) * $Fx) // n_chars AS other_fx
         |FROM a ORDER BY source""".stripMargin
    })
}
