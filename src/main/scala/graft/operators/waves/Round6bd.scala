package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Det, Hashing, IntersectCountExpr}

/** Round-6 fifty-sixth wave: estimator confidence intervals (dd37).
  *
  * Posture note: candidates from dd03's bucketed band join, hash-
  * sampled 1-in-4; signatures come as single array columns from the
  * barriered signature table, the jackknife sigma is CLOSED FORM in
  * the agreement count (k(16−k)/3840 — no resampling executes), and
  * the exact arm pays only for the sampled shortlist.
  */
object Round6bd extends Operators {

  private val Fx = 1000000L

  /** 1-in-N pair sample (bounds the exact-verify budget). */
  private val SampleMod = 4L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd37: sketch error bars, checked --------------------------------
    // An estimate without an error bar is a guess: for sampled
    // banded candidate pairs, the k/16 MinHash Jaccard estimate, its
    // closed-form jackknife sigma sqrt(k(16−k)/3840), and whether
    // the TRUE Jaccard falls within ±2σ — censused per exact-J band.
    // Coverage far from ~95% means the independence assumptions
    // behind the sketch are off for this corpus — the page that says
    // whether to trust dd12's numbers without re-verifying.
    "dd37_estimator_ci" -> { (s, d) =>
      val shingled = Dedup.barrier(Dedup.docShingles(s, d)
        .withColumn("sig", Dedup.minhashSig(col("shs"))))
      // r14 opt (ADVICE r13): band off the barrier's EXISTING sig
      // column — bandedSignaturesOf would re-run MinhashSigExpr over
      // every cached shingle array a second time
      val banded = Dedup.barrierAlso(Dedup.bandedFromSigCol(shingled, "sig"))
      val pairs = banded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_a"))
        .join(banded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_b")), Seq("band", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
        .filter(pmod(Hashing.hash64(concat_ws("|",
          col("doc_a").cast("string"), col("doc_b").cast("string"))),
          lit(SampleMod)) === 0)
      val scored = pairs
        .join(shingled.select(col("doc_id").as("doc_a"),
          col("shs").as("sh_a"), col("sig").as("sig_a")), Seq("doc_a"))
        .join(shingled.select(col("doc_id").as("doc_b"),
          col("shs").as("sh_b"), col("sig").as("sig_b")), Seq("doc_b"))
        .withColumn("k", aggregate(
          zip_with(col("sig_a"), col("sig_b"), (a, b) =>
            when(a === b, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x))
        .withColumn("common",
          IntersectCountExpr(col("sh_a"), col("sh_b")).cast("long"))
        .withColumn("j_fx",
          expr(s"(common * $Fx) div (size(sh_a) + size(sh_b) - common)"))
        .withColumn("est_fx", expr(s"(k * $Fx) div 16"))
        .withColumn("sigma_fx",
          floor(sqrt(expr("CAST(k * (16 - k) AS DOUBLE) / 3840.0")) * Fx)
            .cast("long"))
        .withColumn("covered",
          abs(col("est_fx") - col("j_fx")) <= lit(2L) * col("sigma_fx"))
        .withColumn("band",
          least(floor(col("j_fx") / lit(250000L)), lit(3L)).cast("long"))
      scored.groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(when(col("covered"), 1L).otherwise(0L)).cast("long")
            .as("n_covered"),
          sum(col("sigma_fx")).cast("long").as("sigma_mass"))
        .withColumn("coverage_fx", expr(s"(n_covered * $Fx) div n_pairs"))
        .withColumn("mean_sigma_fx", expr("sigma_mass div n_pairs"))
        .select(col("band"), col("n_pairs"), col("n_covered"),
          col("coverage_fx"), col("mean_sigma_fx"))
        .orderBy(col("band"))
    })

  def oracles: Map[String, String] = Map(
    "dd37_estimator_ci" -> {
      val agree = (0 until Dedup.MinhashK).map(k =>
        s"CASE WHEN sa.sig_$k = sb.sig_$k THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH ${Dedup.duckBandedCtes},
         |pairs AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |    FROM banded a JOIN banded b
         |      ON a.band = b.band AND a.band_hash = b.band_hash
         |     AND a.doc_id < b.doc_id)
         |  WHERE ${Hashing.duckHash64(
              "concat_ws('|', CAST(doc_a AS VARCHAR), CAST(doc_b AS VARCHAR))")}
         |    % $SampleMod = 0),
         |scored AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST($agree AS BIGINT) AS k,
         |    (len(list_intersect(ta.shs, tb.shs)) * $Fx) //
         |      (len(ta.shs) + len(tb.shs) - len(list_intersect(ta.shs, tb.shs)))
         |      AS j_fx
         |  FROM pairs p
         |  JOIN sigs sa ON sa.doc_id = p.doc_a
         |  JOIN sigs sb ON sb.doc_id = p.doc_b
         |  JOIN sh_t ta ON ta.doc_id = p.doc_a
         |  JOIN sh_t tb ON tb.doc_id = p.doc_b),
         |x AS (
         |  SELECT least(CAST(floor(j_fx / 250000.0) AS BIGINT), 3) AS band,
         |    (k * $Fx) // 16 AS est_fx,
         |    CAST(floor(sqrt(CAST(k * (16 - k) AS DOUBLE) / 3840.0) * $Fx)
         |      AS BIGINT) AS sigma_fx,
         |    j_fx
         |  FROM scored)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN abs(est_fx - j_fx) <= 2 * sigma_fx
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |  (CAST(SUM(CASE WHEN abs(est_fx - j_fx) <= 2 * sigma_fx
         |    THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(COUNT(*) AS BIGINT) AS coverage_fx,
         |  CAST(SUM(sigma_fx) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         |    AS mean_sigma_fx
         |FROM x GROUP BY band ORDER BY band""".stripMargin
    })
}
