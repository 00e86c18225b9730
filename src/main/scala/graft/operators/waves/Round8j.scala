package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 tenth wave: b-bit MinHash pricing (dd42).
  *
  * Posture note: a 100 TB dedup pass stores the signature table, and
  * 16×64-bit signatures are the storage bill. b-bit MinHash (Li &
  * König, CACM 2011) keeps only the low b bits of each hash and
  * corrects for accidental collisions: Ĵ = (f − 2⁻ᵇ)/(1 − 2⁻ᵇ) for
  * match fraction f. dd42 prices the dial the way dd19 prices K: for
  * b ∈ {1,2,4,8}, the measured |Ĵ − J| error against exact Jaccard
  * over the banded candidate pairs (dd03's shortlist — never
  * all-pairs) next to the bits-per-signature it buys. All estimator
  * arithmetic is fixed-point integer on both engines.
  */
object Round8j extends Operators {

  private val Bs = Seq(1, 2, 4, 8)
  private val Fx = 10000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd42: b-bit signature compression sweep --------------------------
    "dd42_bbit_minhash" -> { (s, d) =>
      // arrays never ride the candidate shuffle (dd08's lesson): the
      // banded sides are slim (band, band_hash, doc_id); shingle and
      // signature arrays rejoin from the two cached tables for the
      // distinct survivor pairs only
      val sh = Dedup.barrier(Dedup.docShingles(s, d))
      val sig = Dedup.barrierAlso(
        sh.select(col("doc_id"), Dedup.minhashSig(col("shs")).as("sig")))
      val banded = sig.select(col("doc_id"),
          posexplode(array(Dedup.bandHashCols(col("sig")): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_hash")
      val cand = banded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_a"))
        .join(banded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_b")), Seq("band", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      val scored = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")), Seq("doc_b"))
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
        .withColumn("common",
          graft.functions.IntersectCountExpr(col("sh_a"), col("sh_b")))
        .withColumn("j_fx", expr(
          s"(common * $Fx) div (size(sh_a) + size(sh_b) - common)"))
      // all four match counts in ONE pair-frame pass, then stacked —
      // never four re-joins over the same candidates
      val matchCols = Bs.map { b =>
        val m = 1L << b // low-b-bit alphabet size; base rate = 1/m
        expr(s"aggregate(zip_with(sig_a, sig_b, (x, y) -> " +
          s"CASE WHEN x % $m = y % $m THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)")
          .as(s"nm_$b")
      }
      val stacked = scored.select(col("j_fx") +: matchCols: _*)
        .select(col("j_fx"), expr(
          s"stack(${Bs.size}, ${Bs.map(b => s"${b}L, nm_$b").mkString(", ")}) " +
          "AS (b, n_match)"))
        // Ĵfx = (f − 1/m)/(1 − 1/m) in fixed point over K hashes:
        // (n_match·m − K) · Fx div (K·(m−1)), clamped at 0
        .withColumn("m", expr("shiftleft(1L, cast(b AS INT))"))
        .withColumn("jhat_fx", greatest(lit(0L), expr(
          s"((n_match * m - ${Dedup.MinhashK}) * $Fx) div " +
          s"(${Dedup.MinhashK} * (m - 1))")))
      stacked.groupBy(col("b"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(abs(col("jhat_fx") - col("j_fx"))).cast("long").as("_sae"),
          max(abs(col("jhat_fx") - col("j_fx"))).cast("long").as("max_abs_err_fx"))
        .withColumn("mae_fx", expr("_sae div n_pairs"))
        .withColumn("bits_per_sig", (col("b") * Dedup.MinhashK).cast("long"))
        .select(col("b"), col("bits_per_sig"), col("n_pairs"), col("mae_fx"),
          col("max_abs_err_fx"))
        .orderBy(col("b"))
    })

  def oracles: Map[String, String] = {
    val jac = s"""(len(list_intersect(a.shs, b.shs)) * $Fx) //
                 |      (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))""".stripMargin
    val perB = Bs.map { b =>
      val m = 1L << b
      val matches = (0 until Dedup.MinhashK).map(k =>
        s"CASE WHEN sa.sig_$k % $m = sb.sig_$k % $m THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""SELECT $b AS b, j_fx,
         |    GREATEST(0, (($matches) * $m - ${Dedup.MinhashK}) * $Fx //
         |      (${Dedup.MinhashK} * ($m - 1))) AS jhat_fx
         |  FROM pairs
         |  JOIN sigs sa ON sa.doc_id = doc_a
         |  JOIN sigs sb ON sb.doc_id = doc_b""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    Map("dd42_bbit_minhash" ->
      s"""WITH ${Dedup.duckBandedCtes},
         |pairs AS (
         |  SELECT doc_a, doc_b, $jac AS j_fx FROM (
         |    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |    FROM banded l JOIN banded r
         |      ON l.band = r.band AND l.band_hash = r.band_hash
         |      AND l.doc_id < r.doc_id) p
         |  JOIN sh_t a ON a.doc_id = p.doc_a
         |  JOIN sh_t b ON b.doc_id = p.doc_b),
         |est AS (
         |  $perB)
         |SELECT CAST(b AS BIGINT) AS b,
         |  CAST(b * ${Dedup.MinhashK} AS BIGINT) AS bits_per_sig,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(CAST(SUM(abs(jhat_fx - j_fx)) AS BIGINT) // COUNT(*) AS BIGINT)
         |    AS mae_fx,
         |  CAST(MAX(abs(jhat_fx - j_fx)) AS BIGINT) AS max_abs_err_fx
         |FROM est GROUP BY b ORDER BY b""".stripMargin)
  }
}
