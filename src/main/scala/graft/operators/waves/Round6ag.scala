package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.IntersectCountExpr

/** Round-6 thirty-third wave: candidate-generator agreement census
  * (dd33).
  *
  * Posture note: both candidate sets come from their existing
  * bucketed band equi-joins (dd03's MinHash banding, dd07's SimHash
  * banding — never all-pairs), the slim pair frames full-outer join
  * on the pair key, and the exact-Jaccard verify pays only for the
  * union of the two shortlists with arrays rejoined from the
  * barriered shingle table.
  */
object Round6ag extends Operators {

  private val Fx = 1000000L

  /** Exact-Jaccard line that counts as a true duplicate (dd32's). */
  private val DupJfx = 500000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd33: MinHash vs SimHash candidate agreement --------------------
    // The two standard near-dup candidate generators disagree at the
    // margins: MinHash banding is Jaccard-tuned, SimHash banding is
    // Hamming-tuned, and the pairs only one of them surfaces are
    // exactly the recall a single-method pipeline silently loses.
    // Per agreement class (both / minhash_only / simhash_only):
    // candidate pairs, true duplicates (exact Jaccard ≥ 0.5), and
    // the mean Jaccard — the method-choice page, measured.
    "dd33_method_agreement" -> { (s, d) =>
      val shingled = Dedup.barrier(Dedup.docShingles(s, d))
      val mhBanded = Dedup.barrierAlso(Dedup.bandedSignaturesOf(shingled))  // r13 opt: read the barriered shingle cache, not a second md5 lineage
      // Tagged DISTINCT pair streams + one aggregate (round 11,
      // VERDICT r10 #2): the full-outer sorted both pair frames; a
      // tagged union classified by ONE hash aggregate does the same
      // merge sort-free. The per-generator distincts STAY — a
      // raw-union variant was measured at sf10 and its pre-distinct
      // pair mass (each pair repeated per shared band) blew the
      // shuffle-spill disk budget that the distinct'd frames fit.
      val mhPairs = mhBanded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_a"))
        .join(mhBanded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_b")), Seq("band", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
        .select(col("doc_a"), col("doc_b"),
          lit(1L).as("mh"), lit(0L).as("sh"))
      // capped banding + star fallback (VERDICT r7): same hot-bucket
      // guard as dd07 — ONE definition (simhashCandidatePairs), so
      // the agreement census measures exactly the candidate generator
      // the production join runs
      val shBanded = Dedup.barrierAlso(Dedup.simhashBanded(s, d))
      val shPairs = Dedup.simhashCandidatePairs(shBanded)
        .select(col("doc_a"), col("doc_b"),
          lit(0L).as("mh"), lit(1L).as("sh"))
      mhPairs.unionByName(shPairs)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("mh")).as("mh"), max(col("sh")).as("sh"))
        .withColumn("method",
          when(col("mh") === 1L && col("sh") === 1L, "both")
            .when(col("mh") === 1L, "minhash_only")
            .otherwise("simhash_only"))
        .join(shingled.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")),
          Seq("doc_a"))
        .join(shingled.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")),
          Seq("doc_b"))
        .withColumn("common", IntersectCountExpr(col("sh_a"), col("sh_b")).cast("long"))
        .withColumn("j_fx",
          expr(s"(common * $Fx) div (size(sh_a) + size(sh_b) - common)"))
        .groupBy(col("method"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(when(col("j_fx") >= DupJfx, 1L).otherwise(0L)).cast("long")
            .as("n_dups"),
          sum(col("j_fx")).cast("long").as("sum_j_fx"))
        .withColumn("mean_j_fx", expr("sum_j_fx div n_pairs"))
        .select(col("method"), col("n_pairs"), col("n_dups"), col("mean_j_fx"))
        .orderBy(col("method"))
    })

  def oracles: Map[String, String] = Map(
    "dd33_method_agreement" -> {
      val dd04 = Dedup.oracles("dd04_simhash")
      s"""WITH ${Dedup.duckBandedCtes},
         |mhp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |sims AS ($dd04),
         |sbanded AS (
         |  SELECT doc_id, simhash, b AS band,
         |    (simhash >> (b * ${Dedup.SimhashBandBits})) & ${Dedup.SimhashBandMask}
         |      AS bval
         |  FROM sims CROSS JOIN
         |    (SELECT unnest(range(${Dedup.SimhashBands})) AS b) t),
         |${Dedup.duckSimhashPairCtes("sbanded")},
         |shp AS (SELECT DISTINCT doc_a, doc_b FROM sbanded_pairs),
         |cls AS (
         |  SELECT COALESCE(m.doc_a, s.doc_a) AS doc_a,
         |    COALESCE(m.doc_b, s.doc_b) AS doc_b,
         |    CASE WHEN m.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
         |         WHEN m.doc_a IS NOT NULL THEN 'minhash_only'
         |         ELSE 'simhash_only' END AS method
         |  FROM mhp m FULL OUTER JOIN shp s
         |    ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b),
         |scored AS (
         |  SELECT c.method,
         |    (len(list_intersect(sa.shs, sb.shs)) * $Fx) //
         |      (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))
         |      AS j_fx
         |  FROM cls c
         |  JOIN sh_t sa ON sa.doc_id = c.doc_a
         |  JOIN sh_t sb ON sb.doc_id = c.doc_b)
         |SELECT method, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN j_fx >= $DupJfx THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dups,
         |  CAST(SUM(j_fx) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_j_fx
         |FROM scored GROUP BY method ORDER BY method""".stripMargin
    })
}
