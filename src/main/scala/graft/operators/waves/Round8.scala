package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 first wave: simhash hot-bucket cap pricing (dd40).
  *
  * Posture note: the pair frame is the SAME banded equi-join dd07
  * runs (never all-pairs), built once uncapped so every sweep arm
  * prices against the pigeonhole-exact full candidate set; the sweep
  * itself is a 4-literal explode over the bounded pair census — no
  * per-cap rejoin.
  */
object Round8 extends Operators {

  private val Fx = 1000000L

  /** Cap sweep arms — SimhashBucketCap (1024) is the shipped dial. */
  private val Caps = Seq(8L, 64L, 512L, 1024L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd40: simhash bucket-cap sweep with priced recall ---------------
    // dd23 prices the min-shingle cap; this prices the simhash one
    // (VERDICT r7) under the SHIPPED semantics — cap + star fallback:
    // per cap, the hot buckets, candidate pairs kept, and the
    // hamming<=3 TRUE-pair recall against the full banding
    // (pigeonhole-exact for this 4x15-bit layout, so "full" here IS
    // ground truth). A pair survives cap c iff some shared bucket is
    // cold (min_occ <= c) OR doc_a hubs a shared hot bucket
    // (hub_occ > c) — two folds per pair, then the 4-arm sweep is a
    // literal explode over the bounded pair census, no per-cap
    // rejoin.
    "dd40_simhash_cap_sweep" -> { (s, d) =>
      val banded = Dedup.barrier(Dedup.simhashBanded(s, d))
      val stats = Dedup.simhashBucketStats(banded)
      val pairs = banded
        .join(stats.select(col("band"), col("bval"), col("occ"), col("hub")),
          Seq("band", "bval"))
        .select(col("band"), col("bval"), col("occ"), col("hub"),
          col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
        .join(banded.select(col("band"), col("bval"),
          col("doc_id").as("doc_b"), col("simhash").as("sh_b")),
          Seq("band", "bval"))
        .filter(col("doc_a") < col("doc_b"))
        // keyed scatter (r13 opt): the per-pair fold, the 4-cap
        // explode and the sweep's partial aggregates all sit in the
        // stage after this exchange — byte-tiny, so AQE coalesced the
        // whole 2.8 s of compute onto ONE task (Probe stage census). doc_a is
        // a subset of the grouping keys: same shuffle, AQE-exempt.
        // DENSE form (r14): the fold is heavy per pair — the r14
        // size-aware cap measured 2.98 s vs 1.89 s dense in a
        // same-JVM A/B, so this site keeps full fan-out.
        .transform(df => graft.core.Par.scatterByDense(df, col("doc_a")))
        .groupBy(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
        .agg(min(col("occ")).as("min_occ"),
          max(when(col("hub") === col("doc_a"), col("occ"))).as("hub_occ"))
        .withColumn("is_true",
          when(expr("bit_count(sh_a ^ sh_b)") <= 3, 1L).otherwise(0L))
      val keptAt = col("min_occ") <= col("cap") ||
        coalesce(col("hub_occ"), lit(0L)) > col("cap")
      val pc = pairs
        .withColumn("cap", explode(array(Caps.map(lit): _*)))
        .groupBy(col("cap"))
        .agg(count(lit(1)).cast("long").as("n_pairs_full"),
          sum(when(keptAt, 1L).otherwise(0L))
            .cast("long").as("n_pairs_kept"),
          sum(col("is_true")).cast("long").as("n_true_full"),
          sum(when(keptAt, col("is_true")).otherwise(0L))
            .cast("long").as("n_true_kept"))
      val bc = stats
        .withColumn("cap", explode(array(Caps.map(lit): _*)))
        .groupBy(col("cap"))
        .agg(sum(when(col("occ") > col("cap"), 1L).otherwise(0L))
          .cast("long").as("n_hot_buckets"))
      pc.join(bc, Seq("cap"))
        .withColumn("cand_recall_fx",
          expr(s"(n_pairs_kept * $Fx) div greatest(n_pairs_full, 1)"))
        .withColumn("true_recall_fx",
          expr(s"(n_true_kept * $Fx) div greatest(n_true_full, 1)"))
        .select(col("cap"), col("n_hot_buckets"), col("n_pairs_full"),
          col("n_pairs_kept"), col("n_true_full"), col("n_true_kept"),
          col("cand_recall_fx"), col("true_recall_fx"))
        .orderBy(col("cap"))
    })

  def oracles: Map[String, String] = Map(
    "dd40_simhash_cap_sweep" -> {
      val dd04 = Dedup.oracles("dd04_simhash")
      s"""WITH sims AS ($dd04),
         |banded AS (
         |  SELECT doc_id, simhash, b AS band,
         |    (simhash >> (b * ${Dedup.SimhashBandBits})) & ${Dedup.SimhashBandMask}
         |      AS bval
         |  FROM sims CROSS JOIN
         |    (SELECT unnest(range(${Dedup.SimhashBands})) AS b) t),
         |occ AS (
         |  SELECT band, bval, CAST(COUNT(*) AS BIGINT) AS occ,
         |    MIN(doc_id) AS hub
         |  FROM banded GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    MIN(o.occ) AS min_occ,
         |    MAX(CASE WHEN o.hub = a.doc_id THEN o.occ END) AS hub_occ,
         |    CASE WHEN bit_count(xor(a.simhash, b.simhash)) <= 3
         |      THEN 1 ELSE 0 END AS is_true
         |  FROM banded a
         |  JOIN banded b
         |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
         |  JOIN occ o ON o.band = a.band AND o.bval = a.bval
         |  GROUP BY a.doc_id, b.doc_id, a.simhash, b.simhash),
         |caps AS (SELECT unnest([${Caps.mkString(", ")}]) AS cap),
         |pc AS (
         |  SELECT cap, CAST(COUNT(*) AS BIGINT) AS n_pairs_full,
         |    CAST(SUM(CASE WHEN min_occ <= cap OR COALESCE(hub_occ, 0) > cap
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_kept,
         |    CAST(SUM(is_true) AS BIGINT) AS n_true_full,
         |    CAST(SUM(CASE WHEN min_occ <= cap OR COALESCE(hub_occ, 0) > cap
         |      THEN is_true ELSE 0 END) AS BIGINT) AS n_true_kept
         |  FROM caps CROSS JOIN pairs GROUP BY cap),
         |bc AS (
         |  SELECT cap, CAST(SUM(CASE WHEN occ > cap THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hot_buckets
         |  FROM caps CROSS JOIN occ GROUP BY cap)
         |SELECT CAST(pc.cap AS BIGINT) AS cap, n_hot_buckets, n_pairs_full,
         |  n_pairs_kept, n_true_full, n_true_kept,
         |  (n_pairs_kept * $Fx) // GREATEST(n_pairs_full, 1) AS cand_recall_fx,
         |  (n_true_kept * $Fx) // GREATEST(n_true_full, 1) AS true_recall_fx
         |FROM pc JOIN bc USING (cap) ORDER BY cap""".stripMargin
    })
}
