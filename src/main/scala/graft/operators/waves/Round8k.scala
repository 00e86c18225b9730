package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-8 eleventh wave: conditional-surprisal quality filter (tx38),
  * KMV/theta sketch set operations (q76), radius search census (ss36).
  *
  * Three gaps in the existing families:
  *  - tx12/tx13 score docs by RAW token/bigram frequency; a fluency
  *    filter wants CONDITIONAL predictability P(w2|w1) — common words
  *    in garbled order score high on tx13 but low here.
  *  - q61 prices ONE KMV sketch; real rollups need the mergeable
  *    ALGEBRA — union and intersection of sketches built on disjoint
  *    partitions (the whole point of sketches at 100 TB: combine
  *    per-shard summaries without re-reading the facts).
  *  - ss01..ss35 are all top-k; a RANGE (epsilon-ball) query — "every
  *    neighbor above cosine τ" — is the dedup-threshold-picking
  *    primitive and has different cost behavior (unbounded result
  *    set, so the census reports the degree distribution envelope).
  */
object Round8k extends Operators {

  private val Fx = 10000L

  /** q76: sketch size (matches q61's bottom-k). */
  val KmvK = 64
  private val HalfSpace = 1L << 30
  private val OpenTheta = Long.MaxValue

  /** ss36: cosine thresholds, fixed-point 1e4 — calibrated to the
    * synthetic corpus's cosine range (p90 ≈ 0.16, max ≈ 0.37 against
    * the panel), so each dial bites a different decade of density.
    */
  private val Taus = Seq(1500L, 2500L, 3500L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- tx38: octave-quantized conditional surprisal -----------------
    // Per adjacent token pair, surprisal ≈ -log2 P(w2|w1) with
    // P(w2|w1) = c(w1 w2)/c(w1·) over corpus bigram counts. Both logs
    // are floor-log2 of INTEGER counts (bit length − 1), so the score
    // is integer-exact on both engines — no libm. Shuffle shape is
    // tx13's: one fact-sized bigram aggregate, a vocab-sized first-
    // word rollup, then one rejoin keyed on the bigram.
    "tx38_surprisal_filter" -> { (s, d) =>
      val bg = Dedup.barrier(Tables.documents(s, d)
        .withColumn("toks", split(trim(col("text")), "\\s+"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)).as("bigram")))).as("p"))
        .select(col("doc_id"), col("p.w1"), col("p.bigram")))
      val c2 = bg.groupBy(col("w1"), col("bigram"))
        .agg(count(lit(1)).cast("long").as("c2"))
      // c1 folds from the (w1, bigram) table — vocab-sized, never a
      // second pass over the fact bigrams
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).cast("long").as("c1"))
      // floor-log2(n) = length(bin(n)) − 1 for n ≥ 1; the −1s cancel
      val freq = c2.join(c1, Seq("w1"))
        .select(col("bigram"),
          (length(bin(col("c1"))) - length(bin(col("c2")))).cast("long").as("oct"))
      bg.join(freq, Seq("bigram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          sum(col("oct")).cast("long").as("sum_oct"))
        .withColumn("mean_oct_fx", expr(s"(sum_oct * $Fx) div n_bigrams"))
        .withColumn("band",
          when(col("mean_oct_fx") < lit(2 * Fx), lit("predictable"))
            .when(col("mean_oct_fx") < lit(5 * Fx), lit("typical"))
            .otherwise(lit("surprising")))
        .select(col("doc_id"), col("n_bigrams"), col("sum_oct"),
          col("mean_oct_fx"), col("band"))
        .orderBy(col("doc_id"))
    },

    // --- q76: KMV sketch set operations -------------------------------
    // Distinct users on even vs odd epoch-days (two disjoint event
    // partitions, as per-shard sketches would be built). Union = KMV
    // over the merged kept sets (the standard bottom-k merge);
    // intersection two ways: theta (common kept hashes below
    // θ = min(θ_A, θ_B), scaled by 2^60/θ) and inclusion–exclusion.
    // A sketch with n_kept < k kept EVERYTHING, so its θ is the open
    // interval (exact branch). All arithmetic is the q61 integer
    // 2^30-split division — bit-exact on both engines.
    "q76_kmv_setops" -> { (s, d) =>
      val hashed = Dedup.barrier(Tables.events(s, d)
        .select(expr("((unix_micros(ts) div 86400000000) % 2 + 2) % 2").as("cohort"),
          Hashing.hash64(col("user_id").cast("string")).as("h"))
        .distinct())
      val truth = hashed.groupBy(col("h"))
        .agg(max(when(col("cohort") === 0, 1L).otherwise(0L)).as("in_a"),
          max(when(col("cohort") === 1, 1L).otherwise(0L)).as("in_b"))
        .agg(sum(col("in_a")).cast("long").as("n_true_a"),
          sum(col("in_b")).cast("long").as("n_true_b"),
          count(lit(1)).cast("long").as("n_true_union"),
          sum(col("in_a") * col("in_b")).cast("long").as("n_true_inter"))
      val kept = Dedup.barrierAlso(Rank.topKByKey(hashed, Seq(col("cohort")),
        Seq(col("h").asc), KmvK, saltOn = col("h")).drop("rk"))
      def kmvEst(hk: String, n: String) =
        when(col(n) < KmvK, col(n)).otherwise(expr(
          s"${(KmvK - 1).toLong * HalfSpace} div greatest($hk div $HalfSpace, 1)"))
          .cast("long")
      val summ = kept.groupBy(col("cohort"))
        .agg(max(col("h")).as("h_k"), count(lit(1)).cast("long").as("n_kept"))
        .withColumn("est", kmvEst("h_k", "n_kept"))
        .withColumn("theta",
          when(col("n_kept") < KmvK, lit(OpenTheta)).otherwise(col("h_k")))
      val s2 = summ.agg(
        max(when(col("cohort") === 0, col("est"))).cast("long").as("est_a"),
        max(when(col("cohort") === 1, col("est"))).cast("long").as("est_b"),
        min(col("theta")).as("theta"))
      // union sketch: bottom-k of the ≤2k merged kept hashes
      val usum = kept.select(col("h")).distinct()
        .orderBy(col("h")).limit(KmvK)
        .agg(max(col("h")).as("u_hk"), count(lit(1)).cast("long").as("u_n"))
        .select(kmvEst("u_hk", "u_n").as("est_union"))
      val common = kept.filter(col("cohort") === 0).select(col("h"))
        .join(kept.filter(col("cohort") === 1).select(col("h")), Seq("h"))
        .crossJoin(broadcast(s2.select(col("theta").as("_th"))))
        .filter(col("h") < col("_th"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      truth.crossJoin(broadcast(s2)).crossJoin(broadcast(usum))
        .crossJoin(broadcast(common))
        .withColumn("est_inter_theta",
          when(col("theta") === OpenTheta, col("n_common")).otherwise(expr(
            s"(n_common * $HalfSpace) div greatest(theta div $HalfSpace, 1)"))
            .cast("long"))
        .withColumn("est_inter_ie",
          (col("est_a") + col("est_b") - col("est_union")).cast("long"))
        .select(col("n_true_a"), col("n_true_b"), col("n_true_union"),
          col("n_true_inter"), col("est_a"), col("est_b"), col("est_union"),
          col("est_inter_theta"), col("est_inter_ie"))
    },

    // --- ss36: epsilon-ball (radius) search census --------------------
    // For a fixed panel (vec_id ≡ 0 mod 97, ss35's panel rule —
    // size grows O(N/97), each query a broadcast row), count every
    // corpus neighbor with
    // truncated cosine ≥ τ for three τ dials. One scan over the
    // corpus scores all panel queries (panel travels broadcast; the
    // scan side never shuffles); the τ explode happens AFTER the
    // ≥ min(τ) filter so only qualifying pairs fan out.
    "ss36_radius_census" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
      val panel = e.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"))
      val deg = e.crossJoin(broadcast(panel))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos_fx", floor(
          Similarity.dot(col("emb"), col("q_emb"))
            / (col("norm") * col("q_norm")) * Fx).cast("long"))
        .filter(col("cos_fx") >= Taus.min)
        .withColumn("tau", explode(array(Taus.map(lit): _*)))
        .filter(col("cos_fx") >= col("tau"))
        .groupBy(col("tau"), col("q_id"))
        .agg(count(lit(1)).cast("long").as("deg"))
      deg.groupBy(col("tau"))
        .agg(sum(col("deg")).cast("long").as("n_pairs"),
          count(lit(1)).cast("long").as("n_active_queries"),
          max(col("deg")).cast("long").as("max_degree"))
        .orderBy(col("tau"))
    })

  def oracles: Map[String, String] = Map(
    "tx38_surprisal_filter" ->
      s"""WITH base AS (
         |  SELECT doc_id, ${Dedup.duckToks} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(len(toks) - 1), i -> toks[i+1])) AS w1,
         |    unnest(list_transform(range(len(toks) - 1),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
         |  FROM base WHERE len(toks) >= 2),
         |c2 AS (SELECT w1, bigram, CAST(COUNT(*) AS BIGINT) AS c2
         |  FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         |freq AS (SELECT bigram,
         |    CAST(length(bin(c1)) - length(bin(c2)) AS BIGINT) AS oct
         |  FROM c2 JOIN c1 USING (w1)),
         |perdoc AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(oct) AS BIGINT) AS sum_oct
         |  FROM bg JOIN freq USING (bigram) GROUP BY 1)
         |SELECT doc_id, n_bigrams, sum_oct,
         |  CAST(sum_oct * $Fx // n_bigrams AS BIGINT) AS mean_oct_fx,
         |  CASE WHEN sum_oct * $Fx // n_bigrams < ${2 * Fx} THEN 'predictable'
         |       WHEN sum_oct * $Fx // n_bigrams < ${5 * Fx} THEN 'typical'
         |       ELSE 'surprising' END AS band
         |FROM perdoc ORDER BY doc_id""".stripMargin,

    "q76_kmv_setops" -> {
      val est = (hk: String, n: String) =>
        s"""CASE WHEN $n < $KmvK THEN $n
           |    ELSE ${(KmvK - 1).toLong * HalfSpace} // GREATEST($hk // $HalfSpace, 1) END""".stripMargin
      s"""WITH hashed AS (
         |  SELECT DISTINCT ((epoch_us(ts) // 86400000000) % 2 + 2) % 2 AS cohort,
         |    ${Hashing.duckHash64("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |truth AS (
         |  SELECT CAST(SUM(in_a) AS BIGINT) AS n_true_a,
         |    CAST(SUM(in_b) AS BIGINT) AS n_true_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_true_union,
         |    CAST(SUM(in_a * in_b) AS BIGINT) AS n_true_inter
         |  FROM (SELECT h,
         |      MAX(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS in_a,
         |      MAX(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS in_b
         |    FROM hashed GROUP BY h)),
         |kept AS (
         |  SELECT cohort, h FROM (
         |    SELECT cohort, h,
         |      row_number() OVER (PARTITION BY cohort ORDER BY h) AS rn
         |    FROM hashed) WHERE rn <= $KmvK),
         |summ AS (
         |  SELECT cohort, MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    CAST(${est("MAX(h)", "COUNT(*)")} AS BIGINT) AS est
         |  FROM kept GROUP BY cohort),
         |s2 AS (
         |  SELECT CAST(MAX(CASE WHEN cohort = 0 THEN est END) AS BIGINT) AS est_a,
         |    CAST(MAX(CASE WHEN cohort = 1 THEN est END) AS BIGINT) AS est_b,
         |    MIN(CASE WHEN n_kept < $KmvK THEN ${OpenTheta} ELSE h_k END) AS theta
         |  FROM summ),
         |uk AS (
         |  SELECT h FROM (
         |    SELECT h, row_number() OVER (ORDER BY h) AS rn
         |    FROM (SELECT DISTINCT h FROM kept)) WHERE rn <= $KmvK),
         |us AS (
         |  SELECT CAST(${est("MAX(h)", "COUNT(*)")} AS BIGINT) AS est_union
         |  FROM uk),
         |cm AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM kept a JOIN kept b ON a.h = b.h
         |    AND a.cohort = 0 AND b.cohort = 1
         |  CROSS JOIN s2 WHERE a.h < s2.theta)
         |SELECT n_true_a, n_true_b, n_true_union, n_true_inter,
         |  est_a, est_b, est_union,
         |  CAST(CASE WHEN theta = ${OpenTheta} THEN n_common
         |    ELSE (n_common * $HalfSpace) // GREATEST(theta // $HalfSpace, 1)
         |    END AS BIGINT) AS est_inter_theta,
         |  CAST(est_a + est_b - est_union AS BIGINT) AS est_inter_ie
         |FROM truth CROSS JOIN s2 CROSS JOIN us CROSS JOIN cm""".stripMargin
    },

    "ss36_radius_census" ->
      s"""WITH en AS (
         |  SELECT vec_id, emb, ${Similarity.duckNorm} AS norm
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |    FROM embeddings)),
         |panel AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm
         |  FROM en WHERE vec_id % 97 = 0),
         |pairs AS (
         |  SELECT p.q_id, CAST(floor(
         |      (list_sum(list_transform(range(len(e.emb)),
         |        i -> e.emb[i+1] * p.q_emb[i+1])) / (e.norm * p.q_norm)) * $Fx)
         |    AS BIGINT) AS cos_fx
         |  FROM en e CROSS JOIN panel p WHERE e.vec_id <> p.q_id),
         |t AS (SELECT unnest([${Taus.mkString(", ")}]) AS tau),
         |deg AS (
         |  SELECT tau, q_id, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM pairs CROSS JOIN t WHERE cos_fx >= tau GROUP BY 1, 2)
         |SELECT CAST(tau AS BIGINT) AS tau, CAST(SUM(deg) AS BIGINT) AS n_pairs,
         |  CAST(COUNT(*) AS BIGINT) AS n_active_queries,
         |  CAST(MAX(deg) AS BIGINT) AS max_degree
         |FROM deg GROUP BY tau ORDER BY tau""".stripMargin)
}
