package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, IntersectCountExpr}
import org.apache.spark.sql.Column

/** Round-6 twenty-eighth wave: Little's-law consumer sizing (ev57)
  * and LSH precision-by-multiplicity (dd32).
  *
  * Posture notes: ev57 folds the stream to per-(type, minute) counts
  * (ONE fact aggregate, map-side combinable) and sizes consumers
  * from the |types|-row summary. dd32 reuses dd03's banded candidate
  * join (bucketed equi-join, never all-pairs) and pays the exact
  * verify only on the shortlist, slim-pair style — arrays rejoin
  * from the barriered shingle table for survivors only.
  */
object Round6ab extends Operators {

  private val Fx = 1000000L

  /** ev57: events/minute one consumer drains (the reference's
    * single-threaded send loop throughput analog).
    */
  private val ConsumerRate = 100L

  /** dd32: exact-Jaccard threshold that counts as a true duplicate. */
  private val DupJfx = 500000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev57: backpressure / consumer sizing ----------------------------
    // Little's law applied to topic sizing: per event type, the mean
    // and peak per-minute arrival rates over the type's active span,
    // the burst ratio, and the consumer counts that drain mean vs
    // peak load at a fixed per-consumer rate — the capacity page
    // that says which topics need partitions, not threads. A topic
    // sized for its mean but bursting 3x stalls its consumer group
    // exactly when traffic matters.
    "ev57_consumer_sizing" -> { (s, d) =>
      val perMin = Tables.events(s, d)
        .select(col("event_type"),
          expr(Det.truncDiv("unix_micros(ts)", 60000000L)).as("minute"))
        .groupBy(col("event_type"), col("minute"))
        .agg(count(lit(1)).cast("long").as("n"))
      perMin.groupBy(col("event_type"))
        .agg(
          sum(col("n")).cast("long").as("n_events"),
          (max(col("minute")) - min(col("minute")) + 1L).as("span_min"),
          max(col("n")).cast("long").as("peak_rate"))
        .withColumn("mean_rate_fx", expr(s"(n_events * $Fx) div span_min"))
        .withColumn("burst_fx", expr(s"(peak_rate * $Fx * span_min) div n_events"))
        .withColumn("consumers_mean",
          expr(s"(n_events + $ConsumerRate * span_min - 1) div ($ConsumerRate * span_min)"))
        .withColumn("consumers_peak",
          expr(s"(peak_rate + ${ConsumerRate - 1}) div $ConsumerRate"))
        .select(col("event_type"), col("n_events"), col("span_min"),
          col("mean_rate_fx"), col("peak_rate"), col("burst_fx"),
          col("consumers_mean"), col("consumers_peak"))
        .orderBy(col("event_type"))
    },

    // --- dd32: LSH precision by co-band multiplicity ---------------------
    // dd13 measures what the banding MISSES (recall); this measures
    // what it WASTES: for each co-band multiplicity (1..16 shared
    // bands), the candidate pairs, their exact-Jaccard distribution,
    // and the precision against the 0.5 duplicate line. The verify
    // budget is spent on 1-band pairs if precision there is noise —
    // this is the page that justifies a ≥2-band admission rule.
    "dd32_band_precision" -> { (s, d) =>
      val shingled = Dedup.barrier(Dedup.docShingles(s, d))
      // materialized like dd03's: the l/r self-join would otherwise
      // evaluate the signature pipeline twice (generate-trap lint)
      val banded = Dedup.barrierAlso(Dedup.bandedSignaturesOf(shingled))  // r13 opt: read the barriered shingle cache, not a second md5 lineage
      val l = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
      val r = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
      val pairs = l.join(r, Seq("band", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).cast("long").as("n_shared_bands"))
      val scored = pairs
        .join(shingled.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")), Seq("doc_a"))
        .join(shingled.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")), Seq("doc_b"))
        .withColumn("common",
          IntersectCountExpr(col("sh_a"), col("sh_b")).cast("long"))
        .withColumn("j_fx",
          expr(s"(common * $Fx) div (size(sh_a) + size(sh_b) - common)"))
      scored.groupBy(col("n_shared_bands"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(when(col("j_fx") >= DupJfx, 1L).otherwise(0L)).cast("long").as("n_dups"),
          sum(col("j_fx")).cast("long").as("sum_j_fx"))
        .withColumn("precision_fx", expr(s"(n_dups * $Fx) div n_pairs"))
        .withColumn("mean_j_fx", expr("sum_j_fx div n_pairs"))
        .select(col("n_shared_bands"), col("n_pairs"), col("n_dups"),
          col("precision_fx"), col("mean_j_fx"))
        .orderBy(col("n_shared_bands"))
    })

  def oracles: Map[String, String] = Map(
    "ev57_consumer_sizing" ->
      s"""WITH pm AS (
         |  SELECT event_type,
         |    epoch_us(ts) // 60000000 AS minute,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |a AS (
         |  SELECT event_type,
         |    CAST(SUM(n) AS BIGINT) AS n_events,
         |    MAX(minute) - MIN(minute) + 1 AS span_min,
         |    CAST(MAX(n) AS BIGINT) AS peak_rate
         |  FROM pm GROUP BY 1)
         |SELECT event_type, n_events, span_min,
         |  (n_events * $Fx) // span_min AS mean_rate_fx,
         |  peak_rate,
         |  (peak_rate * $Fx * span_min) // n_events AS burst_fx,
         |  (n_events + $ConsumerRate * span_min - 1) // ($ConsumerRate * span_min)
         |    AS consumers_mean,
         |  (peak_rate + ${ConsumerRate - 1}) // $ConsumerRate AS consumers_peak
         |FROM a ORDER BY event_type""".stripMargin,

    "dd32_band_precision" ->
      s"""WITH ${Dedup.duckBandedCtes},
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared_bands
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.n_shared_bands,
         |    (len(list_intersect(sa.shs, sb.shs)) * $Fx) //
         |      (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))
         |      AS j_fx
         |  FROM pairs p
         |  JOIN sh_t sa ON sa.doc_id = p.doc_a
         |  JOIN sh_t sb ON sb.doc_id = p.doc_b)
         |SELECT n_shared_bands,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN j_fx >= $DupJfx THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |  (CAST(SUM(CASE WHEN j_fx >= $DupJfx THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(COUNT(*) AS BIGINT) AS precision_fx,
         |  CAST(SUM(j_fx) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_j_fx
         |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin)
}
