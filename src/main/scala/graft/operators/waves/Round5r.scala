package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-5 eighteenth wave: day-over-day mix drift (ev40) and the
  * Jaccard threshold sweep (dd24).
  *
  * Posture notes: ev40 is the data-drift monitor every ingest
  * pipeline runs — one hash aggregate folds events into (day, type)
  * cells, shares and the day-over-day L1 distance compute on the
  * bounded days×types table (fixed-point, engine-exact). dd24 prices
  * dd02's similarity dial: ONE candidate-pair pass (the shared
  * min-shingle bucket join), a bounded ×|thresholds| literal explode,
  * and a thresholds-sized census — the dup-rate-vs-threshold curve
  * that decides how aggressive the dedup pass should be.
  */
object Round5r extends Operators {

  private val Fx = 1000000L

  /** dd24: Jaccard thresholds priced (fixed-point, 1e6 scale). */
  val Thresholds: Seq[Long] =
    Seq(200000L, 300000L, 400000L, 500000L, 600000L, 700000L, 800000L, 900000L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev40: day-over-day type-mix drift ----------------------------
    // A source whose event-type mix shifts overnight usually means an
    // upstream deploy or a broken producer. Per day: the L1 distance
    // between today's and yesterday's type-share vectors (missing
    // types count their full share — the union of types per day pair
    // is handled by a full outer join on type). Facts fold ONCE into
    // (day, type) cells; everything else runs on the bounded
    // days×types table. drift_fx ∈ [0, 2e6] (2.0 = disjoint mixes).
    "ev40_mix_drift" -> { (s, d) =>
      val cells = Tables.events(s, d)
        .select(expr(graft.functions.Det.truncDiv("unix_micros(ts)", 86400000000L)).as("day"),
          col("event_type"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("day_total", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("day"))))
        .withColumn("share_fx", expr(s"(n * $Fx) div day_total"))
      val a = cells.select(col("day"), col("event_type"), col("share_fx"))
      val b = cells.select((col("day") - 1).as("day"), col("event_type"),
        col("share_fx").as("share_next_fx"))
      a.join(b, Seq("day", "event_type"), "full_outer")
        .filter(col("day").isNotNull)
        .groupBy(col("day"))
        .agg(
          sum(abs(coalesce(col("share_fx"), lit(0L)) -
            coalesce(col("share_next_fx"), lit(0L)))).cast("long").as("drift_fx"),
          count(when(col("share_fx").isNotNull && col("share_next_fx").isNotNull, 1))
            .cast("long").as("n_types_both"))
        // the last day has no successor: its b-side is entirely absent,
        // which would read as max drift — report only day pairs where
        // the NEXT day exists (n_types_both > 0 on this feed)
        .filter(col("n_types_both") > 0)
        .select(col("day"), col("drift_fx"), col("n_types_both"))
        .orderBy(col("day"))
    },

    // --- dd24: Jaccard threshold sweep --------------------------------
    // How many near-dup pairs does each threshold setting catch? One
    // pass over dd02's candidate pairs (shared min-shingle bucket
    // join, integer Jaccard), a literal ×|thresholds| explode, and a
    // thresholds-sized census with pair counts and the share of
    // candidates admitted. Read with dd21 (which prices the BANDING
    // recall at a fixed threshold; this prices the threshold itself).
    "dd24_threshold_sweep" -> { (s, d) =>
      val ds = Dedup.barrier(Dedup.docShingles(s, d)
        .withColumn("bucket", array_min(col("shs"))))
      val a = ds.select(col("bucket"), col("doc_id").as("doc_a"), col("shs").as("sh_a"))
      val b = ds.select(col("bucket"), col("doc_id").as("doc_b"), col("shs").as("sh_b"))
      // the slim j_fx frame feeds BOTH the total and the sweep —
      // materialize it or the pair join + intersect runs twice
      val sims = Dedup.barrierAlso(a.join(b, Seq("bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("common", graft.functions.IntersectCountExpr(col("sh_a"), col("sh_b")))
        .withColumn("uni", (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("common"))
        .withColumn("j_fx", expr(s"(common * $Fx) div uni"))
        .select(col("j_fx")))
      val total = sims.agg(count(lit(1)).as("n_cands"))
      sims.select(col("j_fx"), explode(typedLit(Thresholds)).as("thr_fx"))
        .filter(col("j_fx") >= col("thr_fx"))
        .groupBy(col("thr_fx"))
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(total))
        .withColumn("admit_fx", expr(s"(n_pairs * $Fx) div n_cands"))
        .select(col("thr_fx"), col("n_pairs"), col("n_cands"), col("admit_fx"))
        .orderBy(col("thr_fx"))
    })

  def oracles: Map[String, String] = Map(
    "ev40_mix_drift" ->
      s"""WITH cells AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY day, event_type),
         |sh AS (
         |  SELECT day, event_type,
         |    (n * $Fx) // SUM(n) OVER (PARTITION BY day) AS share_fx
         |  FROM cells),
         |j AS (
         |  SELECT COALESCE(a.day, b.day) AS day,
         |    COALESCE(a.share_fx, 0) AS s_a, COALESCE(b.share_fx, 0) AS s_b,
         |    CASE WHEN a.share_fx IS NOT NULL AND b.share_fx IS NOT NULL
         |         THEN 1 END AS in_both
         |  FROM sh a FULL OUTER JOIN
         |    (SELECT day - 1 AS day, event_type, share_fx FROM sh) b
         |    ON a.day = b.day AND a.event_type = b.event_type)
         |SELECT day, CAST(SUM(abs(s_a - s_b)) AS BIGINT) AS drift_fx,
         |  CAST(COUNT(in_both) AS BIGINT) AS n_types_both
         |FROM j WHERE day IS NOT NULL
         |GROUP BY day HAVING COUNT(in_both) > 0 ORDER BY day""".stripMargin,

    "dd24_threshold_sweep" ->
      s"""WITH sh_t AS (
         |  SELECT doc_id, shs, list_min(shs) AS bucket
         |  FROM (SELECT doc_id, ${Dedup.duckShs} AS shs FROM documents
         |        WHERE len(${Dedup.duckToks}) >= 3)),
         |sims AS (
         |  SELECT (CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) * $Fx)
         |    // CAST(len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))
         |      AS BIGINT) AS j_fx
         |  FROM sh_t a JOIN sh_t b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cands FROM sims),
         |thr AS (SELECT unnest([${Thresholds.mkString(", ")}]) AS thr_fx)
         |SELECT thr_fx, CAST(COUNT(*) AS BIGINT) AS n_pairs, n_cands,
         |  (CAST(COUNT(*) AS BIGINT) * $Fx) // n_cands AS admit_fx
         |FROM sims JOIN thr ON sims.j_fx >= thr.thr_fx CROSS JOIN t
         |GROUP BY thr_fx, n_cands ORDER BY thr_fx""".stripMargin)
}
