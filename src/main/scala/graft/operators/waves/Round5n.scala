package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-5 fourteenth wave: streaming burst alerting (ev38) and the
  * per-dimension embedding moment census (ss18).
  *
  * Posture notes: ev38 is ev37's lambda twin — the minute cells
  * aggregate THROUGH Structured Streaming (readStream → 1-minute
  * tumbling window → snapshot) and the identical burst math
  * ([[Round5m.burstCensus]], one definition for both halves) runs on
  * the snapshot; the DuckDB gate is the same census the batch side
  * answers to. ss18 is one posexplode + hash aggregate to a
  * dims-sized table with integer-fixed-point sums (Σv² through
  * decimal, the ev28 recipe), so mean/variance are engine-exact.
  */
object Round5n extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev38: burst alerting THROUGH Structured Streaming ------------
    // The alerting half of ev37: minute cells maintained by the
    // streaming engine (tumbling window, complete mode — production
    // runs append+watermark and alerts on finalized minutes), burst
    // census applied to the snapshot with the SAME shared math as
    // the batch side, gated by the same oracle. Spec additionally
    // pins streamed === batch.
    "ev38_stream_bursts" -> { (s, d) =>
      val cells = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .groupBy(col("event_type"), window(col("ts"), "1 minute").as("w"))
        .agg(count(lit(1)).as("n"))
      val snap = graft.streaming.StreamJobs
        .runMemorySnapshot(cells, "graft_ev38_mem", "complete")
        .select(col("event_type"),
          expr("unix_micros(w.start) div 60000000").as("minute"), col("n"))
      // burstCensus self-joins its input; a memory-sink View cannot be
      // self-joined (MemoryPlan attributes don't deduplicate →
      // "conflicting references"). localCheckpoint rebases the
      // already-materialized snapshot onto a LogicalRDD, which can.
      Round5m.burstCensus(snap.localCheckpoint(true))
    },

    // --- ss18: per-dimension embedding moments ------------------------
    // The quantizer/PQ pre-flight (ss10/ss12/ss15 consume per-dim
    // ranges; this prices per-dim SIGNAL): for every dimension, the
    // count, fixed-point mean, variance, and range over the corpus.
    // Values quantize to 1e-6 fixed point on ingest (exact for the
    // float32 sources), Σv² runs through decimal so the variance is
    // bit-identical in both engines, and the aggregate lands on a
    // dims-sized table. One corpus scan, map-side combinable.
    "ss18_dim_stats" -> { (s, d) =>
      val dec = "decimal(38,0)"
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding").cast("array<double>")))
        .withColumn("v", floor(col("col") * lit(1000000.0)).cast("long"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n_vals"),
          sum(col("v")).cast("long").as("s_fx"),
          sum(col("v").cast(dec) * col("v").cast(dec)).cast("double").as("q"),
          min(col("v")).as("min_fx"), max(col("v")).as("max_fx"))
        // NOT `div`: s_fx can be negative, and Spark div truncates
        // toward zero while DuckDB // floors. floor over the double
        // quotient is exact here (|s_fx| < 2^53 and any non-integer
        // quotient sits >= 1/n_vals from an integer, far beyond 1 ulp)
        // and floors identically in both engines.
        .withColumn("mean_fx",
          floor(col("s_fx").cast("double") / col("n_vals")).cast("long"))
        .withColumn("var4", Det.trunc4(
          (col("q") / col("n_vals") -
            (col("s_fx").cast("double") / col("n_vals")) *
            (col("s_fx").cast("double") / col("n_vals"))) / lit(1e12)))
        .select(col("pos"), col("n_vals"), col("mean_fx"), col("var4"),
          col("min_fx"), col("max_fx"))
        .orderBy(col("pos"))
    })

  def oracles: Map[String, String] = Map(
    // the SAME census the batch ev37 answers to — the lambda parity
    // claim is exactly that both halves satisfy one oracle
    "ev38_stream_bursts" -> Round5m.oracles("ev37_burst_minutes"),

    "ss18_dim_stats" ->
      s"""WITH r AS (
         |  SELECT generate_subscripts(emb, 1) - 1 AS pos, unnest(emb) AS v0
         |  FROM (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |x AS (SELECT pos, CAST(floor(v0 * 1000000.0) AS BIGINT) AS v FROM r),
         |a AS (
         |  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n_vals,
         |    CAST(SUM(v) AS BIGINT) AS s_fx,
         |    CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS q,
         |    CAST(MIN(v) AS BIGINT) AS min_fx, CAST(MAX(v) AS BIGINT) AS max_fx
         |  FROM x GROUP BY pos)
         |SELECT pos, n_vals,
         |  CAST(floor(CAST(s_fx AS DOUBLE) / n_vals) AS BIGINT) AS mean_fx,
         |  ${Det.duckTrunc(
              "(q / n_vals - (CAST(s_fx AS DOUBLE) / n_vals)" +
                " * (CAST(s_fx AS DOUBLE) / n_vals)) / 1e12", 4)} AS var4,
         |  min_fx, max_fx
         |FROM a ORDER BY pos""".stripMargin)
}
