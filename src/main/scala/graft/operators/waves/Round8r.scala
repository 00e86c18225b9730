package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 eighteenth wave: next-fit shard packing (pk25), Poisson
  * overdispersion census (ev81).
  *
  * pk25 is the planner mm18's accounting exists for: cut a source's
  * doc stream into TAR shards near a byte target. Next-fit by byte
  * offset in CLOSED FORM — shard = start_offset div target over one
  * per-source cumsum window (no iterative packer, no driver loop);
  * a doc straddling the boundary rides the shard it starts in, so a
  * shard overshoots by at most one doc (spec-pinned).
  *
  * ev81 asks whether the Poisson assumption every sizing operator
  * (ev57/ev26) quietly makes actually HOLDS: the Fano factor
  * (variance-to-mean of per-minute counts, zeros included) per type,
  * computed over the global [t0, t1] minute window ARITHMETICALLY —
  * zero minutes contribute nothing to Σn and Σn², so no minute grid
  * is materialized, just the 1-row bounds aggregate. Fano ≈ 1 means
  * Poisson sizing is sound; ≫ 1 flags bursty types that need ev78's
  * backlog treatment rather than mean-rate provisioning.
  */
object Round8r extends Operators {

  private val Fx = 10000L

  /** pk25: shard byte target (1 MiB) and TAR per-entry overhead. */
  private val TargetBytes = 1L << 20

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk25: next-fit shard packing ------------------------------------
    "pk25_shard_packer" -> { (s, d) =>
      val run = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val perShard = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          (lit(512L) + expr("((octet_length(text) + 511) div 512) * 512"))
            .as("disk"))
        .withColumn("cum", sum(col("disk")).over(run))
        .withColumn("shard", expr(s"(cum - disk) div $TargetBytes"))
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          (sum(col("disk")) + 1024L).cast("long").as("shard_bytes"))
      perShard.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_shards"),
          sum(col("n_docs")).cast("long").as("n_docs"),
          max(col("shard_bytes")).cast("long").as("max_shard_bytes"),
          expr(s"sum(shard_bytes) * $Fx div (count(1) * $TargetBytes)")
            .cast("long").as("fill_fx"),
          sum(when(col("shard_bytes") > TargetBytes, 1L).otherwise(0L))
            .cast("long").as("n_overshot"))
        .orderBy(col("source"))
    },

    // --- ev81: Fano-factor overdispersion census --------------------------
    "ev81_fano_overdispersion" -> { (s, d) =>
      val minutes = Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 60000000").as("m"))
      val counts = Dedup.barrier(minutes
        .groupBy(col("event_type"), col("m"))
        .agg(count(lit(1)).cast("long").as("n")))
      val bounds = counts.agg((max(col("m")) - min(col("m")) + 1)
        .cast("long").as("n_minutes"))
      counts.groupBy(col("event_type"))
        .agg(sum(col("n")).cast("long").as("n_events"),
          count(lit(1)).cast("long").as("active_minutes"),
          sum(col("n") * col("n")).cast("long").as("sum_sq"))
        .crossJoin(broadcast(bounds))
        .withColumn("mean_per_minute_fx",
          expr(s"n_events * $Fx div n_minutes"))
        .withColumn("fano_fx", expr(
          s"(n_minutes * sum_sq - n_events * n_events) * $Fx" +
            " div (n_minutes * n_events)"))
        .select(col("event_type"), col("n_minutes"), col("active_minutes"),
          col("n_events"), col("mean_per_minute_fx"), col("fano_fx"))
        .orderBy(col("event_type"))
    })

  def oracles: Map[String, String] = Map(
    "pk25_shard_packer" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    512 + ((strlen(text) + 511) // 512) * 512 AS disk
         |  FROM documents),
         |placed AS (
         |  SELECT source,
         |    (SUM(disk) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - disk)
         |      // $TargetBytes AS shard,
         |    disk
         |  FROM d),
         |per_shard AS (
         |  SELECT source, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(disk) + 1024 AS BIGINT) AS shard_bytes
         |  FROM placed GROUP BY 1, 2)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shards,
         |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |  CAST(MAX(shard_bytes) AS BIGINT) AS max_shard_bytes,
         |  CAST(CAST(SUM(shard_bytes) AS BIGINT) * $Fx
         |    // (COUNT(*) * $TargetBytes) AS BIGINT) AS fill_fx,
         |  CAST(SUM(CASE WHEN shard_bytes > $TargetBytes THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_overshot
         |FROM per_shard GROUP BY source ORDER BY source""".stripMargin,

    "ev81_fano_overdispersion" ->
      s"""WITH counts AS (
         |  SELECT event_type, epoch_us(ts) // 60000000 AS m,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |bounds AS (
         |  SELECT CAST(MAX(m) - MIN(m) + 1 AS BIGINT) AS n_minutes
         |  FROM counts),
         |per_type AS (
         |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
         |    CAST(COUNT(*) AS BIGINT) AS active_minutes,
         |    CAST(SUM(n * n) AS BIGINT) AS sum_sq
         |  FROM counts GROUP BY event_type)
         |SELECT event_type, n_minutes, active_minutes, n_events,
         |  CAST(n_events * $Fx // n_minutes AS BIGINT) AS mean_per_minute_fx,
         |  CAST((n_minutes * sum_sq - n_events * n_events) * $Fx
         |    // (n_minutes * n_events) AS BIGINT) AS fano_fx
         |FROM per_type CROSS JOIN bounds ORDER BY event_type""".stripMargin)
}
