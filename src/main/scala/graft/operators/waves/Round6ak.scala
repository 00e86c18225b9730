package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 thirty-seventh wave: shuffle-locality audit (pk18) and
  * SLO burn rate (ev61).
  *
  * Posture notes: pk18 windows ONLY within (epoch, shard) — pk08's
  * own partitioning, shard-bounded — and the expected-collision
  * baseline folds from the |sources|-row share table. ev61 is one
  * hour-bucketed fact fold against a 1-row broadcast baseline.
  */
object Round6ak extends Operators {

  private val Fx = 1000000L

  /** ev61: multi-window burn-rate alert lines (Google SRE's 2x/6x). */
  private val SlowBurnFx = 2L * Fx
  private val FastBurnFx = 6L * Fx

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk18: epoch-shuffle locality audit ------------------------------
    // A good epoch shuffle leaves no source runs: adjacent docs in
    // shard order should collide on source no more often than
    // random (Σ p_s²). Per epoch: adjacent pairs, same-source
    // pairs, the observed share, and the random-expectation share —
    // observed >> expected means the shuffle key leaks ordering and
    // the model sees source-correlated batches. Windows run within
    // (epoch, shard) only; the expectation folds from source shares.
    "pk18_shuffle_locality" -> { (s, d) =>
      val shuffled = Round5i.queries("pk08_epoch_shuffle")(s, d)
      val sources = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val w = Window.partitionBy(col("epoch"), col("shard")).orderBy(col("pos"))
      val adj = shuffled.join(sources, Seq("doc_id"))
        .withColumn("prev_source", lag(col("source"), 1).over(w))
        .filter(col("prev_source").isNotNull)
      val obs = adj.groupBy(col("epoch"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(when(col("source") === col("prev_source"), 1L).otherwise(0L))
            .cast("long").as("n_same"))
      val shares = sources.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_s"))
      val total = shares.agg(sum(col("n_s")).cast("long").as("n"))
      val expected = shares.crossJoin(broadcast(total))
        .select(expr(s"(n_s * $Fx) div n").as("p_fx"))
        .agg(sum(expr(s"(p_fx * p_fx) div $Fx")).cast("long").as("exp_fx"))
      obs.crossJoin(broadcast(expected))
        .withColumn("obs_fx", expr(s"(n_same * $Fx) div n_pairs"))
        .select(col("epoch"), col("n_pairs"), col("n_same"),
          col("obs_fx"), col("exp_fx"))
        .orderBy(col("epoch"))
    },

    // --- ev61: SLO burn rate ---------------------------------------------
    // The SRE error-budget alert evaluated exactly: per hour, the
    // error share vs the stream's overall baseline, as a burn rate
    // (1.0 = budget-neutral), with the standard 2x slow-burn and 6x
    // fast-burn alert flags — the page that says WHICH hours would
    // have paged. One hour-keyed fold; the baseline is a 1-row
    // broadcast.
    "ev61_slo_burn_rate" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(expr(Det.truncDiv("unix_micros(ts)", 3600000000L)).as("hour"),
          (col("event_type") === "error").as("is_err"))
      val hours = ev.groupBy(col("hour"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(when(col("is_err"), 1L).otherwise(0L)).cast("long").as("n_errors"))
      val base = hours.agg(sum(col("n_events")).cast("long").as("t_events"),
        sum(col("n_errors")).cast("long").as("t_errors"))
      hours.crossJoin(broadcast(base))
        // overflow-safe two-step: fixed-point shares first, then the
        // ratio (n_errors·t_events·Fx would overflow at fleet scale)
        .withColumn("err_fx", expr(s"(n_errors * $Fx) div n_events"))
        .withColumn("base_fx", expr(s"(t_errors * $Fx) div t_events"))
        .withColumn("burn_fx", expr(s"(err_fx * $Fx) div base_fx"))
        .withColumn("slow_alert", col("burn_fx") >= SlowBurnFx)
        .withColumn("fast_alert", col("burn_fx") >= FastBurnFx)
        .select(col("hour"), col("n_events"), col("n_errors"),
          col("err_fx"), col("burn_fx"), col("slow_alert"),
          col("fast_alert"))
        .orderBy(col("hour"))
    })

  def oracles: Map[String, String] = Map(
    "pk18_shuffle_locality" -> {
      // the pk08 shuffle layout re-derived inline (same hash recipe)
      val h = graft.functions.Hashing.duckHash64(
        "concat_ws('|', CAST(epoch AS VARCHAR), CAST(doc_id AS VARCHAR))")
      s"""WITH sh AS (
         |  SELECT epoch, doc_id, $h AS h,
         |    $h % ${Round5i.ShuffleShards} AS shard
         |  FROM documents CROSS JOIN
         |    (SELECT unnest([${Round5i.Epochs.mkString(", ")}]) AS epoch) e),
         |pos AS (
         |  SELECT epoch, shard, doc_id,
         |    row_number() OVER (PARTITION BY epoch, shard
         |      ORDER BY h, doc_id) AS pos
         |  FROM sh),
         |adj AS (
         |  SELECT p.epoch, s.source,
         |    lag(s.source) OVER (PARTITION BY p.epoch, p.shard
         |      ORDER BY p.pos) AS prev_source
         |  FROM pos p JOIN documents s USING (doc_id)),
         |obs AS (
         |  SELECT epoch, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN source = prev_source THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_same
         |  FROM adj WHERE prev_source IS NOT NULL GROUP BY 1),
         |shr AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents
         |  GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM shr),
         |ex AS (
         |  SELECT CAST(SUM(((n_s * $Fx) // n) * ((n_s * $Fx) // n) // $Fx)
         |    AS BIGINT) AS exp_fx
         |  FROM shr CROSS JOIN t)
         |SELECT epoch, n_pairs, n_same,
         |  (n_same * $Fx) // n_pairs AS obs_fx, exp_fx
         |FROM obs CROSS JOIN ex ORDER BY epoch""".stripMargin
    },

    "ev61_slo_burn_rate" ->
      s"""WITH h AS (
         |  SELECT epoch_us(ts) // 3600000000 AS hour,
         |    CAST(COUNT(*) AS BIGINT) AS n_events,
         |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_errors
         |  FROM events GROUP BY 1),
         |b AS (
         |  SELECT CAST(SUM(n_events) AS BIGINT) AS t_events,
         |    CAST(SUM(n_errors) AS BIGINT) AS t_errors FROM h)
         |SELECT hour, n_events, n_errors, err_fx,
         |  (err_fx * $Fx) // base_fx AS burn_fx,
         |  (err_fx * $Fx) // base_fx >= $SlowBurnFx AS slow_alert,
         |  (err_fx * $Fx) // base_fx >= $FastBurnFx AS fast_alert
         |FROM (
         |  SELECT hour, n_events, n_errors,
         |    (n_errors * $Fx) // n_events AS err_fx,
         |    (t_errors * $Fx) // t_events AS base_fx
         |  FROM h CROSS JOIN b) ORDER BY hour""".stripMargin)
}
