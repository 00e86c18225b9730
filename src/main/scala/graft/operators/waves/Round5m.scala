package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-5 thirteenth wave: burst-minute detection (ev37) and the
  * corpus↔index coverage audit (ss17).
  *
  * Posture notes: ev37 is the two-level census recipe — facts fold
  * once into a (type, minute) table (bounded by the time span), the
  * per-type baseline is a types-sized aggregate broadcast back, and
  * the burst predicate is integer cross-multiplication (n·active ≥
  * 3·total), no division, no doubles. ss17 is one equi full-outer
  * join on the id domain folded to a 1-row census — the referential
  * audit every serving deployment runs before switching an index
  * live.
  */
object Round5m extends Operators {

  private val Fx = 1000000L

  /** ev37: burst threshold — a minute is bursting when its count is
    * ≥ BurstX × the type's mean over ACTIVE minutes.
    */
  val BurstX = 3L

  /** The burst census over a (event_type, minute, n) cell table —
    * ONE definition consumed by batch ev37 and the streaming twin
    * ev38 (Round5n), so the alerting math cannot drift between the
    * lambda halves. Baseline joins back by broadcast (types are
    * bounded); the burst predicate is integer cross-multiplication.
    */
  private[operators] def burstCensus(cells: DataFrame): DataFrame = {
    val types = cells.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_active_minutes"),
        sum(col("n")).cast("long").as("total_events"),
        max(col("n")).as("peak_minute_n"))
    cells.join(broadcast(types), Seq("event_type"))
      .withColumn("burst",
        when(col("n") * col("n_active_minutes") >= lit(BurstX) * col("total_events"),
          1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(first(col("n_active_minutes")).as("n_active_minutes"),
        first(col("total_events")).as("total_events"),
        first(col("peak_minute_n")).as("peak_minute_n"),
        sum(col("burst")).cast("long").as("n_burst_minutes"))
      .withColumn("burst_share_fx",
        expr(s"(n_burst_minutes * $Fx) div n_active_minutes"))
      .select(col("event_type"), col("n_active_minutes"), col("total_events"),
        col("peak_minute_n"), col("n_burst_minutes"), col("burst_share_fx"))
      .orderBy(col("event_type"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev37: burst-minute census ------------------------------------
    // Rate-spike detection at minute grain: events fold into
    // (event_type, minute) cells; a cell bursts when its count clears
    // BurstX times the type's mean over active minutes — evaluated as
    // n·n_active ≥ BurstX·total, integer cross-multiplication, so no
    // division rounding can disagree between engines. The per-type
    // baseline joins back by broadcast (types are bounded); the fact
    // table is touched exactly once. Complements q34 (hourly z-score
    // on value): this is the pure-rate spike at finer grain.
    "ev37_burst_minutes" -> { (s, d) =>
      burstCensus(Tables.events(s, d)
        .select(col("event_type"),
          expr(graft.functions.Det.truncDiv("unix_micros(ts)", 60000000L)).as("minute"))
        .groupBy(col("event_type"), col("minute"))
        .agg(count(lit(1)).as("n")))
    },

    // --- ss17: corpus ↔ index coverage audit --------------------------
    // Before an embedding index serves traffic: is every document
    // indexed, and does every vector still have a document? One
    // shuffle equi full-outer join on the id domain, folded to a
    // 1-row census with both dangling sides and the fixed-point
    // coverage. At 100 TB both sides shuffle on the id — no
    // broadcast assumption on either table.
    "ss17_index_coverage" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("has_doc", lit(1L))
      val vecs = Tables.embeddings(s, d).select(col("vec_id").as("doc_id"))
        .withColumn("has_vec", lit(1L))
      docs.join(vecs, Seq("doc_id"), "full_outer")
        .agg(
          coalesce(sum(col("has_doc")), lit(0L)).cast("long").as("n_docs"),
          coalesce(sum(col("has_vec")), lit(0L)).cast("long").as("n_vecs"),
          coalesce(sum(col("has_doc") * col("has_vec")), lit(0L))
            .cast("long").as("n_matched"),
          coalesce(sum(when(col("has_vec").isNull, 1L)), lit(0L))
            .cast("long").as("n_docs_unindexed"),
          coalesce(sum(when(col("has_doc").isNull, 1L)), lit(0L))
            .cast("long").as("n_vecs_orphaned"))
        .withColumn("coverage_fx", expr(s"(n_matched * $Fx) div greatest(n_docs, 1)"))
    })

  def oracles: Map[String, String] = Map(
    "ev37_burst_minutes" ->
      s"""WITH cells AS (
         |  SELECT event_type, epoch_us(ts) // 60000000 AS minute,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY event_type, minute),
         |t AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_active_minutes,
         |    CAST(SUM(n) AS BIGINT) AS total_events,
         |    CAST(MAX(n) AS BIGINT) AS peak_minute_n
         |  FROM cells GROUP BY event_type)
         |SELECT c.event_type, t.n_active_minutes, t.total_events,
         |  t.peak_minute_n,
         |  CAST(SUM(CASE WHEN c.n * t.n_active_minutes >=
         |    $BurstX * t.total_events THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_burst_minutes,
         |  (CAST(SUM(CASE WHEN c.n * t.n_active_minutes >=
         |    $BurstX * t.total_events THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // t.n_active_minutes AS burst_share_fx
         |FROM cells c JOIN t ON c.event_type = t.event_type
         |GROUP BY c.event_type, t.n_active_minutes, t.total_events,
         |  t.peak_minute_n
         |ORDER BY c.event_type""".stripMargin,

    "ss17_index_coverage" ->
      s"""WITH d AS (SELECT doc_id, 1 AS has_doc FROM documents),
         |v AS (SELECT vec_id AS doc_id, 1 AS has_vec FROM embeddings),
         |j AS (SELECT d.has_doc, v.has_vec
         |      FROM d FULL OUTER JOIN v ON d.doc_id = v.doc_id)
         |SELECT CAST(COALESCE(SUM(has_doc), 0) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(SUM(has_vec), 0) AS BIGINT) AS n_vecs,
         |  CAST(COALESCE(SUM(has_doc * has_vec), 0) AS BIGINT) AS n_matched,
         |  CAST(COALESCE(SUM(CASE WHEN has_vec IS NULL THEN 1 END), 0)
         |    AS BIGINT) AS n_docs_unindexed,
         |  CAST(COALESCE(SUM(CASE WHEN has_doc IS NULL THEN 1 END), 0)
         |    AS BIGINT) AS n_vecs_orphaned,
         |  (CAST(COALESCE(SUM(has_doc * has_vec), 0) AS BIGINT) * $Fx)
         |    // greatest(CAST(COALESCE(SUM(has_doc), 0) AS BIGINT), 1)
         |    AS coverage_fx
         |FROM j""".stripMargin)
}
