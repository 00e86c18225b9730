package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 seventh wave: warehouse referential audit (q48) and
  * streaming exact hourly actives (ev44).
  *
  * Posture notes: q48 is ss17's full-outer census generalized to the
  * TPC-H foreign keys — both sides shuffle on the key domain, no
  * broadcast assumption on either; ev44 keeps (hour, user) streaming
  * state — the exact-distinct analog of ev11's windowed counts — and
  * finishes the distinct fold on the bounded snapshot.
  */
object Round6g extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q48: foreign-key orphan audit --------------------------------
    // The warehouse data-quality gate nobody skips at 100 TB: for
    // each declared FK edge, child rows, distinct child keys, orphan
    // child keys (no parent), parent keys never referenced, and the
    // fixed-point referential coverage. One full-outer equi-join per
    // edge on deduplicated key frames, folded to a 1-row census —
    // ss17's recipe applied to orders→customer and lineitem→orders.
    "q48_referential_audit" -> { (s, d) =>
      def audit(rel: String, child: DataFrame, childKey: String,
          parent: DataFrame, parentKey: String): DataFrame = {
        val ck = child.groupBy(col(childKey).as("k"))
          .agg(count(lit(1)).as("child_rows"))
        val pk = parent.select(col(parentKey).as("k")).distinct()
          .withColumn("has_parent", lit(1L))
        ck.join(pk, Seq("k"), "full_outer")
          .agg(
            coalesce(sum(col("child_rows")), lit(0L)).cast("long").as("child_rows"),
            coalesce(sum(when(col("child_rows").isNotNull, 1L)), lit(0L))
              .cast("long").as("child_keys"),
            coalesce(sum(when(col("has_parent").isNull, 1L)), lit(0L))
              .cast("long").as("orphan_keys"),
            coalesce(sum(when(col("child_rows").isNull, 1L)), lit(0L))
              .cast("long").as("unreferenced_parents"),
            coalesce(sum(col("has_parent")), lit(0L)).cast("long").as("parent_keys"))
          .withColumn("relation", lit(rel))
      }
      audit("lineitem->orders",
          Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey")
        .unionByName(audit("orders->customer",
          Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .withColumn("coverage_fx",
          expr(s"((child_keys - orphan_keys) * $Fx) div greatest(child_keys, 1)"))
        .select(col("relation"), col("child_rows"), col("child_keys"),
          col("orphan_keys"), col("parent_keys"), col("unreferenced_parents"),
          col("coverage_fx"))
        .orderBy(col("relation"))
    },

    // --- ev44: exact hourly actives THROUGH Structured Streaming ------
    // ev11 streams hourly event counts; this streams hourly DISTINCT
    // USERS exactly: the stream folds to (hour, user) cells (state =
    // active pairs, the exact-distinct bound; production bounds it
    // with a watermark on the hour), and the distinct fold finishes
    // on the snapshot. Oracle is the batch COUNT(DISTINCT) — so the
    // gate proves the streaming path loses and invents nobody.
    "ev44_stream_hourly_actives" -> { (s, d) =>
      val pairs = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val snap = graft.streaming.StreamJobs
        .runMemorySnapshot(pairs, "graft_ev44_mem", "complete")
      snap.groupBy(col("hour_ts"))
        .agg(count(lit(1)).as("n_active"),
          sum(col("n")).cast("long").as("n_events"))
        .withColumn("events_per_user_fx", expr(s"(n_events * $Fx) div n_active"))
        .orderBy(col("hour_ts"))
    })

  def oracles: Map[String, String] = Map(
    "q48_referential_audit" ->
      s"""WITH lo AS (
         |  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS child_rows
         |  FROM lineitem GROUP BY 1),
         |op AS (SELECT DISTINCT o_orderkey AS k, 1 AS has_parent FROM orders),
         |r1 AS (
         |  SELECT 'lineitem->orders' AS relation,
         |    CAST(COALESCE(SUM(child_rows), 0) AS BIGINT) AS child_rows,
         |    CAST(COALESCE(SUM(CASE WHEN child_rows IS NOT NULL THEN 1 END), 0)
         |      AS BIGINT) AS child_keys,
         |    CAST(COALESCE(SUM(CASE WHEN has_parent IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS orphan_keys,
         |    CAST(COALESCE(SUM(has_parent), 0) AS BIGINT) AS parent_keys,
         |    CAST(COALESCE(SUM(CASE WHEN child_rows IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS unreferenced_parents
         |  FROM lo FULL OUTER JOIN op USING (k)),
         |oc AS (
         |  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS child_rows
         |  FROM orders GROUP BY 1),
         |cp AS (SELECT DISTINCT c_custkey AS k, 1 AS has_parent FROM customer),
         |r2 AS (
         |  SELECT 'orders->customer' AS relation,
         |    CAST(COALESCE(SUM(child_rows), 0) AS BIGINT) AS child_rows,
         |    CAST(COALESCE(SUM(CASE WHEN child_rows IS NOT NULL THEN 1 END), 0)
         |      AS BIGINT) AS child_keys,
         |    CAST(COALESCE(SUM(CASE WHEN has_parent IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS orphan_keys,
         |    CAST(COALESCE(SUM(has_parent), 0) AS BIGINT) AS parent_keys,
         |    CAST(COALESCE(SUM(CASE WHEN child_rows IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS unreferenced_parents
         |  FROM oc FULL OUTER JOIN cp USING (k))
         |SELECT relation, child_rows, child_keys, orphan_keys, parent_keys,
         |  unreferenced_parents,
         |  ((child_keys - orphan_keys) * $Fx) // greatest(child_keys, 1)
         |    AS coverage_fx
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
         |ORDER BY relation""".stripMargin,

    "ev44_stream_hourly_actives" ->
      s"""WITH c AS (
         |  SELECT date_trunc('hour', ts) AS hour_ts, user_id,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2)
         |SELECT hour_ts, CAST(COUNT(*) AS BIGINT) AS n_active,
         |  CAST(SUM(n) AS BIGINT) AS n_events,
         |  (CAST(SUM(n) AS BIGINT) * $Fx) // COUNT(*) AS events_per_user_fx
         |FROM c GROUP BY hour_ts ORDER BY hour_ts""".stripMargin)
}
