package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 twenty-fourth wave: retraction-based incremental view
  * maintenance (ev55) and the spend-decile transition matrix (q54).
  *
  * Posture notes: ev55 derives the +/− delta stream with one lag
  * window per key and folds it with one aggregate — the Flink-style
  * changelog algebra, provably landing on ev22's compacted census
  * (the third independent mechanism gated against that oracle, after
  * the declarative ev22 and the stateful ev46/ev50). q54 runs
  * Rank.ntileExact twice (no global sort windows) and joins the two
  * decile frames co-partitioned on the customer key.
  */
object Round6x extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev55: changelog-delta view maintenance ------------------------
    // A materialized per-type (users, sum) view maintained from CDC
    // deltas instead of recomputation: each record emits +1/+value
    // under ITS type (unless it is a tombstone) and −1/−value under
    // its PREDECESSOR's type (the retraction — Flink's changelog
    // algebra). Folding all deltas must equal the ev22 compacted
    // census exactly: adds and retracts cancel through every
    // intermediate version, leaving precisely the live latest state.
    "ev55_retraction_view" -> { (s, d) =>
      val byKey = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val recs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), expr("unix_micros(ts)").as("us"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byKey))
        .withColumn("prev_value", lag(col("value"), 1).over(byKey))
        .withColumn("prev_dead", lag(col("event_type") === "error", 1).over(byKey))
      // adds: the record's own (type, value) when not a tombstone;
      // retracts: the predecessor's (type, value) when that
      // predecessor was live
      val adds = recs.filter(col("event_type") =!= "error")
        .select(col("event_type").as("t"), lit(1L).as("dn"),
          col("value").cast("decimal(18,6)").as("dv"))
      val retracts = recs.filter(col("prev_type").isNotNull && !col("prev_dead"))
        .select(col("prev_type").as("t"), lit(-1L).as("dn"),
          (-col("prev_value")).cast("decimal(18,6)").as("dv"))
      adds.unionByName(retracts)
        .groupBy(col("t").as("last_event_type"))
        .agg(sum(col("dn")).cast("long").as("n_users"),
          sum(col("dv")).cast("double").as("sum_value"))
        .filter(col("n_users") > 0)
        .orderBy(col("last_event_type"))
    },

    // --- q54: spend-decile transition matrix ---------------------------
    // Mobility analysis: each customer's spend decile at cutoff t1 vs
    // t2 (new customers enter as decile 0), censused as the bounded
    // (from, to) transition matrix — who moved up, who churned into
    // the tail. Deciles come from Rank.ntileExact (exact ANSI NTILE,
    // no customer-cardinality global sort); the two decile frames
    // join co-partitioned on the customer key.
    "q54_decile_transition" -> { (s, d) =>
      // money in integer cents end to end (q40's convention): floor
      // on the double is engine-identical, and the ntile key stays a
      // long
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      def deciles(cut: String, out: String) = Rank.ntileExact(
        o.filter(col("o_orderdate") <= lit(cut).cast("timestamp"))
          .groupBy(col("o_custkey")).agg(sum(col("cents")).as("spend")),
        10, out, col("spend"), Seq(col("o_custkey")))
        .select(col("o_custkey"), col(out))
      val t1 = deciles("1996-12-31", "d1")
      val t2 = deciles("1997-12-31", "d2")
      t2.join(t1, Seq("o_custkey"), "left")
        .withColumn("decile_from", coalesce(col("d1"), lit(0)).cast("int"))
        .withColumn("decile_to", col("d2").cast("int"))
        .groupBy(col("decile_from"), col("decile_to"))
        .agg(count(lit(1)).cast("long").as("n_customers"))
        .orderBy(col("decile_from"), col("decile_to"))
    })

  def oracles: Map[String, String] = Map(
    // three mechanisms, one truth: the declarative window (ev22), the
    // stateful stream (ev46), the durable store (ev50), and now the
    // delta fold all land on this census
    "ev55_retraction_view" -> Round3.oracles("ev22_cdc_upsert"),

    "q54_decile_transition" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |s1 AS (
        |  SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS spend FROM o
        |  WHERE o_orderdate <= TIMESTAMP '1996-12-31' GROUP BY o_custkey),
        |s2 AS (
        |  SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS spend FROM o
        |  WHERE o_orderdate <= TIMESTAMP '1997-12-31' GROUP BY o_custkey),
        |d1 AS (
        |  SELECT o_custkey, NTILE(10) OVER (ORDER BY spend, o_custkey) AS d1
        |  FROM s1),
        |d2 AS (
        |  SELECT o_custkey, NTILE(10) OVER (ORDER BY spend, o_custkey) AS d2
        |  FROM s2)
        |SELECT CAST(COALESCE(d1.d1, 0) AS INTEGER) AS decile_from,
        |  CAST(d2.d2 AS INTEGER) AS decile_to,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM d2 LEFT JOIN d1 ON d2.o_custkey = d1.o_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
