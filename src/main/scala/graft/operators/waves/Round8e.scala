package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 fifth wave: cross-snapshot distribution drift (tx37).
  *
  * Posture note: dd41 links the two corpus versions doc-by-doc; tx37
  * asks the aggregate question a retrain decision needs — how much
  * did the TOKEN DISTRIBUTION move? One token-tagged union + ONE
  * groupBy(token) produces both versions' counts (no join of two
  * censuses), drift metrics fold over that census in fixed point,
  * and the top-50 churn rides TakeOrdered limits (never a global
  * row_number sort). Everything after the census is vocab-sized.
  */
object Round8e extends Operators {

  /** Fixed-point scale for per-token probabilities (1e9: vocab-sized
    * sums stay far under Long range at gate SFs; at true 100 TB token
    * counts the products would move to DECIMAL(38,0) — same plan).
    */
  private val PFx = 1000000000L
  private val TopK = 50

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- tx37: snapshot token-distribution drift --------------------------
    // Census: per token, occurrence counts in v1 and v2 (one shuffle).
    // Metrics: total-variation distance between the two unigram
    // distributions (fixed-point 1e9 per-token probabilities — the
    // same integer ops on both engines, so parity holds by
    // construction), new/lost vocab and MASS (the retrain signal:
    // how much of v2's token volume is content v1 never saw), and
    // top-50 churn (how many of v1's head tokens left v2's head).
    "tx37_snapshot_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      def toks(v: DataFrame, tag: Int): DataFrame = v
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .withColumn("v", lit(tag))
      val census = toks(Round8d.snapshotV1(docs), 1)
        .unionByName(toks(Round8d.snapshotV2(docs), 2))
        .groupBy(col("token"))
        .agg(sum(when(col("v") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("v") === 2, 1L).otherwise(0L)).as("c2"))
      val c = Dedup.barrier(census)

      val totals = c.agg(
        sum(col("c1")).cast("long").as("s1"),
        sum(col("c2")).cast("long").as("s2"))
      val withP = c.crossJoin(broadcast(totals))
        .withColumn("p1", expr(s"(c1 * $PFx) div s1"))
        .withColumn("p2", expr(s"(c2 * $PFx) div s2"))
      val drift = withP.agg(
        count(lit(1)).cast("long").as("vocab_union"),
        sum(when(col("c1") > 0, 1L).otherwise(0L)).cast("long").as("vocab_v1"),
        sum(when(col("c2") > 0, 1L).otherwise(0L)).cast("long").as("vocab_v2"),
        sum(when(col("c1") === 0, 1L).otherwise(0L)).cast("long").as("vocab_new"),
        sum(when(col("c2") === 0, 1L).otherwise(0L)).cast("long").as("vocab_lost"),
        sum(abs(col("p1") - col("p2"))).cast("long").as("_l1"),
        sum(when(col("c1") === 0, col("c2")).otherwise(0L)).cast("long").as("_new_mass"),
        sum(when(col("c2") === 0, col("c1")).otherwise(0L)).cast("long").as("_lost_mass"))

      def top(side: Column): DataFrame = c.filter(side > 0)
        .orderBy(side.desc, col("token"))
        .limit(TopK).select(col("token"))
      val churn = top(col("c1")).join(top(col("c2")), Seq("token"), "left_anti")
        .agg(count(lit(1)).cast("long").as("topk_churn"))

      drift.crossJoin(broadcast(totals)).crossJoin(broadcast(churn))
        .withColumn("tvd_fx", expr("_l1 div 2"))
        .withColumn("new_mass_fx", expr(s"(_new_mass * $PFx) div s2"))
        .withColumn("lost_mass_fx", expr(s"(_lost_mass * $PFx) div s1"))
        .select(col("s1"), col("s2"), col("vocab_union"), col("vocab_v1"),
          col("vocab_v2"), col("vocab_new"), col("vocab_lost"),
          col("tvd_fx"), col("new_mass_fx"), col("lost_mass_fx"),
          col("topk_churn"))
    })

  def oracles: Map[String, String] = Map(
    "tx37_snapshot_drift" ->
      s"""WITH ${Round8d.duckSnapshotCtes},
         |tok AS (
         |  SELECT token, 1 AS v FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
         |    FROM v1) WHERE len(token) > 0
         |  UNION ALL
         |  SELECT token, 2 AS v FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
         |    FROM v2) WHERE len(token) > 0),
         |census AS (
         |  SELECT token,
         |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM tok GROUP BY token),
         |totals AS (
         |  SELECT CAST(SUM(c1) AS BIGINT) AS s1,
         |    CAST(SUM(c2) AS BIGINT) AS s2 FROM census),
         |withp AS (
         |  SELECT c1, c2, (c1 * $PFx) // s1 AS p1, (c2 * $PFx) // s2 AS p2
         |  FROM census CROSS JOIN totals),
         |drift AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_union,
         |    CAST(SUM(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_v1,
         |    CAST(SUM(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_v2,
         |    CAST(SUM(CASE WHEN c1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_new,
         |    CAST(SUM(CASE WHEN c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_lost,
         |    CAST(SUM(abs(p1 - p2)) AS BIGINT) AS l1,
         |    CAST(SUM(CASE WHEN c1 = 0 THEN c2 ELSE 0 END) AS BIGINT) AS new_mass,
         |    CAST(SUM(CASE WHEN c2 = 0 THEN c1 ELSE 0 END) AS BIGINT) AS lost_mass
         |  FROM withp),
         |t1 AS (
         |  SELECT token FROM census WHERE c1 > 0
         |  ORDER BY c1 DESC, token LIMIT $TopK),
         |t2 AS (
         |  SELECT token FROM census WHERE c2 > 0
         |  ORDER BY c2 DESC, token LIMIT $TopK),
         |churn AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS topk_churn FROM t1
         |  WHERE token NOT IN (SELECT token FROM t2))
         |SELECT s1, s2, vocab_union, vocab_v1, vocab_v2, vocab_new,
         |  vocab_lost, CAST(l1 // 2 AS BIGINT) AS tvd_fx,
         |  CAST((new_mass * $PFx) // s2 AS BIGINT) AS new_mass_fx,
         |  CAST((lost_mass * $PFx) // s1 AS BIGINT) AS lost_mass_fx,
         |  topk_churn
         |FROM drift CROSS JOIN totals CROSS JOIN churn""".stripMargin)
}
