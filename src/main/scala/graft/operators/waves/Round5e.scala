package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-5 fifth wave: three reporting staples still missing from the
  * surface — market-basket affinity (q41), the event-type transition
  * matrix (ev31), and context-length pricing for the trainer (pk06).
  *
  * Posture notes: q41's pair generation explodes within an order key
  * (bounded by basket size — max 13 distinct parts in the test data,
  * C(13,2) pairs worst case — never a corpus-level cross join), ev31's
  * lag window partitions by user, pk06 is the ev30/q39 bounded-fanout
  * recipe (×|candidate lengths|). Ratios are fixed-point integers so
  * the oracle hash-matches without float tolerance.
  */
object Round5e extends Operators {

  /** q41: how many top affinity pairs to report. */
  val BasketTopK = 20

  /** pk06: candidate context lengths (tokens) the curve prices. */
  val CtxLens: Seq[Long] = Seq(32L, 64L, 96L, 128L)

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q41: market-basket affinity ----------------------------------
    // Parts co-ordered in the same basket, with support and lift —
    // the co-occurrence census behind "frequently bought together".
    // Pair generation is a self-equi-join of the distinct
    // (order, part) item table ON THE ORDER KEY: one shuffle
    // co-partitions both sides, and each order contributes at most
    // C(basket,2) pairs — bounded by basket size, never O(n²) in the
    // corpus. Lift is exact fixed-point:
    // (pairs·n_orders·1e6) div (cnt_a·cnt_b) — the 1-row order count
    // is the only broadcast. Top-K by support plans as
    // TakeOrderedAndProject, not a global sort.
    "q41_basket_affinity" -> { (s, d) =>
      val items = Dedup.barrier(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct())
      val nOrders = items.select(col("okey")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val partCnt = items.groupBy(col("part")).agg(count(lit(1)).as("cnt"))
      val pairs = items.select(col("okey"), col("part").as("part_a"))
        .join(items.select(col("okey"), col("part").as("part_b")), Seq("okey"))
        .filter(col("part_a") < col("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_pairs"))
      pairs
        .join(partCnt.select(col("part").as("part_a"), col("cnt").as("cnt_a")), Seq("part_a"))
        .join(partCnt.select(col("part").as("part_b"), col("cnt").as("cnt_b")), Seq("part_b"))
        .crossJoin(broadcast(nOrders))
        .withColumn("lift_fx",
          expr("(n_pairs * n_orders * 1000000) div (cnt_a * cnt_b)"))
        .select(col("part_a"), col("part_b"), col("n_pairs"),
          col("cnt_a"), col("cnt_b"), col("lift_fx"))
        .orderBy(col("n_pairs").desc, col("part_a"), col("part_b"))
        .limit(BasketTopK)
    },

    // --- ev31: event-type transition matrix ---------------------------
    // The first-order Markov census of user journeys: for every
    // consecutive event pair within a user's timeline, count
    // (from_type → to_type) and its probability among transitions
    // leaving from_type. The lag window partitions by user (ordered
    // by (ts, event_id) — total order, engine-proof); the transition
    // table is ≤ |types|² rows, so the per-from normalization window
    // runs on a constant-size frame. First events (no predecessor)
    // drop out of the census.
    "ev31_type_transitions" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .withColumn("from_type", lag(col("event_type"), 1).over(wu))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
      val wf = Window.partitionBy(col("from_type"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      trans
        .withColumn("from_total", sum(col("n_transitions")).over(wf).cast("long"))
        .withColumn("p_fx", expr("(n_transitions * 1000000) div from_total"))
        .select(col("from_type"), col("to_type"), col("n_transitions"),
          col("from_total"), col("p_fx"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // --- pk06: context-length pricing curve ---------------------------
    // The decision input for the trainer's context length: for each
    // candidate L, how many docs truncate, how many tokens are lost
    // past L, how many padding tokens one-doc-per-sequence batching
    // would waste, and the resulting utilization. One narrow pass
    // computes per-doc token counts; the candidate grid is a bounded
    // ×|CtxLens| explode (the ev30 recipe); utilization is
    // fixed-point kept·1e6 div (docs·L). Read together with pk05:
    // this prices the budget pk05's pack plan then fills.
    "pk06_ctx_curve" -> { (s, d) =>
      Tables.documents(s, d)
        .select(size(toks(col("text"))).cast("long").as("ntok"))
        .select(col("ntok"), explode(typedLit(CtxLens)).as("ctx_len"))
        .groupBy(col("ctx_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ntok") > col("ctx_len"), 1L).otherwise(0L))
            .cast("long").as("n_truncated"),
          sum(greatest(col("ntok") - col("ctx_len"), lit(0L)))
            .cast("long").as("lost_tokens"),
          sum(greatest(col("ctx_len") - col("ntok"), lit(0L)))
            .cast("long").as("pad_tokens"),
          sum(least(col("ntok"), col("ctx_len"))).cast("long").as("kept_tokens"))
        .withColumn("util_fx",
          expr("(kept_tokens * 1000000) div (n_docs * ctx_len)"))
        .orderBy(col("ctx_len"))
    })

  private def duckToks = Dedup.duckToks

  def oracles: Map[String, String] = Map(
    "q41_basket_affinity" ->
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
         |n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items),
         |pc AS (SELECT part, COUNT(*) AS cnt FROM items GROUP BY part),
         |pairs AS (
         |  SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS n_pairs
         |  FROM items a JOIN items b
         |    ON a.okey = b.okey AND a.part < b.part
         |  GROUP BY 1, 2)
         |SELECT part_a, part_b, n_pairs, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
         |  (n_pairs * n_orders * 1000000) // (ca.cnt * cb.cnt) AS lift_fx
         |FROM pairs
         |JOIN pc ca ON ca.part = part_a
         |JOIN pc cb ON cb.part = part_b
         |CROSS JOIN n
         |ORDER BY n_pairs DESC, part_a, part_b LIMIT $BasketTopK""".stripMargin,

    "ev31_type_transitions" ->
      """WITH t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n_transitions
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS from_total,
        |  (n_transitions * 1000000)
        |    // CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS p_fx
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "pk06_ctx_curve" ->
      s"""WITH d AS (
         |  SELECT CAST(len($duckToks) AS BIGINT) AS ntok FROM documents),
         |x AS (
         |  SELECT ntok, CAST(ctx_len AS BIGINT) AS ctx_len
         |  FROM d CROSS JOIN
         |    (SELECT unnest([${CtxLens.mkString(", ")}]) AS ctx_len) ls)
         |SELECT ctx_len, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN ntok > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_truncated,
         |  CAST(SUM(greatest(ntok - ctx_len, 0)) AS BIGINT) AS lost_tokens,
         |  CAST(SUM(greatest(ctx_len - ntok, 0)) AS BIGINT) AS pad_tokens,
         |  CAST(SUM(least(ntok, ctx_len)) AS BIGINT) AS kept_tokens,
         |  (CAST(SUM(least(ntok, ctx_len)) AS BIGINT) * 1000000)
         |    // (COUNT(*) * ctx_len) AS util_fx
         |FROM x GROUP BY ctx_len ORDER BY ctx_len""".stripMargin)
}
