package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 fifth wave: the session-gap dial sweep (ev43) and the
  * shard rebalance plan (pk13).
  *
  * Posture notes: ev43 prices ALL gap thresholds from ONE lag-window
  * pass (conditional sums, no per-threshold rerun); pk13's greedy
  * pairing runs entirely on the 16-row shard census — windows above
  * aggregates only, the audit-enforced shape.
  */
object Round6e extends Operators {

  private val Fx = 1000000L

  /** Session gap thresholds under evaluation, in seconds. */
  private val GapsS = Seq(300L, 1800L, 7200L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev43: session-gap sensitivity sweep --------------------------
    // ev09 hard-codes the 30-minute session gap; this is the dial
    // study that justifies it: session counts and mean session size
    // under 5 min / 30 min / 2 h gaps, all three priced from ONE
    // (user-partitioned) lag pass — a session opens where the
    // previous-event gap exceeds T, so n_sessions(T) is a
    // conditional sum over the same gap column. Read with ev36
    // (which histograms the gaps themselves); this turns the
    // histogram into the decision table.
    "ev43_session_gap_sweep" -> { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
      val withPrev = e.withColumn("prev",
        lag(col("us"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      val aggCols = count(lit(1)).cast("long").as("n_events") +:
        GapsS.map { t =>
          sum(when(col("prev").isNull ||
            col("us") - col("prev") > t * 1000000L, 1L).otherwise(0L))
            .cast("long").as(s"s$t")
        }
      val counts = withPrev.agg(aggCols.head, aggCols.tail: _*)
      counts.select(explode(array(GapsS.map { t =>
          struct(lit(t).as("gap_s"), col(s"s$t").as("n_sessions"),
            col("n_events").as("n_events"))
        }: _*)).as("r"))
        .select(col("r.gap_s"), col("r.n_sessions"), col("r.n_events"))
        .withColumn("events_per_session_fx",
          expr(s"(n_events * $Fx) div n_sessions"))
        .orderBy(col("gap_s"))
    },

    // --- pk13: shard rebalance plan -----------------------------------
    // When pk07's manifest shows skew, nobody reshuffles 100 TB —
    // they move the smallest correcting slice. One deterministic
    // greedy step: shards above the balanced target pair rank-for-
    // rank with shards below it (1st-biggest donor → 1st-emptiest
    // receiver), each move being min(excess, deficit). Everything
    // runs on the NShards-row census; the plan row also prices the
    // residual imbalance the single step leaves.
    "pk13_shard_rebalance" -> { (s, d) =>
      val shards = Tables.documents(s, d)
        .withColumn("shard", pmod(Hashing.hash64(
          col("doc_id").cast("string")), lit(16)))
        .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))
      val tot = shards.agg(sum(col("n_docs")).cast("long").as("total"))
      val sized = shards.crossJoin(broadcast(tot))
        .withColumn("target", expr("total div 16"))
        .withColumn("excess", col("n_docs") - col("target"))
      val donors = sized.filter(col("excess") > 0)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("excess").desc, col("shard"))))
        .select(col("rk"), col("shard").as("from_shard"),
          col("excess"))
      val receivers = sized.filter(col("excess") < 0)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("excess").asc, col("shard"))))
        .select(col("rk"), col("shard").as("to_shard"),
          (-col("excess")).as("deficit"))
      donors.join(receivers, Seq("rk"))
        .withColumn("moved", least(col("excess"), col("deficit")))
        .withColumn("residual", col("excess") - col("moved"))
        .select(col("rk").cast("long").as("pair_rank"), col("from_shard"),
          col("to_shard"), col("moved").cast("long").as("moved"),
          col("residual").cast("long").as("residual"))
        .orderBy(col("pair_rank"))
    })

  def oracles: Map[String, String] = Map(
    "ev43_session_gap_sweep" -> {
      val arms = GapsS.map { t =>
        s"""SELECT $t AS gap_s,
           |  CAST(SUM(CASE WHEN prev IS NULL OR us - prev > ${t * 1000000L}
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           |  CAST(COUNT(*) AS BIGINT) AS n_events
           |FROM g""".stripMargin
      }
      s"""WITH g AS (
         |  SELECT epoch_us(ts) AS us,
         |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS prev
         |  FROM events)
         |SELECT gap_s, n_sessions, n_events,
         |  (n_events * $Fx) // n_sessions AS events_per_session_fx
         |FROM (${arms.mkString("\nUNION ALL\n")})
         |ORDER BY gap_s""".stripMargin
    },

    "pk13_shard_rebalance" -> {
      val h = Hashing.duckHash64("CAST(doc_id AS VARCHAR)")
      s"""WITH shards AS (
         |  SELECT (($h) % 16 + 16) % 16 AS shard,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM shards),
         |sized AS (
         |  SELECT shard, n_docs, total // 16 AS target,
         |    n_docs - total // 16 AS excess
         |  FROM shards CROSS JOIN tot),
         |donors AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY excess DESC, shard) AS rk,
         |    shard AS from_shard, excess
         |  FROM sized WHERE excess > 0),
         |receivers AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY excess ASC, shard) AS rk,
         |    shard AS to_shard, -excess AS deficit
         |  FROM sized WHERE excess < 0)
         |SELECT CAST(d.rk AS BIGINT) AS pair_rank, from_shard, to_shard,
         |  CAST(least(excess, deficit) AS BIGINT) AS moved,
         |  CAST(excess - least(excess, deficit) AS BIGINT) AS residual
         |FROM donors d JOIN receivers r ON d.rk = r.rk
         |ORDER BY pair_rank""".stripMargin
    })
}
