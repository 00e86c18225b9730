package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 twenty-second wave: idempotent-producer epoch fencing
  * (ev54) and the shingle-size discriminativity sweep (dd31).
  *
  * Posture notes: ev54 is one running-max window partitioned by the
  * producer key (the fencing decision is per-producer state, exactly
  * what a broker holds); dd31 is one hash aggregate per shingle size
  * over exploded n-gram hashes — group tables bounded by distinct
  * shingles, no pair joins.
  */
object Round6v extends Operators {

  private val Fx = 1000000L

  /** dd31's candidate shingle sizes (tokens per shingle). */
  private val ShingleNs = Seq(2, 3, 5, 8)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev54: producer-epoch zombie fencing ---------------------------
    // Exactly-once producers carry (producer id, epoch); a restarted
    // producer bumps the epoch and the broker FENCES late records
    // from the old one (zombies). Batch replay of that rule: per
    // producer (user-hash), offset order = event_id, epoch derived
    // from the offset; every 97th record is deterministically
    // regressed one epoch (the injected zombie, ev16's fault-
    // injection convention) and must be rejected by the running-max
    // fence. Census: totals, fenced count, affected producers — and
    // the fence must catch EXACTLY the injected set (spec + oracle).
    "ev54_producer_fencing" -> { (s, d) =>
      val byProducer = Window.partitionBy(col("producer"))
        .orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val e = Tables.events(s, d)
        .select(col("event_id"), pmod(col("user_id"), lit(16)).as("producer"))
        .withColumn("epoch_base", expr("(event_id div 2048) % 4"))
        .withColumn("epoch", when(pmod(col("event_id"), lit(97)) === 0,
          col("epoch_base") - 1).otherwise(col("epoch_base")))
        .withColumn("hwm", max(col("epoch")).over(byProducer))
        .withColumn("fenced", col("hwm").isNotNull && col("epoch") < col("hwm"))
      e.agg(count(lit(1)).cast("long").as("n_records"),
          sum(when(col("fenced"), 1L).otherwise(0L)).cast("long").as("n_fenced"),
          countDistinct(when(col("fenced"), col("producer")))
            .cast("long").as("producers_fenced"))
        .withColumn("fenced_share_fx", expr(s"(n_fenced * $Fx) div n_records"))
    },

    // --- dd31: shingle-size discriminativity sweep ---------------------
    // Every shingle-based dedup dial (dd02/dd03/dd08) starts from one
    // choice: how many tokens per shingle. Too few and shingles are
    // common phrases (banding floods); too many and near-dups stop
    // colliding. Per n: distinct shingles, total instances, the
    // repeated-instance share, and the hottest shingle's document
    // frequency — the discriminativity curve read before committing
    // a corpus to an n. One aggregate per n on the shingle-hash key.
    "dd31_shingle_size_sweep" -> { (s, d) =>
      val base = Dedup.barrier(Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")))
      ShingleNs.map { n =>
        base.filter(size(col("toks")) >= n)
          .select(explode_outer(transform(
            sequence(lit(0), size(col("toks")) - lit(n)),
            i => Hashing.hash64(
              array_join(slice(col("toks"), i + 1, lit(n)), " ")))).as("sh"))
          .filter(col("sh").isNotNull)
          .groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .agg(count(lit(1)).cast("long").as("distinct_shingles"),
            sum(col("df")).cast("long").as("total_instances"),
            max(col("df")).cast("long").as("max_df"))
          .withColumn("n", lit(n))
      }.reduce(_ unionByName _)
        .withColumn("repeated_share_fx",
          expr(s"((total_instances - distinct_shingles) * $Fx) div total_instances"))
        .select(col("n"), col("distinct_shingles"), col("total_instances"),
          col("max_df"), col("repeated_share_fx"))
        .orderBy(col("n"))
    })

  def oracles: Map[String, String] = Map(
    "ev54_producer_fencing" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id % 16 AS producer,
         |    (event_id // 2048) % 4 AS epoch_base
         |  FROM events),
         |x AS (
         |  SELECT event_id, producer,
         |    CASE WHEN event_id % 97 = 0 THEN epoch_base - 1
         |      ELSE epoch_base END AS epoch
         |  FROM e),
         |w AS (
         |  SELECT producer, epoch,
         |    MAX(epoch) OVER (PARTITION BY producer ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
         |  FROM x)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN hwm IS NOT NULL AND epoch < hwm THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fenced,
         |  CAST(COUNT(DISTINCT CASE WHEN hwm IS NOT NULL AND epoch < hwm
         |    THEN producer END) AS BIGINT) AS producers_fenced,
         |  (CAST(SUM(CASE WHEN hwm IS NOT NULL AND epoch < hwm THEN 1 ELSE 0 END)
         |    AS BIGINT) * $Fx) // CAST(COUNT(*) AS BIGINT) AS fenced_share_fx
         |FROM w""".stripMargin,

    "dd31_shingle_size_sweep" -> {
      val toks = Dedup.duckToks
      val parts = ShingleNs.map { n =>
        val sh = Hashing.duckHash64(
          s"array_to_string(list_slice(toks, i + 1, i + $n), ' ')")
        s"""SELECT $n AS n, CAST(COUNT(*) AS BIGINT) AS distinct_shingles,
           |  CAST(SUM(df) AS BIGINT) AS total_instances,
           |  CAST(MAX(df) AS BIGINT) AS max_df
           |FROM (
           |  SELECT sh, COUNT(*) AS df FROM (
           |    SELECT $sh AS sh FROM (
           |      SELECT toks, unnest(range(len(toks) - $n + 1)) AS i
           |      FROM (SELECT $toks AS toks FROM documents)
           |      WHERE len(toks) >= $n))
           |  GROUP BY sh)""".stripMargin
      }
      s"""WITH u AS (${parts.mkString("\nUNION ALL\n")})
         |SELECT n, distinct_shingles, total_instances, max_df,
         |  ((total_instances - distinct_shingles) * $Fx) // total_instances
         |    AS repeated_share_fx
         |FROM u ORDER BY n""".stripMargin
    })
}
