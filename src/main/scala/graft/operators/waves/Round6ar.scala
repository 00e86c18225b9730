package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 forty-fourth wave: tombstone ghost hits (ss31) and
  * compaction debt (ev64).
  *
  * Posture notes: ss31 is the ss19 broadcast-panel brute pattern
  * with a deterministic hash-selected tombstone set — panel windows
  * only. ev64 folds the event log per (user, day) with
  * user-partitioned windows and censuses the bounded day table.
  */
object Round6ar extends Operators {

  private val Fx = 1000000L

  /** ss31: 1-in-N of the corpus is tombstoned (hash-selected). */
  private val TombMod = 10L
  private val K = 10

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss31: tombstone ghost-hit census --------------------------------
    // ANN indexes rarely delete eagerly: tombstoned vectors stay in
    // the index and surface as GHOSTS until the next rebuild. With a
    // 1-in-10 hash-selected tombstone set, per panel query: ghosts
    // in the stale top-10, the live top-10 recall the stale list
    // still achieves, and the rank budget wasted — the page that
    // prices lazy deletion against rebuild cadence.
    "ss31_tombstone_ghosts" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .withColumn("dead",
          pmod(Hashing.hash64(col("vec_id").cast("string")), lit(TombMod)) === 0)
      val panel = e.filter(col("vec_id") < Round5s.PanelN && !col("dead"))
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"))
      val scored = Dedup.barrier(e.crossJoin(broadcast(panel))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .select(col("q_id"), col("vec_id"), col("dead"), col("cos_sim")))
      val wq = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val stale = scored.withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= K)
      val live = scored.filter(!col("dead"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= K)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      stale.join(live, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(when(col("dead"), 1L).otherwise(0L)).cast("long").as("n_ghosts"),
          coalesce(sum(col("hit")), lit(0L)).cast("long").as("n_live_hits"))
        .withColumn("recall_fx", expr(s"(n_live_hits * $Fx) div $K"))
        .withColumn("wasted_fx", expr(s"(n_ghosts * $Fx) div $K"))
        .select(col("q_id"), col("n_ghosts"), col("n_live_hits"),
          col("recall_fx"), col("wasted_fx"))
        .orderBy(col("q_id"))
    },

    // --- ev64: compaction-debt growth curve ------------------------------
    // A latest-wins keyed store (ev22's) accumulates dead versions
    // until compaction: per day, records written, records that are
    // ALREADY superseded by a newer version of their key as of the
    // data tip, and the cumulative dead share — the debt curve whose
    // slope says how often compaction must run. Per-user windows
    // mark supersession; the census folds to days.
    "ev64_compaction_debt" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("us").desc, col("event_id").desc)
      val recs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("rn", row_number().over(wu))
        .withColumn("dead", col("rn") > 1)
        .withColumn("day", expr(Det.truncDiv("us", 86400000000L)))
      val daily = recs.groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("n_written"),
          sum(when(col("dead"), 1L).otherwise(0L)).cast("long").as("n_dead"))
      val wd = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum_written", sum(col("n_written")).over(wd).cast("long"))
        .withColumn("cum_dead", sum(col("n_dead")).over(wd).cast("long"))
        .withColumn("debt_fx", expr(s"(cum_dead * $Fx) div cum_written"))
        .select(col("day"), col("n_written"), col("n_dead"),
          col("cum_written"), col("cum_dead"), col("debt_fx"))
        .orderBy(col("day"))
    })

  def oracles: Map[String, String] = Map(
    "ss31_tombstone_ghosts" ->
      s"""WITH e AS (
         |  SELECT vec_id, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm,
         |    ${Hashing.duckHash64("CAST(vec_id AS VARCHAR)")} % $TombMod = 0
         |      AS dead
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |        FROM embeddings)),
         |panel AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm
         |  FROM e WHERE vec_id < ${Round5s.PanelN} AND NOT dead),
         |scored AS (
         |  SELECT p.q_id, e.vec_id, e.dead,
         |    ${Det.duckTrunc(
                "list_sum(list_transform(range(len(e.emb)), " +
                "i -> e.emb[i+1] * p.q_emb[i+1])) / (e.norm * p.q_norm)", 4)}
         |      AS cos_sim
         |  FROM e CROSS JOIN panel p WHERE e.vec_id <> p.q_id),
         |stale AS (
         |  SELECT q_id, vec_id, dead FROM (
         |    SELECT q_id, vec_id, dead,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos_sim DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= $K),
         |live AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos_sim DESC, vec_id) AS rn
         |    FROM scored WHERE NOT dead) WHERE rn <= $K)
         |SELECT s.q_id,
         |  CAST(SUM(CASE WHEN s.dead THEN 1 ELSE 0 END) AS BIGINT) AS n_ghosts,
         |  CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_live_hits,
         |  (CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // $K AS recall_fx,
         |  (CAST(SUM(CASE WHEN s.dead THEN 1 ELSE 0 END) AS BIGINT) * $Fx) // $K
         |    AS wasted_fx
         |FROM stale s LEFT JOIN live l
         |  ON s.q_id = l.q_id AND s.vec_id = l.vec_id
         |GROUP BY s.q_id ORDER BY s.q_id""".stripMargin,

    "ev64_compaction_debt" ->
      s"""WITH recs AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts) DESC, event_id DESC) > 1 AS dead
         |  FROM events),
         |daily AS (
         |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_written,
         |    CAST(SUM(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS n_dead
         |  FROM recs GROUP BY 1),
         |c AS (
         |  SELECT day, n_written, n_dead,
         |    CAST(SUM(n_written) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_written,
         |    CAST(SUM(n_dead) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_dead
         |  FROM daily)
         |SELECT day, n_written, n_dead, cum_written, cum_dead,
         |  (cum_dead * $Fx) // cum_written AS debt_fx
         |FROM c ORDER BY day""".stripMargin)
}
