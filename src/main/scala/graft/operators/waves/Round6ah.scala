package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 thirty-fourth wave: consumer-rebalance cost (ev59) and
  * KMV bottom-k distinct sketch (q61).
  *
  * Posture notes: ev59 folds the stream once to per-partition loads
  * (bounded table), then evaluates both assignment strategies over
  * |partitions| × |consumers| exploded rows — all bounded, the fact
  * table is touched once. q61's bottom-k runs through Rank.topKByKey
  * (salted, no whole-group sort task); the estimate arithmetic is
  * pure integer against the 2^60 hash space — EXACTLY oracle-gated,
  * like q13's relational HLL (Sketch.hllDistinct) since round 13.
  */
object Round6ah extends Operators {

  private val Fx = 1000000L

  /** ev59: topic partition count and the scale-up step under audit. */
  private val NParts = 64L
  private val WOld = 2
  private val WNew = 3

  /** q61: KMV sketch size. */
  private val KmvK = 64
  /** The estimate divides in a 2^30 domain: (k−1)·2^60/h_k would
    * overflow BIGINT (63·2^60 > 2^63), so both engines compute
    * (k−1)·2^30 // (h_k // 2^30) — identical truncation, identical
    * result, negligible extra quantization for a ±13% sketch.
    */
  private val HalfSpace = 1L << 30

  /** Rendezvous (highest-random-weight) owner of partition `p` among
    * consumers 0..w-1: argmax of hash64(p '|' c), ties to lower c.
    */
  private def rendezvousOwner(p: Column, w: Int): Column = {
    val weighted = (0 until w).map(c =>
      struct(Hashing.hash64(concat_ws("|", p.cast("string"),
        lit(c.toString))).as("h"), lit(-c.toLong).as("negc")))
    // struct max = lexicographic (h, negc): highest weight, ties to
    // the LOWER consumer id (larger negc) — mirrored in the oracle
    (lit(0L) - array_max(array(weighted: _*)).getField("negc")).cast("long")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev59: rebalance cost, modulo vs rendezvous ----------------------
    // Scaling a consumer group 2 → 3 reassigns partitions; every
    // moved partition replays state. Modulo assignment (p % W) moves
    // almost everything when W changes; rendezvous hashing moves the
    // theoretical minimum (~1/W_new). Per strategy: partitions
    // moved, event mass affected, moved share — the page that says
    // which assignment policy a stateful consumer group can afford.
    "ev59_rebalance_cost" -> { (s, d) =>
      val loads = Tables.events(s, d)
        .select(pmod(col("user_id"), lit(NParts)).as("p"))
        .groupBy(col("p"))
        .agg(count(lit(1)).cast("long").as("n_events"))
      val assigned = loads
        .withColumn("mod_old", pmod(col("p"), lit(WOld.toLong)))
        .withColumn("mod_new", pmod(col("p"), lit(WNew.toLong)))
        .withColumn("rdv_old", rendezvousOwner(col("p"), WOld))
        .withColumn("rdv_new", rendezvousOwner(col("p"), WNew))
      val perStrategy = assigned.select(
        explode(array(
          struct(lit("modulo").as("strategy"),
            (col("mod_old") =!= col("mod_new")).as("moved"),
            col("n_events")),
          struct(lit("rendezvous").as("strategy"),
            (col("rdv_old") =!= col("rdv_new")).as("moved"),
            col("n_events")))).as("s"))
        .select(col("s.strategy").as("strategy"), col("s.moved").as("moved"),
          col("s.n_events").as("n_events"))
      perStrategy.groupBy(col("strategy"))
        .agg(count(lit(1)).cast("long").as("n_partitions"),
          sum(when(col("moved"), 1L).otherwise(0L)).cast("long").as("n_moved"),
          sum(when(col("moved"), col("n_events")).otherwise(0L)).cast("long")
            .as("events_affected"),
          sum(col("n_events")).cast("long").as("events_total"))
        .withColumn("moved_share_fx", expr(s"(events_affected * $Fx) div events_total"))
        .select(col("strategy"), col("n_partitions"), col("n_moved"),
          col("events_affected"), col("moved_share_fx"))
        .orderBy(col("strategy"))
    },

    // --- q61: KMV bottom-k distinct sketch -------------------------------
    // The mergeable distinct-count sketch that IS exactly checkable:
    // per event type, keep the k=64 smallest user hashes; the
    // estimate (k−1)·2^60 / h_k is deterministic integer arithmetic,
    // so the oracle gates the whole sketch bit-for-bit (q13's HLL
    // can only be rows-checked). Reported against the true distinct
    // count with the signed fixed-point error.
    "q61_kmv_distinct" -> { (s, d) =>
      val hashed = Tables.events(s, d)
        .select(col("event_type"),
          Hashing.hash64(col("user_id").cast("string")).as("h"))
        .distinct()
      // below k the sketch keeps every distinct hash, so n_kept IS
      // the true count — Sketch.kmvDistinct's exact-branch value
      val kth = Sketch.kmvDistinct(hashed, Seq(col("event_type")), col("h"), KmvK)
      val truth = hashed.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_true"))
      truth.join(kth, Seq("event_type"))
        // err can be negative: plain `div` matches DuckDB `//` for
        // any sign — both truncate (see Det.truncDiv's scaladoc)
        .withColumn("err_fx", expr(s"((est - n_true) * $Fx) div n_true"))
        .select(col("event_type"), col("n_true"), col("h_k"), col("est"),
          col("err_fx"))
        .orderBy(col("event_type"))
    })

  def oracles: Map[String, String] = Map(
    "ev59_rebalance_cost" -> {
      def rdv(w: Int): String = {
        // argmax via list sort on (hash desc, c asc): owner = first c
        // struct sort DESC on (h, nc): ties pick larger nc = lower c,
        // matching the Spark array_max tie rule
        val pairs = (0 until w).map(c =>
          s"{'h': ${Hashing.duckHash64(s"concat_ws('|', CAST(p AS VARCHAR), '$c')")}, 'nc': ${-c}}")
          .mkString(", ")
        s"(-(list_sort([$pairs], 'DESC'))[1]['nc'])"
      }
      s"""WITH loads AS (
         |  SELECT user_id % $NParts AS p,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1),
         |a AS (
         |  SELECT p, n_events,
         |    p % $WOld <> p % $WNew AS mod_moved,
         |    ${rdv(WOld)} <> ${rdv(WNew)} AS rdv_moved
         |  FROM loads),
         |u AS (
         |  SELECT 'modulo' AS strategy, mod_moved AS moved, n_events FROM a
         |  UNION ALL
         |  SELECT 'rendezvous' AS strategy, rdv_moved AS moved, n_events FROM a)
         |SELECT strategy, CAST(COUNT(*) AS BIGINT) AS n_partitions,
         |  CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |  CAST(SUM(CASE WHEN moved THEN n_events ELSE 0 END) AS BIGINT)
         |    AS events_affected,
         |  (CAST(SUM(CASE WHEN moved THEN n_events ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(SUM(n_events) AS BIGINT) AS moved_share_fx
         |FROM u GROUP BY strategy ORDER BY strategy""".stripMargin
    },

    "q61_kmv_distinct" ->
      s"""WITH hashed AS (
         |  SELECT DISTINCT event_type,
         |    ${Hashing.duckHash64("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |ranked AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |  FROM hashed),
         |kth AS (
         |  SELECT event_type, MAX(h) AS h_k,
         |    CAST(COUNT(*) AS BIGINT) AS n_kept
         |  FROM ranked WHERE rk <= $KmvK GROUP BY 1),
         |truth AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
         |  FROM hashed GROUP BY 1),
         |est AS (
         |  SELECT t.event_type, t.n_true, k.h_k,
         |    CAST(CASE WHEN k.n_kept < $KmvK THEN t.n_true
         |      ELSE ${(KmvK - 1).toLong * HalfSpace}
         |        // greatest(k.h_k // $HalfSpace, 1) END AS BIGINT) AS est
         |  FROM truth t JOIN kth k USING (event_type))
         |SELECT event_type, n_true, h_k, est,
         |  ((est - n_true) * $Fx) // n_true AS err_fx
         |FROM est ORDER BY event_type""".stripMargin)
}
