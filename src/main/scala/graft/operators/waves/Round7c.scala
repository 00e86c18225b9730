package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-7 third wave: two-stage ANN serving eval (ss34) and
  * watermark-lateness quantiles (ev74).
  *
  * Posture notes: ss34's cheap stage is pure integer (60-bit sign
  * signature + xor/bit_count hamming — zero float-parity surface);
  * every window sits above a TakeOrdered limit or is partitioned.
  * ev74's frontier is a per-user running max (partitioned window);
  * the quantile picks are exact integer rank arithmetic, no
  * percentile_approx.
  */
object Round7c extends Operators {

  /** ss34: sign-signature width (60 of the 64 dims — keeps the word
    * positive, the [[Dedup.SimhashBits]] convention) and the
    * shortlist depths the refine stage is priced at.
    */
  val SigBits = 60
  val Depths: Seq[Int] = Seq(10, 20, 50, 100)

  /** ev74: lateness percentiles (integer rank picks). */
  val Percentiles: Seq[Int] = Seq(50, 90, 99)

  /** The 60-term sign-signature sum, generated once for both engines:
    * Spark `element_at` and DuckDB `emb[i+1]` are both 1-based.
    */
  private def sigExpr(ix: Int => String): String =
    (0 until SigBits).map(i =>
      s"CASE WHEN ${ix(i)} > 0.0 THEN ${1L << i} ELSE 0 END")
      .mkString("(", " + ", ")")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss34: two-stage recall vs shortlist depth ------------------------
    // The serving architecture every ANN deployment converges to:
    // a CHEAP first stage (here: hamming distance between 60-bit
    // sign signatures — one xor + popcount per vector, integers all
    // the way) proposes a depth-L shortlist, an exact cosine rerank
    // keeps the top 10. This measures the only dial that matters:
    // recall@10 vs L, against brute-force truth. The shortlist comes
    // from TakeOrdered(maxL) — no global sort, no unpartitioned
    // window over facts; rerank windows run inside the ≤100-row
    // frame.
    "ss34_two_stage_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .withColumn("sig",
          expr(sigExpr(i => s"element_at(emb, ${i + 1})")).cast("long"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("norm").as("q_norm"),
          col("sig").as("q_sig"))
      val scored = Dedup.barrier(e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("ham", expr("bit_count(sig ^ q_sig)").cast("long"))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .select(col("vec_id"), col("ham"), col("cos_sim")))
      val truth = scored.orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
      val short = scored.orderBy(col("ham"), col("vec_id")).limit(Depths.max)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("ham"), col("vec_id"))))
      val depths = { import s.implicits._; Depths.toDF("depth") }
      val reranked = short
        .join(broadcast(depths), col("rk") <= col("depth"))
        .withColumn("rr", row_number().over(
          Window.partitionBy(col("depth"))
            .orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rr") <= 10)
        .select(col("depth"), col("vec_id"), lit(1L).as("hit"))
      depths.crossJoin(broadcast(truth))
        .join(reranked, Seq("depth", "vec_id"), "left")
        .groupBy(col("depth"))
        .agg(count(lit(1)).cast("long").as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
        .withColumn("recall_fx", expr("(n_hit * 1000000) div n_truth"))
        .select(col("depth").cast("long").as("depth"), col("n_truth"),
          col("n_hit"), col("recall_fx"))
        .orderBy(col("depth"))
    },

    // --- ev74: watermark-lateness quantiles -------------------------------
    // The number that sets every watermark delay: how late do events
    // actually arrive? Frontier = per-user running max event time in
    // arrival order (event_id); lateness = frontier − event time at
    // arrival. Census per event type: exact p50/p90/p99/max lateness
    // via the HISTOGRAM pick (fold to per-(type, late_us) counts, then
    // MIN value whose cumulative count reaches idx = (n−1)·p div 100
    // + 1 — bit-identical to the rank pick, q71's recipe) — the page
    // that turns withWatermark("10 minutes") from folklore into a
    // measured bound. The r11 shape ranked EVERY event per type
    // (row_number over the fact stream — the last fact sort in the
    // chooser lane, 16.0x wall at 100x data); the histogram bounds
    // the sort at the distinct lateness values per type instead.
    "ev74_lateness_quantiles" -> { (s, d) =>
      val wa = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val late = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("frontier", max(col("us")).over(wa))
        .withColumn("late_us", col("frontier") - col("us"))
      Rank.histQuantilesByKey(late, "event_type", col("late_us"),
          Percentiles, p => s"p${p}_us", "max_late_us")
        .withColumnRenamed("n_rows", "n_events")
        .orderBy(col("event_type"))
    },

    // --- ev75: stream-stream join state model ----------------------------
    // ev62 sizes keyed state; this sizes TIME-windowed state: a
    // watermarked interval join retains every row younger than delay
    // D, so retained(minute m) = prefix(m) − prefix(m − D/60) on the
    // DENSE minute grid (ev24's gap-fill recipe — prefix diffs are
    // equi-joins on the shifted minute, no as-of lookup, no bounded
    // frame re-aggregation). Per candidate delay: mean and max
    // retained rows and the grid size — the state-store budget line
    // for each withWatermark setting, computed in two aggregates +
    // one grid join per delay.
    "ev75_join_state_model" -> { (s, d) =>
      import s.implicits._
      val counts = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 60000000").as("m"))
        .groupBy(col("m")).agg(count(lit(1)).cast("long").as("c"))
      val bounds = counts.agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      val grid = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("m"))
        .join(counts, Seq("m"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val pre = Dedup.barrier(grid
        .withColumn("prefix", sum(col("c")).over(
          Window.orderBy(col("m"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
        .select(col("m"), col("prefix")))
      val delays = DelaysS.toDF("delay_s")
      val shifted = pre.crossJoin(broadcast(delays))
        .join(pre.select(col("m").as("m_old"), col("prefix").as("prefix_old")),
          col("m_old") === col("m") - expr("delay_s div 60"), "left")
        .withColumn("retained",
          col("prefix") - coalesce(col("prefix_old"), lit(0L)))
      shifted.groupBy(col("delay_s"))
        .agg(count(lit(1)).cast("long").as("n_minutes"),
          sum(col("retained")).cast("long").as("retained_sum"),
          max(col("retained")).cast("long").as("max_state_rows"))
        .withColumn("mean_state_fx",
          expr(s"(retained_sum * ${1000000L}) div n_minutes"))
        .select(col("delay_s"), col("n_minutes"), col("max_state_rows"),
          col("mean_state_fx"))
        .orderBy(col("delay_s"))
    })

  /** ev75: candidate watermark delays (seconds). */
  val DelaysS: Seq[Long] = Seq(300L, 3600L, 21600L)

  def oracles: Map[String, String] = Map(
    "ss34_two_stage_recall" -> {
      val duckSig = sigExpr(i => s"emb[${i + 1}]")
      val duckCosQ = Det.duckTrunc(
        "list_sum(list_transform(range(len(emb)), i -> emb[i+1] * q_emb[i+1]))" +
          " / (norm * q_norm)", 4)
      s"""WITH e AS (
         |  SELECT vec_id, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm,
         |    CAST($duckSig AS BIGINT) AS sig
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |        FROM embeddings)),
         |q AS (SELECT emb AS q_emb, norm AS q_norm, sig AS q_sig
         |      FROM e WHERE vec_id = 0),
         |scored AS (
         |  SELECT vec_id, CAST(bit_count(xor(sig, q_sig)) AS BIGINT) AS ham,
         |    $duckCosQ AS cos_sim
         |  FROM e, q WHERE vec_id <> 0),
         |truth AS (
         |  SELECT vec_id FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10),
         |short AS (
         |  SELECT vec_id, cos_sim,
         |    ROW_NUMBER() OVER (ORDER BY ham, vec_id) AS rk
         |  FROM (SELECT * FROM scored ORDER BY ham, vec_id LIMIT ${Depths.max})),
         |depths AS (SELECT unnest([${Depths.mkString(", ")}]) AS depth),
         |rr AS (
         |  SELECT depth, vec_id, 1 AS hit FROM (
         |    SELECT d.depth, s.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY d.depth
         |        ORDER BY s.cos_sim DESC, s.vec_id) AS rr
         |    FROM short s JOIN depths d ON s.rk <= d.depth)
         |  WHERE rr <= 10)
         |SELECT CAST(depth AS BIGINT) AS depth,
         |  CAST(COUNT(*) AS BIGINT) AS n_truth,
         |  CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
         |  (CAST(SUM(COALESCE(hit, 0)) AS BIGINT) * 1000000)
         |    // COUNT(*) AS recall_fx
         |FROM depths CROSS JOIN truth
         |LEFT JOIN rr USING (depth, vec_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "ev75_join_state_model" ->
      s"""WITH counts AS (
         |  SELECT epoch_us(ts) // 60000000 AS m,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1),
         |b AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM counts),
         |grid AS (
         |  SELECT g.m, COALESCE(c.c, 0) AS c
         |  FROM (SELECT unnest(generate_series(lo, hi)) AS m FROM b) g
         |  LEFT JOIN counts c ON g.m = c.m),
         |pre AS (
         |  SELECT m, CAST(SUM(c) OVER (ORDER BY m
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS prefix
         |  FROM grid),
         |delays AS (SELECT unnest([${DelaysS.mkString(", ")}]) AS delay_s),
         |sh AS (
         |  SELECT d.delay_s, p.prefix - COALESCE(po.prefix, 0) AS retained
         |  FROM pre p CROSS JOIN delays d
         |  LEFT JOIN pre po ON po.m = p.m - d.delay_s // 60)
         |SELECT delay_s, CAST(COUNT(*) AS BIGINT) AS n_minutes,
         |  CAST(MAX(retained) AS BIGINT) AS max_state_rows,
         |  CAST((SUM(retained) * 1000000) // COUNT(*) AS BIGINT)
         |    AS mean_state_fx
         |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,

    // histogram restatement mirrors the Spark side: fold to per-(type,
    // late_us) counts, cumulate over the distinct-value table, pick
    // MIN(late_us) whose cum reaches the rank index — identical values
    // to the r11 row-rank form (equal values are rank-contiguous)
    "ev74_lateness_quantiles" -> {
      val pickCols = Percentiles.map(p =>
        s"MIN(CASE WHEN cum >= ((n - 1) * $p) // 100 + 1 THEN late_us END) AS p${p}_us")
        .mkString(",\n  ")
      s"""WITH l AS (
         |  SELECT event_id, event_type,
         |    MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - epoch_us(ts) AS late_us
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
         |h AS (
         |  SELECT event_type, late_us, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM l GROUP BY 1, 2),
         |r AS (
         |  SELECT event_type, late_us,
         |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY late_us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM h)
         |SELECT event_type, MAX(n) AS n_events,
         |  $pickCols,
         |  MAX(late_us) AS max_late_us
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
