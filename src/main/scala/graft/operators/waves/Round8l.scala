package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-8 twelfth wave: sparsified triangle counting (q77), a
  * Little's-law conservation audit (ev77), and PCM frame census over
  * binary audio payloads (mm17).
  *
  * q77 brings the missing graph-motif family: triangles on the
  * part-co-occurrence graph, counted the way a 100 TB graph allows —
  * DOULION edge sparsification (Tsourakakis et al., KDD 2009: keep
  * each edge w.p. p, count exactly on the sample, scale by 1/p³) over
  * the degree-oriented wedge join (each triangle counted once from
  * its lowest-degree corner; Σ out-deg² stays bounded where the naive
  * wedge join's Σ deg² explodes on hubs — measured 83M → ~1.3M wedge
  * rows at sf0.1 with p = 1/8).
  *
  * ev77 closes the queueing family (ev26 gauge, ev57 sizing, ev76
  * Lindley) with the conservation law that VALIDATES such telemetry:
  * ∫N(t)dt over the observation window (sweep-line, what a gauge
  * integrates) must equal Σ clamped span durations (what per-event
  * logs sum) — Spark runs the sweep, the oracle sums durations
  * directly, and the hash match is the Little's-law identity
  * L·T = ΣW, not a reimplementation check (q75's cross-algorithm
  * pattern).
  */
object Round8l extends Operators {

  private val Fx = 10000L

  /** q77: edge keep-modulus (p = 1/8 → estimate scales by 8³). */
  private val SampleMod = 8L

  /** mm17: frame geometry and activity gate. */
  private val Win = 256
  private val Hop = 128
  private val Gate = 1024L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q77: DOULION triangle estimate ------------------------------
    "q77_triangle_doulion" -> { (s, d) =>
      // barriered so the two self-join sides share ONE scan+distinct
      // (exchange reuse is plan-shape-fragile; the persist is not)
      val ip = Dedup.barrier(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())
      // per-order pair fanout (orders hold ≤7 items); the hash sample
      // drops 7/8 BEFORE the distinct-edge shuffle
      val e = Dedup.barrierAlso(ip.as("a")
        .join(ip.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("pa"), col("b.p").as("pb"))
        .filter(pmod(Hashing.hash64(concat_ws("|", col("pa"), col("pb"))),
          lit(SampleMod)) === 0)
        .distinct())
      val deg = e.select(col("pa").as("p"))
        .unionByName(e.select(col("pb").as("p")))
        .groupBy(col("p")).agg(count(lit(1)).cast("long").as("dg"))
      // orient low→high under the (degree, id) total order; dv = the
      // head's degree so the wedge pair order matches the closing
      // edge's stored orientation
      val lt = struct(col("da"), col("pa")) < struct(col("db"), col("pb"))
      val o = Dedup.barrierAlso(e
        .join(deg.select(col("p").as("pa"), col("dg").as("da")), Seq("pa"))
        .join(deg.select(col("p").as("pb"), col("dg").as("db")), Seq("pb"))
        .select(when(lt, col("pa")).otherwise(col("pb")).as("u"),
          when(lt, col("pb")).otherwise(col("pa")).as("v"),
          when(lt, col("db")).otherwise(col("da")).as("dv")))
      val wedges = o.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
        .join(o.select(col("u"), col("v").as("v2"), col("dv").as("d2")), Seq("u"))
        .filter(struct(col("d1"), col("v1")) < struct(col("d2"), col("v2")))
      // ONE wedge pass for both counts (round 9): counting wedges and
      // closed wedges as two consumers would evaluate the o⋈o fanout
      // twice — at corpus scale the wedge stream is the dominant
      // intermediate and is exactly what you never materialize or
      // replay. A LEFT join against the (unique) oriented closing
      // edge makes n_wedges = count(*) and n_tri = count(hits).
      val wAgg = wedges.join(
          o.select(col("v").as("v2"), col("u").as("v1"))
            .withColumn("hit", lit(1)), Seq("v1", "v2"), "left")
        .agg(count(lit(1)).cast("long").as("n_wedges"),
          count(col("hit")).cast("long").as("n_tri_sampled"))
      val nE = e.agg(count(lit(1)).cast("long").as("n_edges"))
      val nV = deg.agg(count(lit(1)).cast("long").as("n_vertices"))
      nE.crossJoin(broadcast(nV)).crossJoin(broadcast(wAgg))
        .withColumn("est_triangles",
          (col("n_tri_sampled") * lit(SampleMod * SampleMod * SampleMod))
            .cast("long"))
        .select(col("n_edges"), col("n_vertices"), col("n_wedges"),
          col("n_tri_sampled"), col("est_triangles"))
    },

    // --- ev77: Little's-law conservation audit ------------------------
    "ev77_little_law" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), expr("unix_micros(ts)").as("s_us"),
          (expr("unix_micros(ts)") +
            floor(col("value") * lit(1000000.0)).cast("long")).as("e_us"))
      val evB = Dedup.barrier(ev)
      val bounds = evB.agg(min(col("s_us")).as("t0"), max(col("s_us")).as("t1"))
      val sp = evB.crossJoin(broadcast(bounds))
        .withColumn("ce", greatest(col("s_us"), least(col("e_us"), col("t1"))))
      // net deltas per distinct instant (tie-order independence), then
      // the per-type sweep: running gauge × segment width
      val pts = sp.select(col("event_type"), col("s_us").as("t"), lit(1L).as("delta"))
        .unionByName(sp.select(col("event_type"), col("ce").as("t"),
          lit(-1L).as("delta")))
        .groupBy(col("event_type"), col("t"))
        .agg(sum(col("delta")).as("net"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
      val busy = pts
        .withColumn("run", sum(col("net")).over(w))
        .withColumn("nxt", lead(col("t"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type"))
        .agg(sum((col("nxt") - col("t")) * col("run")).cast("long").as("busy_us"))
      val arr = evB.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_arrivals"))
      arr.join(busy, Seq("event_type"))
        .crossJoin(broadcast(bounds))
        .withColumn("window_us", (col("t1") - col("t0")).cast("long"))
        .withColumn("avg_inflight_fx", expr(s"(busy_us * $Fx) div window_us"))
        .withColumn("mean_span_us", expr("busy_us div n_arrivals"))
        .withColumn("rate_ps_fx", expr(s"(n_arrivals * 1000000 * $Fx) div window_us"))
        .select(col("event_type"), col("n_arrivals"), col("busy_us"),
          col("window_us"), col("avg_inflight_fx"), col("mean_span_us"),
          col("rate_ps_fx"))
        .orderBy(col("event_type"))
    },

    // --- mm17: PCM frame census ---------------------------------------
    // Real byte plumbing (PcmCodec round-trip) under a closed-form
    // oracle, mm15's recipe: any off-by-one in the 16-bit LE unpack,
    // framing arithmetic, or hop indexing hash-fails. The decode and
    // the O(n_samples) frame loop run partition-batched; only the
    // per-clip feature row leaves the executor.
    "mm17_audio_frames" -> { (s, d) =>
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val feats = Multimodal.pcmFrames(
        Multimodal.pcmMedia(base), Win, Hop, Gate)
      feats.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_clips"),
          sum(col("n_samples")).cast("long").as("total_samples"),
          sum(col("n_frames")).cast("long").as("total_frames"),
          sum(col("active_frames")).cast("long").as("active_frames"),
          max(col("max_frame_mean")).cast("long").as("peak_frame_mean"))
        .withColumn("active_share_fx",
          expr(s"(active_frames * $Fx) div total_frames"))
        .select(col("source"), col("n_clips"), col("total_samples"),
          col("total_frames"), col("active_frames"), col("peak_frame_mean"),
          col("active_share_fx"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    "q77_triangle_doulion" ->
      s"""WITH ip AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS (
         |  SELECT DISTINCT a.p AS pa, b.p AS pb
         |  FROM ip a JOIN ip b ON a.o = b.o AND a.p < b.p
         |  WHERE ${Hashing.duckHash64("concat_ws('|', pa, pb)")} % $SampleMod = 0),
         |deg AS (
         |  SELECT p, CAST(COUNT(*) AS BIGINT) AS dg
         |  FROM (SELECT pa AS p FROM e UNION ALL SELECT pb AS p FROM e)
         |  GROUP BY p),
         |o AS (
         |  SELECT CASE WHEN (da.dg, pa) < (db.dg, pb) THEN pa ELSE pb END AS u,
         |    CASE WHEN (da.dg, pa) < (db.dg, pb) THEN pb ELSE pa END AS v,
         |    CASE WHEN (da.dg, pa) < (db.dg, pb) THEN db.dg ELSE da.dg END AS dv
         |  FROM e JOIN deg da ON da.p = pa JOIN deg db ON db.p = pb),
         |wedges AS (
         |  SELECT w1.v AS v1, w2.v AS v2
         |  FROM o w1 JOIN o w2 ON w1.u = w2.u
         |  WHERE (w1.dv, w1.v) < (w2.dv, w2.v)),
         |m AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges w
         |      JOIN o c ON c.u = w.v1 AND c.v = w.v2) AS n_tri_sampled)
         |SELECT n_edges, n_vertices, n_wedges, n_tri_sampled,
         |  CAST(n_tri_sampled * ${SampleMod * SampleMod * SampleMod} AS BIGINT)
         |    AS est_triangles
         |FROM m""".stripMargin,

    // the DIRECT algorithm: busy time as Σ clamped span durations —
    // no sweep; equality with Spark's gauge integral is the
    // conservation law itself
    "ev77_little_law" ->
      s"""WITH ev AS (
         |  SELECT event_type, epoch_us(ts) AS s_us,
         |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
         |  FROM events),
         |b AS (SELECT MIN(s_us) AS t0, MAX(s_us) AS t1 FROM ev),
         |sp AS (
         |  SELECT event_type,
         |    GREATEST(s_us, LEAST(e_us, t1)) - s_us AS dur_us
         |  FROM ev CROSS JOIN b),
         |agg AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_arrivals,
         |    CAST(SUM(dur_us) AS BIGINT) AS busy_us
         |  FROM sp GROUP BY event_type)
         |SELECT event_type, n_arrivals, busy_us,
         |  CAST(t1 - t0 AS BIGINT) AS window_us,
         |  CAST(busy_us * $Fx // (t1 - t0) AS BIGINT) AS avg_inflight_fx,
         |  CAST(busy_us // n_arrivals AS BIGINT) AS mean_span_us,
         |  CAST(n_arrivals * 1000000 * $Fx // (t1 - t0) AS BIGINT) AS rate_ps_fx
         |FROM agg CROSS JOIN b ORDER BY event_type""".stripMargin,

    "mm17_audio_frames" ->
      s"""WITH clips AS (
         |  SELECT source, doc_id,
         |    CAST(400 + (doc_id % 7) * 64 AS BIGINT) AS n
         |  FROM documents),
         |fm AS (
         |  SELECT source, doc_id, n,
         |    list_sum(list_transform(range($Win),
         |      j -> abs(((doc_id * 7 + (f * $Hop + j) * 13) % 4096) - 2048)))
         |      // $Win AS fmean
         |  FROM (SELECT source, doc_id, n,
         |      unnest(range((n - $Win) // $Hop + 1)) AS f
         |    FROM clips)),
         |docagg AS (
         |  SELECT source, doc_id, MAX(n) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS n_frames,
         |    CAST(SUM(CASE WHEN fmean >= $Gate THEN 1 ELSE 0 END) AS BIGINT)
         |      AS act,
         |    CAST(MAX(fmean) AS BIGINT) AS mx
         |  FROM fm GROUP BY 1, 2)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(n) AS BIGINT) AS total_samples,
         |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
         |  CAST(SUM(act) AS BIGINT) AS active_frames,
         |  CAST(MAX(mx) AS BIGINT) AS peak_frame_mean,
         |  CAST(CAST(SUM(act) AS BIGINT) * $Fx
         |    // CAST(SUM(n_frames) AS BIGINT) AS BIGINT) AS active_share_fx
         |FROM docagg GROUP BY source ORDER BY source""".stripMargin)
}
