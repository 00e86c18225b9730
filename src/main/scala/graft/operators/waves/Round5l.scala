package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-5 twelfth wave: session-gap octave census (ev36), sign-LSH
  * probe-radius recall curve (ss16), and dedup cluster-size octaves
  * (dd22).
  *
  * Posture notes: all three are DIAL-SIZING harnesses over machinery
  * other gated operators ship — ev36 prices ev09/ev12's session-gap
  * threshold from the measured inter-event gap distribution, ss16
  * prices ss07's probe radius the way ss11 prices IVF's nprobe, dd22
  * watches dd06's cluster-size distribution for the boilerplate
  * explosions dd20 predicts. Gap/size octaves reuse the integer-exact
  * floor-log2 (`length(bin(n)) − 1`); every cumulative window runs on
  * a bounded octave table; the recall curve's per-radius shortlists
  * are TakeOrdered branches off ONE barriered scored frame.
  */
object Round5l extends Operators {

  private val Fx = 1000000L

  /** ss16: probe radii priced (ss07 ships HammingR = 2). */
  val Radii: Seq[Int] = Seq(0, 1, 2)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev36: session-gap octave census ------------------------------
    // ev09/ev12 hard-code a 30-min session gap; this census shows
    // what the dial trades: per-user inter-event gaps (event-time
    // order, (ts, event_id) total order) fold into power-of-2 second
    // octaves, and because every gap in octave k is >= 2^k s, the
    // top-down cumulative count IS the number of session splits a
    // threshold of 2^k seconds would create. One lag window
    // partitioned by user_id, then everything runs on the ~35-row
    // octave table. Sub-second gaps land in octave -1.
    "ev36_gap_octaves" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val gaps = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_s", expr("(us - prev_us) div 1000000"))
        .withColumn("octave", when(col("gap_s") < 1, lit(-1))
          .otherwise((length(bin(col("gap_s"))) - 1).cast("int")))
      val oct = gaps.groupBy(col("octave")).agg(count(lit(1)).as("n_gaps"))
      val total = oct.agg(sum(col("n_gaps")).cast("long").as("n_total"))
      oct.crossJoin(broadcast(total))
        .withColumn("gap_lo_s", when(col("octave") < 0, lit(0L))
          .otherwise(expr("shiftleft(1L, octave)").cast("long")))
        .withColumn("share_fx", expr(s"(n_gaps * $Fx) div n_total"))
        .withColumn("n_splits_at_lo", sum(col("n_gaps")).over(
          Window.orderBy(col("octave").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .select(col("octave"), col("gap_lo_s"), col("n_gaps"),
          col("share_fx"), col("n_splits_at_lo"))
        .orderBy(col("octave"))
    },

    // --- ss16: sign-LSH probe-radius recall curve ---------------------
    // ss07 ships a hamming<=2 multi-probe; this measures what each
    // radius actually buys: recall@10 vs exact top-10 and the
    // candidate count the probe admits, per radius 0/1/2. ONE scored
    // frame (barriered — scan + cosine run once), truth and the three
    // shortlists are TakeOrdered branches off it, and the candidate
    // counts come from the 17-row hamming histogram, not re-scans.
    // Read with ss11 (the same curve for IVF nprobe).
    "ss16_probe_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .withColumn("sketch", Similarity.signBucket(col("emb"), Round3.SketchBits))
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("norm").as("q_norm"),
          col("sketch").as("q_sketch"))
      val scored = Dedup.barrier(e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .withColumn("hamming",
          bit_count(col("sketch").bitwiseXOR(col("q_sketch"))).cast("int")))
      val truth = scored.orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), lit(1L).as("hit"))
      val tops = Radii.map(r => scored.filter(col("hamming") <= r)
          .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
          .select(lit(r).as("radius"), col("vec_id")))
        .reduce(_ unionByName _)
      val hits = tops.join(broadcast(truth), Seq("vec_id"), "left")
        .groupBy(col("radius"))
        .agg(coalesce(sum(col("hit")), lit(0L)).cast("long").as("n_hits"))
      val cands = scored.groupBy(col("hamming")).agg(count(lit(1)).as("nh"))
        .select(col("hamming"), col("nh"), explode(typedLit(Radii)).as("radius"))
        .filter(col("hamming") <= col("radius"))
        .groupBy(col("radius")).agg(sum(col("nh")).cast("long").as("n_cands"))
      // a radius whose probe admits NOTHING must still report its
      // (0-candidate, 0-hit) row — left joins from the radii frame,
      // never inner joins that silently drop the dead dial settings
      s.range(1).select(explode(typedLit(Radii)).as("radius"))
        .join(cands, Seq("radius"), "left")
        .join(hits, Seq("radius"), "left")
        .na.fill(0L, Seq("n_cands", "n_hits"))
        .withColumn("recall_fx", expr(s"(n_hits * $Fx) div 10"))
        .select(col("radius"), col("n_cands"), col("n_hits"), col("recall_fx"))
        .orderBy(col("radius"))
    },

    // --- dd22: dedup cluster-size octave census -----------------------
    // The operational watch on dd06's output: cluster sizes fold into
    // power-of-2 octaves (octave 0 = singletons — docs in the dd02
    // population with no near-dup edge), with each octave's doc mass
    // and fixed-point share of the population. A boilerplate
    // explosion (dd20's prediction) shows up as mass migrating into
    // high octaves release-over-release. Reuses dd02's candidate
    // pairs and the checkpointed CC; the octave table is bounded by
    // log2(population).
    "dd22_cluster_octaves" -> { (s, d) =>
      val pairs = Dedup.queries("dd02_ngram_jaccard")(s, d)
        .select(col("doc_a"), col("doc_b"))
      val sizes = Components.connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy(col("comp")).agg(count(lit(1)).cast("long").as("sz"))
      val pop = Dedup.docShingles(s, d).agg(count(lit(1)).cast("long").as("n_pop"))
      val clustered = sizes.agg(coalesce(sum(col("sz")), lit(0L))
        .cast("long").as("n_clustered"))
      val octs = sizes
        .withColumn("octave", (length(bin(col("sz"))) - 1).cast("int"))
        .groupBy(col("octave"))
        .agg(count(lit(1)).cast("long").as("n_clusters"),
          sum(col("sz")).cast("long").as("n_docs"))
      val singletons = pop.crossJoin(clustered)
        .select(lit(0).as("octave"),
          (col("n_pop") - col("n_clustered")).as("n_clusters"),
          (col("n_pop") - col("n_clustered")).as("n_docs"))
      octs.unionByName(singletons)
        .groupBy(col("octave"))
        .agg(sum(col("n_clusters")).cast("long").as("n_clusters"),
          sum(col("n_docs")).cast("long").as("n_docs"))
        .crossJoin(broadcast(pop))
        .withColumn("share_fx", expr(s"(n_docs * $Fx) div n_pop"))
        .select(col("octave"), col("n_clusters"), col("n_docs"), col("share_fx"))
        .orderBy(col("octave"))
    })

  def oracles: Map[String, String] = Map(
    "ev36_gap_octaves" ->
      s"""WITH g AS (
         |  SELECT (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
         |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) // 1000000
         |    AS gap_s
         |  FROM events),
         |o AS (
         |  SELECT CASE WHEN gap_s < 1 THEN -1
         |    ELSE CAST(length(bin(gap_s)) - 1 AS INTEGER) END AS octave,
         |    CAST(COUNT(*) AS BIGINT) AS n_gaps
         |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_gaps) AS BIGINT) AS n_total FROM o)
         |SELECT octave,
         |  CASE WHEN octave < 0 THEN 0 ELSE CAST(2 ** octave AS BIGINT) END
         |    AS gap_lo_s,
         |  n_gaps, (n_gaps * $Fx) // n_total AS share_fx,
         |  CAST(SUM(n_gaps) OVER (ORDER BY octave DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_splits_at_lo
         |FROM o CROSS JOIN t ORDER BY octave""".stripMargin,

    "ss16_probe_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm,
         |    CAST(${Round3.duckSketch16} AS BIGINT) AS sketch
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |q AS (SELECT emb AS q_emb, norm AS q_norm, sketch AS q_sketch
         |      FROM e WHERE vec_id = 0),
         |scored AS (
         |  SELECT vec_id,
         |    ${Det.duckTrunc(
                "list_sum(list_transform(range(len(emb)), i -> emb[i+1] * q_emb[i+1]))" +
                  " / (norm * q_norm)", 4)} AS cos_sim,
         |    CAST(bit_count(xor(sketch, q_sketch)) AS INTEGER) AS hamming
         |  FROM e, q WHERE vec_id <> 0),
         |truth AS (SELECT vec_id, 1 AS hit FROM scored
         |          ORDER BY cos_sim DESC, vec_id LIMIT 10),
         |radii AS (SELECT unnest([${Radii.mkString(", ")}]) AS radius),
         |tops AS (
         |  SELECT radius, vec_id FROM (
         |    SELECT r.radius, s.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY r.radius
         |        ORDER BY s.cos_sim DESC, s.vec_id) AS rn
         |    FROM scored s JOIN radii r ON s.hamming <= r.radius)
         |  WHERE rn <= 10),
         |h AS (
         |  SELECT radius, CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hits
         |  FROM tops LEFT JOIN truth ON tops.vec_id = truth.vec_id
         |  GROUP BY radius),
         |c AS (
         |  SELECT r.radius, CAST(COUNT(*) AS BIGINT) AS n_cands
         |  FROM scored s JOIN radii r ON s.hamming <= r.radius
         |  GROUP BY r.radius)
         |SELECT radii.radius,
         |  CAST(COALESCE(c.n_cands, 0) AS BIGINT) AS n_cands,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  (CAST(COALESCE(h.n_hits, 0) AS BIGINT) * $Fx) // 10 AS recall_fx
         |FROM radii LEFT JOIN c ON radii.radius = c.radius
         |LEFT JOIN h ON radii.radius = h.radius
         |ORDER BY radii.radius""".stripMargin,

    "dd22_cluster_octaves" -> {
      val dd02 = Dedup.oracles("dd02_ngram_jaccard")
      s"""WITH RECURSIVE pairs AS (
         |  SELECT doc_a, doc_b FROM ($dd02)
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b, doc_a FROM pairs
         |), walk(node, reach) AS (
         |  SELECT src, dst FROM edges UNION SELECT src, src FROM edges
         |  UNION
         |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
         |), cs AS (
         |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM (
         |    SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node)
         |  GROUP BY cluster_id),
         |pop AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pop FROM documents
         |  WHERE len(${Dedup.duckToks}) >= 3),
         |cl AS (SELECT CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_clustered FROM cs),
         |o1 AS (
         |  SELECT CAST(length(bin(sz)) - 1 AS INTEGER) AS octave,
         |    CAST(COUNT(*) AS BIGINT) AS n_clusters, CAST(SUM(sz) AS BIGINT) AS n_docs
         |  FROM cs GROUP BY 1
         |  UNION ALL
         |  SELECT 0, n_pop - n_clustered, n_pop - n_clustered
         |  FROM pop CROSS JOIN cl),
         |o AS (
         |  SELECT octave, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
         |    CAST(SUM(n_docs) AS BIGINT) AS n_docs
         |  FROM o1 GROUP BY octave)
         |SELECT octave, n_clusters, n_docs,
         |  (n_docs * $Fx) // n_pop AS share_fx
         |FROM o CROSS JOIN pop ORDER BY octave""".stripMargin
    })
}
