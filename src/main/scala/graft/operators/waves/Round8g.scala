package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-8 seventh wave: IVF nlist sweep (ss35).
  *
  * Posture note: ss11/ss30 price NPROBE with nlist fixed; ss14
  * measures balance of ONE layout. The dial that sizes the index
  * itself — how many cells to build — was unpriced. ss35 builds four
  * layouts (nlist ∈ {2,4,8,16}, ss03's deterministic first-K coarse
  * quantizer), assigns every vector under each (k·n broadcast dot
  * products, no shuffle per layout), and reports the cost/recall
  * frontier a panel of queries actually sees at nprobe=1: scanned
  * fraction (the latency proxy) vs candidate recall@10 against the
  * exact panel truth. The eval arm is the intentionally-quadratic
  * panel×corpus truth join (dd13's precedent) — bounded by the ~n/97
  * panel, never all-pairs.
  */
object Round8g extends Operators {

  private val Fx = 1000000L
  private val NLists = Seq(2, 4, 8, 16)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ss35: nlist cost/recall sweep ------------------------------------
    "ss35_nlist_sweep" -> { (s, d) =>
      // NOT scattered (r13 opt, measured negative): unlike ss37's
      // O(n²) pair stage, ss35's two cos passes are O(n·|panel|) and
      // O(n·16) — scattering the corpus read 2.16 → 2.76 s in a
      // controls-flat basket A/B (32-task overhead across ~40 tiny
      // stages outweighs the parallelized dots at this arithmetic
      // intensity)
      val e = Dedup.barrier(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb"))))
      val panel = e.filter(pmod(col("vec_id"), lit(97)) === 7)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"))
      // exact panel truth: top-10 per query over the whole corpus
      val byQ = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val truth = Dedup.barrierAlso(e.crossJoin(broadcast(panel))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .withColumn("rn", row_number().over(byQ))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id")))
      // one assignment table for ALL layouts (r13): the k-layout
      // centroid set is exactly {vec_id < k} ⊂ {vec_id < 16}, so one
      // corpus×cents16 cos pass scores every layout; each nlist's
      // nearest cell is then an argmax (max_by over (c_cos, −c_id) —
      // the window's c_cos DESC, c_id ASC tie-break) on the slice
      // c_id < nlist. One crossJoin + one map-side-combinable
      // aggregate replaces |NLists| crossJoins + |NLists| windows:
      // 16 dots/vec instead of 2+4+8+16, and no per-layout sort —
      // the shape that matters when the corpus is 10⁹ vectors, not
      // the gated 2k.
      val cents = e.filter(col("vec_id") < NLists.max)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
          col("norm").as("c_norm"))
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("c_cos", Det.trunc4(
          Similarity.dot(col("emb"), col("c_emb")) / (col("norm") * col("c_norm"))))
        .select(col("vec_id"), col("c_id"), col("c_cos"),
          explode(array(NLists.map(k => lit(k.toLong)): _*)).as("nlist"))
        .filter(col("c_id") < col("nlist"))
        .groupBy(col("nlist"), col("vec_id"))
        .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id"))).as("cell"))
        .select(col("nlist"), col("vec_id"), col("cell"))
      val occ = assigned.groupBy(col("nlist"), col("cell"))
        .agg(count(lit(1)).as("occ"))
      // per (nlist, query): the probed cell's candidate count (occ − 1:
      // the query itself is in its own cell)
      val qCell = assigned.join(
        panel.select(col("q_id")), col("vec_id") === col("q_id"))
        .select(col("nlist"), col("q_id"), col("cell"))
      val scanned = qCell.join(occ, Seq("nlist", "cell"))
        .groupBy(col("nlist"))
        .agg(count(lit(1)).cast("long").as("n_queries"),
          sum(col("occ") - 1).cast("long").as("n_scanned"))
      // candidate recall: a truth pair hits iff v sits in q's cell
      val hits = truth
        .join(qCell.select(col("nlist"), col("q_id"), col("cell").as("q_cell")),
          Seq("q_id"))
        .join(assigned.select(col("nlist"), col("vec_id"),
          col("cell").as("v_cell")), Seq("nlist", "vec_id"))
        .groupBy(col("nlist"))
        .agg(count(lit(1)).cast("long").as("n_truth"),
          sum(when(col("q_cell") === col("v_cell"), 1L).otherwise(0L))
            .cast("long").as("n_hit"))
      val occStats = occ.groupBy(col("nlist"))
        .agg(count(lit(1)).cast("long").as("n_cells_used"),
          max(col("occ")).cast("long").as("max_occ"))
      val nTotal = e.agg(count(lit(1)).cast("long").as("n_vec"))
      scanned.join(hits, Seq("nlist")).join(occStats, Seq("nlist"))
        .crossJoin(broadcast(nTotal))
        .withColumn("scanned_fx",
          expr(s"(n_scanned * $Fx) div (n_queries * (n_vec - 1))"))
        .withColumn("recall_fx", expr(s"(n_hit * $Fx) div n_truth"))
        .select(col("nlist"), col("n_cells_used"), col("max_occ"),
          col("n_queries"), col("n_scanned"), col("scanned_fx"),
          col("n_truth"), col("n_hit"), col("recall_fx"))
        .orderBy(col("nlist"))
    })

  def oracles: Map[String, String] = {
    val qCos = Similarity.duckCos.format(
      "e.emb", "e.emb", "p.q_emb", "e.norm", "p.q_norm")
    val cCos = Similarity.duckCos.format(
      "e.emb", "e.emb", "c.c_emb", "e.norm", "c.c_norm")
    val perK = NLists.map { k =>
      s"""SELECT $k AS nlist, vec_id, cell FROM (
         |    SELECT e.vec_id, c.c_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY $cCos DESC, c.c_id) AS rn
         |    FROM e, (SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
         |             FROM e WHERE vec_id < $k) c) WHERE rn = 1""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    Map("ss35_nlist_sweep" ->
      s"""WITH e AS (
         |  SELECT vec_id, ${Similarity.duckNorm} AS norm, emb FROM (
         |    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |panel AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM e
         |  WHERE vec_id % 97 = 7),
         |truth AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT p.q_id, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.q_id
         |        ORDER BY $qCos DESC, e.vec_id) AS rn
         |    FROM e, panel p WHERE e.vec_id <> p.q_id) WHERE rn <= 10),
         |assigned AS (
         |  $perK),
         |occ AS (
         |  SELECT nlist, cell, COUNT(*) AS occ FROM assigned
         |  GROUP BY nlist, cell),
         |qcell AS (
         |  SELECT a.nlist, p.q_id, a.cell FROM assigned a
         |  JOIN panel p ON a.vec_id = p.q_id),
         |scanned AS (
         |  SELECT nlist, CAST(COUNT(*) AS BIGINT) AS n_queries,
         |    CAST(SUM(occ - 1) AS BIGINT) AS n_scanned
         |  FROM qcell JOIN occ USING (nlist, cell) GROUP BY nlist),
         |hits AS (
         |  SELECT q.nlist, CAST(COUNT(*) AS BIGINT) AS n_truth,
         |    CAST(SUM(CASE WHEN q.cell = a.cell THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hit
         |  FROM truth t
         |  JOIN qcell q ON t.q_id = q.q_id
         |  JOIN assigned a ON a.nlist = q.nlist AND a.vec_id = t.vec_id
         |  GROUP BY q.nlist),
         |occstats AS (
         |  SELECT nlist, CAST(COUNT(*) AS BIGINT) AS n_cells_used,
         |    CAST(MAX(occ) AS BIGINT) AS max_occ FROM occ GROUP BY nlist),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vec FROM e)
         |SELECT CAST(s.nlist AS BIGINT) AS nlist, n_cells_used, max_occ,
         |  n_queries, n_scanned,
         |  CAST((n_scanned * $Fx) // (n_queries * (n_vec - 1)) AS BIGINT)
         |    AS scanned_fx,
         |  n_truth, n_hit,
         |  CAST((n_hit * $Fx) // n_truth AS BIGINT) AS recall_fx
         |FROM scanned s JOIN hits USING (nlist) JOIN occstats USING (nlist)
         |  CROSS JOIN nt
         |ORDER BY nlist""".stripMargin)
  }
}
