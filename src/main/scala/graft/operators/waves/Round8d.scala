package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-8 fourth wave: cross-snapshot dedup (dd41).
  *
  * Posture note: the corpus-REBUILD shape (vs dd27's daily-ingest
  * shape) — two full versions of the corpus where documents were
  * carried, modified, added, or removed, and the rebuild must re-link
  * v2 docs to their v1 predecessors BY CONTENT ONLY (recrawls don't
  * keep ids) so provenance/quality labels carry over. The linker is a
  * cascade: an exact-fingerprint equi-join removes the carried bulk
  * before any LSH work (at 100 TB, the overwhelming majority), and
  * only the residue probes the v1 banded MinHash index (dd03's exact
  * construction — partition-pruned (band, band_hash) equi-join),
  * with exact-Jaccard verify on the shortlist alone. Stable doc_ids
  * in the testdata double as ground truth: the census SCORES the
  * content-only linker (exact/LSH link counts and how many hit the
  * true predecessor) the way dd13 scores banding recall.
  */
object Round8d extends Operators {

  /** dd02/dd27's duplicate threshold in fixed-point (jfx ≥ 5000). */
  private val JfxT = 5000L

  /** The round-8 snapshot split, ONE definition (dd41 + tx37 and both
    * DuckDB twins must version identically): doc_id%7==0 removed in
    * v2, %7==6 added (absent from v1), %5==2 modified by a 3-token
    * append.
    */
  private[graft] def snapshotV1(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(7)) =!= 6)
  private[graft] def snapshotV2(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 2,
          concat(col("text"), lit(" rev2 appendix note")))
          .otherwise(col("text")))

  /** The DuckDB twin of the split (v1/v2 CTE bodies). */
  private[operators] val duckSnapshotCtes: String =
    """v1 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 6),
      |v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 2 THEN text || ' rev2 appendix note'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd41: cross-snapshot predecessor linking ------------------------
    // v1 = docs with doc_id%7 != 6; v2 = docs with doc_id%7 != 0, and
    // docs with doc_id%5 == 2 get three appended tokens (a "revision").
    // So %7==0 docs were removed, %7==6 added, and the rest carried —
    // modified iff %5==2. Stage 1 links by normalized-text fingerprint
    // (dd01's normalization); stage 2 probes the v1 banded index with
    // the unmatched residue and keeps each new doc's best verified
    // link (max exact-Jaccard fixed-point, ties to min old_id).
    "dd41_cross_snapshot" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val v1 = snapshotV1(docs)
      val v2 = snapshotV2(docs)

      def fp(c: org.apache.spark.sql.Column) =
        Hashing.hash64(lower(regexp_replace(trim(c), "\\s+", " ")))
      // one row per fingerprint (min-id keeper), so each v2 doc links
      // to at most ONE v1 doc and dup clusters can't explode the join
      val v1fp = v1.groupBy(fp(col("text")).as("h"))
        .agg(min(col("doc_id")).as("old_id"))
      val exactLinks = v2.select(col("doc_id").as("new_id"), fp(col("text")).as("h"))
        .join(v1fp, Seq("h"))
        .select(col("new_id"), col("old_id"))

      val resid = v2.join(
        exactLinks.select(col("new_id").as("doc_id")), Seq("doc_id"), "left_anti")

      // v1 banded index + residue probe — dd03's geometry, both sides
      // materialized once (the signature tables are the expensive step)
      val sh1 = Dedup.barrier(Dedup.docShinglesOf(v1))
      val shR = Dedup.barrierAlso(Dedup.docShinglesOf(resid))
      def banded(sh: DataFrame, idAs: String): DataFrame =
        sh.select(col("doc_id"), Dedup.minhashSig(col("shs")).as("_sig"))
          .select(col("doc_id").as(idAs),
            posexplode(array(Dedup.bandHashCols(col("_sig")): _*)))
          .withColumnRenamed("pos", "band")
          .withColumnRenamed("col", "band_hash")
      val cand = banded(shR, "new_id")
        .join(banded(sh1, "old_id"), Seq("band", "band_hash"))
        .select(col("new_id"), col("old_id")).distinct()
      // verify the slim id shortlist only — shingle arrays rejoin here
      val ver = cand
        .join(shR.select(col("doc_id").as("new_id"), col("shs").as("sh_a")), Seq("new_id"))
        .join(sh1.select(col("doc_id").as("old_id"), col("shs").as("sh_b")), Seq("old_id"))
        .withColumn("common",
          graft.functions.IntersectCountExpr(col("sh_a"), col("sh_b")))
        .withColumn("jfx", expr(
          "(common * 10000) div (size(sh_a) + size(sh_b) - common)"))
        .filter(col("jfx") >= JfxT)
        .select(col("new_id"), col("old_id"), col("jfx"))
      val best = ver.withColumn("rn", row_number().over(
          Window.partitionBy(col("new_id"))
            .orderBy(col("jfx").desc, col("old_id"))))
        .filter(col("rn") === 1)

      val v1Stats = v1.agg(
        count(lit(1)).cast("long").as("n_v1"),
        sum(when(pmod(col("doc_id"), lit(7)) === 0, 1L).otherwise(0L))
          .cast("long").as("n_removed"))
      val v2Stats = v2.agg(
        count(lit(1)).cast("long").as("n_v2"),
        sum(when(pmod(col("doc_id"), lit(7)) === 6, 1L).otherwise(0L))
          .cast("long").as("n_true_new"))
      val exactStats = exactLinks.agg(
        count(lit(1)).cast("long").as("n_exact_link"),
        coalesce(sum(when(col("old_id") === col("new_id"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n_exact_correct"))
      val residStats = resid.agg(count(lit(1)).cast("long").as("n_resid"))
      val lshStats = best.agg(
        count(lit(1)).cast("long").as("n_lsh_link"),
        coalesce(sum(when(col("old_id") === col("new_id"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n_lsh_correct"),
        coalesce(sum(col("jfx")), lit(0L)).cast("long").as("_sum_jfx"))

      v1Stats.crossJoin(broadcast(v2Stats))
        .crossJoin(broadcast(exactStats))
        .crossJoin(broadcast(residStats))
        .crossJoin(broadcast(lshStats))
        .withColumn("n_unlinked", (col("n_resid") - col("n_lsh_link")).cast("long"))
        .withColumn("mean_link_jfx",
          when(col("n_lsh_link") === 0, lit(0L))
            .otherwise(expr("_sum_jfx div n_lsh_link")).cast("long"))
        .select(col("n_v1"), col("n_v2"), col("n_removed"), col("n_true_new"),
          col("n_exact_link"), col("n_exact_correct"), col("n_resid"),
          col("n_lsh_link"), col("n_lsh_correct"), col("n_unlinked"),
          col("mean_link_jfx"))
    })

  def oracles: Map[String, String] = {
    val normFp = Hashing.duckHash64(
      """lower(regexp_replace(trim(text), '\s+', ' ', 'g'))""")
    Map("dd41_cross_snapshot" ->
      s"""WITH $duckSnapshotCtes,
         |v1fp AS (
         |  SELECT h, MIN(doc_id) AS old_id FROM (
         |    SELECT doc_id, $normFp AS h FROM v1) GROUP BY h),
         |exact_links AS (
         |  SELECT f.doc_id AS new_id, v1fp.old_id FROM (
         |    SELECT doc_id, $normFp AS h FROM v2) f JOIN v1fp USING (h)),
         |resid AS (
         |  SELECT doc_id, text FROM v2
         |  WHERE doc_id NOT IN (SELECT new_id FROM exact_links)),
         |${Dedup.duckBandedCtesFrom("v1", "o_")},
         |${Dedup.duckBandedCtesFrom("resid", "n_")},
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM n_banded n JOIN o_banded o USING (band, band_hash)),
         |ver AS (
         |  SELECT new_id, old_id,
         |    (len(list_intersect(a.shs, b.shs)) * 10000) //
         |      (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))
         |      AS jfx
         |  FROM cand
         |  JOIN n_sh_t a ON a.doc_id = new_id
         |  JOIN o_sh_t b ON b.doc_id = old_id),
         |best AS (
         |  SELECT new_id, old_id, jfx FROM (
         |    SELECT new_id, old_id, jfx,
         |      row_number() OVER (PARTITION BY new_id
         |        ORDER BY jfx DESC, old_id) AS rn
         |    FROM ver WHERE jfx >= $JfxT)
         |  WHERE rn = 1),
         |v1s AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_v1,
         |    CAST(COALESCE(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_removed FROM v1),
         |v2s AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_v2,
         |    CAST(COALESCE(SUM(CASE WHEN doc_id % 7 = 6 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_true_new FROM v2),
         |es AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_link,
         |    CAST(COALESCE(SUM(CASE WHEN old_id = new_id THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_exact_correct FROM exact_links),
         |rs AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_resid FROM resid),
         |ls AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh_link,
         |    CAST(COALESCE(SUM(CASE WHEN old_id = new_id THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_lsh_correct,
         |    CAST(COALESCE(SUM(jfx), 0) AS BIGINT) AS sum_jfx FROM best)
         |SELECT n_v1, n_v2, n_removed, n_true_new, n_exact_link,
         |  n_exact_correct, n_resid, n_lsh_link, n_lsh_correct,
         |  CAST(n_resid - n_lsh_link AS BIGINT) AS n_unlinked,
         |  CAST(CASE WHEN n_lsh_link = 0 THEN 0
         |       ELSE sum_jfx // n_lsh_link END AS BIGINT) AS mean_link_jfx
         |FROM v1s CROSS JOIN v2s CROSS JOIN es CROSS JOIN rs
         |  CROSS JOIN ls""".stripMargin)
  }
}
