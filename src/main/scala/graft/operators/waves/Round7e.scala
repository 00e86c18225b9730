package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-7 fifth wave: context-window document mixing (pk20) and
  * cross-source payload sharing (mm14).
  *
  * Posture notes: pk20's packing stream is per-(lang, source) — all
  * prefix windows are slice-partitioned, the C-sweep is closed-form
  * integer arithmetic on the prefix; mm14's matrix comes from a
  * digest equi-self-join (bounded by actual duplicate digests, the
  * mm09 CAS construction), never a payload comparison.
  */
object Round7e extends Operators {

  private val Fx = 1000000L

  /** pk20: context sizes (tokens) the mixing census is priced at. */
  val CtxSizes: Seq[Long] = Seq(512L, 2048L, 8192L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk20: context-window document mixing ------------------------------
    // Token-level packing fills every context window completely, but
    // each doc boundary inside a window dilutes attention (or costs
    // an attention-mask reset — pk15's boundary effects). Per
    // context size C: windows in the packed corpus, average docs
    // touching a window, and the share of docs that straddle ≥ 2
    // windows (truncation-risk mass). Closed form from the
    // per-(lang, source) packing stream prefix: doc d touches
    // ((p_end−1) div C) − (p_start div C) + 1 windows — no window
    // materialization, one slice-partitioned cumsum.
    "pk20_window_doc_mixing" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("source"), col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("ntok"))
        .filter(col("ntok") > 0)
        .withColumn("p_end", sum(col("ntok")).over(w).cast("long"))
        .withColumn("p_start", col("p_end") - col("ntok"))
      val slices = docs.groupBy(col("lang"), col("source"))
        .agg(max(col("p_end")).as("slice_tokens"))
      val ctx = CtxSizes.toDF("ctx")
      val perDoc = docs.crossJoin(broadcast(ctx))
        .withColumn("touched",
          expr("((p_end - 1) div ctx) - (p_start div ctx) + 1"))
      val docAgg = perDoc.groupBy(col("ctx"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("touched")).cast("long").as("touch_sum"),
          sum(when(col("touched") >= 2L, 1L).otherwise(0L)).cast("long")
            .as("n_straddlers"))
      val winAgg = slices.crossJoin(broadcast(ctx))
        .groupBy(col("ctx"))
        .agg(sum(expr("(slice_tokens + ctx - 1) div ctx")).cast("long")
          .as("n_windows"))
      docAgg.join(winAgg, Seq("ctx"))
        .withColumn("avg_docs_per_window_fx",
          expr(s"(touch_sum * $Fx) div n_windows"))
        .withColumn("straddle_share_fx",
          expr(s"(n_straddlers * $Fx) div n_docs"))
        .select(col("ctx"), col("n_windows"), col("n_docs"),
          col("n_straddlers"), col("avg_docs_per_window_fx"),
          col("straddle_share_fx"))
        .orderBy(col("ctx"))
    },

    // --- mm14: cross-source payload sharing --------------------------------
    // mm09's CAS dedup says HOW MUCH is duplicated; this says
    // BETWEEN WHOM: for every source pair, payloads whose OPENING
    // FINGERPRINT (md5 of the first 4 normalized tokens — the
    // shared-template/boilerplate key; whole-payload digests are
    // unique in honest corpora) appears in both, and the bytes at
    // stake — the provenance matrix that decides which feeds to
    // dedupe against which. Fingerprint equi-self-join over the
    // (fingerprint, source) table — bounded by real cross-source
    // collisions, payloads never leave their scan.
    "mm14_cross_source_sharing" -> { (s, d) =>
      val media = Multimodal.asMedia(Tables.documents(s, d))
        .withColumn("digest",
          md5(concat_ws(" ",
            slice(split(trim(col("payload").cast("string")), "\\s+"), 1, 4))))
        .select(col("digest"), col("source"), col("byte_len"))
      val bySrc = media.groupBy(col("digest"), col("source"))
        .agg(count(lit(1)).cast("long").as("n_copies"),
          max(col("byte_len")).cast("long").as("bytes"))
      val a = bySrc.select(col("digest"), col("source").as("src_a"),
        col("bytes"))
      val b = bySrc.select(col("digest"), col("source").as("src_b"))
      a.join(b, Seq("digest"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).cast("long").as("shared_payloads"),
          sum(col("bytes")).cast("long").as("shared_bytes"))
        .orderBy(col("src_a"), col("src_b"))
    })

  def oracles: Map[String, String] = Map(
    "pk20_window_doc_mixing" ->
      s"""WITH docs AS (
         |  SELECT lang, source, doc_id,
         |    CAST(len(${Dedup.duckToks}) AS BIGINT) AS ntok
         |  FROM documents WHERE len(${Dedup.duckToks}) > 0),
         |pre AS (
         |  SELECT lang, source, ntok,
         |    CAST(SUM(ntok) OVER (PARTITION BY lang, source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS p_end
         |  FROM docs),
         |ctx AS (SELECT unnest([${CtxSizes.mkString(", ")}]) AS ctx),
         |perdoc AS (
         |  SELECT c.ctx,
         |    ((p_end - 1) // c.ctx) - ((p_end - ntok) // c.ctx) + 1 AS touched
         |  FROM pre CROSS JOIN ctx c),
         |da AS (
         |  SELECT ctx, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(touched) AS BIGINT) AS touch_sum,
         |    CAST(SUM(CASE WHEN touched >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_straddlers
         |  FROM perdoc GROUP BY 1),
         |slices AS (
         |  SELECT lang, source, MAX(p_end) AS slice_tokens
         |  FROM pre GROUP BY 1, 2),
         |wa AS (
         |  SELECT c.ctx,
         |    CAST(SUM((slice_tokens + c.ctx - 1) // c.ctx) AS BIGINT)
         |      AS n_windows
         |  FROM slices CROSS JOIN ctx c GROUP BY 1)
         |SELECT da.ctx, n_windows, n_docs, n_straddlers,
         |  (touch_sum * $Fx) // n_windows AS avg_docs_per_window_fx,
         |  (n_straddlers * $Fx) // n_docs AS straddle_share_fx
         |FROM da JOIN wa ON da.ctx = wa.ctx ORDER BY da.ctx""".stripMargin,

    "mm14_cross_source_sharing" ->
      s"""WITH bysrc AS (
        |  SELECT md5(array_to_string(${Dedup.duckToks}[1:4], ' ')) AS digest,
        |    source,
        |    CAST(COUNT(*) AS BIGINT) AS n_copies,
        |    CAST(MAX(strlen(text)) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1, 2)
        |SELECT a.src_a, b.source AS src_b,
        |  CAST(COUNT(*) AS BIGINT) AS shared_payloads,
        |  CAST(SUM(a.bytes) AS BIGINT) AS shared_bytes
        |FROM (SELECT digest, source AS src_a, bytes FROM bysrc) a
        |JOIN bysrc b ON a.digest = b.digest AND a.src_a < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
