package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 fortieth wave: code-switching census (tx34).
  *
  * Posture note: one narrow scan scoring the four marker sets
  * (tx03's shared lists) per doc, folded per label — no joins, no
  * windows.
  */
object Round6an extends Operators {

  private val Fx = 1000000L

  /** Marker hits that count a language as "present" in a doc. */
  private val PresentMin = 2L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- tx34: code-switching census -------------------------------------
    // tx15 evaluates the lang-ID classifier; this censuses the docs
    // no single-label classifier can be right about: per labeled
    // language, docs where markers of ≥ 2 languages are present
    // (≥ 2 hits each) — the code-switching mass that should route to
    // a multilingual pipeline instead of failing lang-ID QA. Also
    // reports mean marker languages per doc in fixed point.
    "tx34_code_switching" -> { (s, d) =>
      val df = Tables.documents(s, d)
        .withColumn("toks", TextAnalysis.tokens(col("text")))
      val scored = TextAnalysis.LangMarkers.foldLeft(df) {
        case (acc, (lang, markers)) =>
          acc.withColumn(s"p_$lang",
            when(size(filter(col("toks"), t => t.isInCollection(markers)))
              >= PresentMin, 1L).otherwise(0L))
      }
      val present = TextAnalysis.LangMarkers
        .map { case (l, _) => col(s"p_$l") }
        .reduce(_ + _)
      scored.withColumn("n_present", present)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("n_present") >= 2L, 1L).otherwise(0L)).cast("long")
            .as("n_mixed"),
          sum(col("n_present")).cast("long").as("present_mass"))
        .withColumn("mixed_fx", expr(s"(n_mixed * $Fx) div n_docs"))
        .withColumn("mean_present_fx", expr(s"(present_mass * $Fx) div n_docs"))
        .select(col("lang"), col("n_docs"), col("n_mixed"),
          col("mixed_fx"), col("mean_present_fx"))
        .orderBy(col("lang"))
    })

  def oracles: Map[String, String] = Map(
    "tx34_code_switching" -> {
      val toks = Dedup.duckToks
      val pCols = TextAnalysis.LangMarkers.map { case (lang, markers) =>
        val set = markers.map(m => s"'$m'").mkString(", ")
        s"""CASE WHEN len(list_filter($toks, t -> t IN ($set)))
           |  >= $PresentMin THEN 1 ELSE 0 END""".stripMargin
      }
      val present = pCols.mkString("(", " + ", ")")
      s"""WITH p AS (
         |  SELECT lang, $present AS n_present FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN n_present >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mixed,
         |  (CAST(SUM(CASE WHEN n_present >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // CAST(COUNT(*) AS BIGINT) AS mixed_fx,
         |  (CAST(SUM(n_present) AS BIGINT) * $Fx) // CAST(COUNT(*) AS BIGINT)
         |    AS mean_present_fx
         |FROM p GROUP BY lang ORDER BY lang""".stripMargin
    })
}
