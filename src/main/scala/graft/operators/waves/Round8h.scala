package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 eighth wave: incremental view maintenance (q75).
  *
  * Posture note: at 100 TB you cannot re-scan the corpus because 3%
  * of it changed — you maintain the downstream aggregates by applying
  * the DELTA (IVM: additive census += added, −= removed, modified =
  * old-out + new-in). q75 maintains the per-source census across the
  * round-8 snapshot split that way, and the DuckDB oracle computes
  * the v2 census DIRECTLY — Spark and the oracle run DIFFERENT
  * algorithms, so a hash match is an actual equivalence proof of the
  * delta path, not a reimplementation check. The delta side touches
  * only changed docs: at real scale that's the difference between a
  * full-corpus scan and a 3% scan.
  */
object Round8h extends Operators {

  /** Shared census measures over a (source, text) frame, signed. */
  private def contrib(docs: DataFrame, sign: Int): DataFrame =
    docs.select(col("source"),
      lit(sign.toLong).as("d_docs"),
      (lit(sign) * size(split(trim(col("text")), "\\s+"))).cast("long").as("d_tokens"),
      (lit(sign) * octet_length(col("text"))).cast("long").as("d_bytes"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q75: delta-maintained census equals the direct recompute --------
    // v1's census is the standing view; the delta rows are ONLY the
    // docs the snapshot split changed: removed (%7==0, subtract),
    // added (%7==6, add), modified (%5==2 carried, old text out + new
    // text in). The oracle recomputes v2 from scratch.
    "q75_delta_view_maintenance" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      val v1 = Round8d.snapshotV1(docs)
      val mod7 = pmod(col("doc_id"), lit(7))
      val mod5 = pmod(col("doc_id"), lit(5))
      val base = contrib(v1, 1)
      val removed = contrib(v1.filter(mod7 === 0), -1)
      val added = contrib(Round8d.snapshotV2(docs).filter(mod7 === 6), 1)
      val modOld = contrib(v1.filter(mod7 =!= 0 && mod5 === 2), -1)
      val modNew = contrib(
        Round8d.snapshotV2(docs).filter(mod7 =!= 6 && mod5 === 2), 1)
      base.unionByName(removed).unionByName(added)
        .unionByName(modOld).unionByName(modNew)
        .groupBy(col("source"))
        .agg(sum(col("d_docs")).cast("long").as("n_docs"),
          sum(col("d_tokens")).cast("long").as("n_tokens"),
          sum(col("d_bytes")).cast("long").as("total_bytes"))
        .filter(col("n_docs") > 0)
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    // the DIRECT recompute — deliberately not the delta algebra
    "q75_delta_view_maintenance" ->
      s"""WITH ${Round8d.duckSnapshotCtes}
         |SELECT d.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(string_split_regex(trim(v2.text), '\\s+'))) AS BIGINT)
         |    AS n_tokens,
         |  CAST(SUM(strlen(v2.text)) AS BIGINT) AS total_bytes
         |FROM v2 JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin)
}
