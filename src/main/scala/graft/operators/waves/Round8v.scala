package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-8 twenty-second wave: dedup-aware packing (pk26).
  *
  * The pipeline composition the pk and dd families exist for, priced
  * end-to-end: exact dedup (dd01's keeper rule — min doc_id per
  * normalized-text fingerprint, corpus-global) runs BEFORE the shard
  * packer (pk25's next-fit-by-offset in closed form, TAR byte
  * accounting), and the census shows what dedup buys the storage
  * bill: docs, bytes and shards before vs after, per source. Both
  * packing passes are the same per-source cumsum window; keeper
  * selection is one fingerprint aggregate joined back — no new
  * machinery, which is the point: the stages COMPOSE.
  */
object Round8v extends Operators {

  private val Fx = 10000L
  private val TargetBytes = 1L << 20

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pk26_dedup_aware_packing" -> { (s, d) =>
      val base = Dedup.barrier(Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          Hashing.hash64(lower(regexp_replace(trim(col("text")),
            "\\s+", " "))).as("fp"),
          (lit(512L) + expr("((octet_length(text) + 511) div 512) * 512"))
            .as("disk")))
      val keepers = base.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"))
      val kept = base.join(keepers, Seq("fp"))
        .filter(col("doc_id") === col("keeper"))
        .select(col("source"), col("doc_id"), col("disk"))
      def packed(docs: DataFrame, tag: String): DataFrame = {
        val run = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs.withColumn("cum", sum(col("disk")).over(run))
          .withColumn("shard", expr(s"(cum - disk) div $TargetBytes"))
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as(s"docs_$tag"),
            sum(col("disk")).cast("long").as(s"bytes_$tag"),
            (countDistinct(col("shard")).cast("long"))
              .as(s"shards_$tag"))
      }
      packed(base.select(col("source"), col("doc_id"), col("disk")), "before")
        .join(packed(kept, "after"), Seq("source"))
        .withColumn("saved_bytes_fx", expr(
          s"(bytes_before - bytes_after) * $Fx div bytes_before"))
        .select(col("source"), col("docs_before"), col("docs_after"),
          col("bytes_before"), col("bytes_after"), col("shards_before"),
          col("shards_after"), col("saved_bytes_fx"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = {
    val fp = Hashing.duckHash64(
      "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
    Map("pk26_dedup_aware_packing" ->
      s"""WITH base AS (
         |  SELECT source, doc_id, $fp AS fp,
         |    512 + ((strlen(text) + 511) // 512) * 512 AS disk
         |  FROM documents),
         |keepers AS (SELECT fp, MIN(doc_id) AS keeper FROM base GROUP BY fp),
         |kept AS (
         |  SELECT source, doc_id, disk FROM base
         |  JOIN keepers USING (fp) WHERE doc_id = keeper),
         |pb AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_before,
         |    CAST(SUM(disk) AS BIGINT) AS bytes_before,
         |    CAST(COUNT(DISTINCT shard) AS BIGINT) AS shards_before
         |  FROM (SELECT source,
         |      (SUM(disk) OVER (PARTITION BY source ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - disk)
         |        // $TargetBytes AS shard, disk
         |    FROM base)
         |  GROUP BY source),
         |pa AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_after,
         |    CAST(SUM(disk) AS BIGINT) AS bytes_after,
         |    CAST(COUNT(DISTINCT shard) AS BIGINT) AS shards_after
         |  FROM (SELECT source,
         |      (SUM(disk) OVER (PARTITION BY source ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - disk)
         |        // $TargetBytes AS shard, disk
         |    FROM kept)
         |  GROUP BY source)
         |SELECT source, docs_before, docs_after, bytes_before, bytes_after,
         |  shards_before, shards_after,
         |  CAST((bytes_before - bytes_after) * $Fx // bytes_before AS BIGINT)
         |    AS saved_bytes_fx
         |FROM pb JOIN pa USING (source) ORDER BY source""".stripMargin)
  }
}
