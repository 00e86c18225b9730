package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 third wave: duplicate shard-locality (dd26) and the exact-
  * dedup normalization sweep (tx25).
  *
  * Posture notes: both are join-free — each folds the corpus onto a
  * fingerprint key once (map-side combinable) and reduces the group
  * table to a bounded census. dd26 answers a genuinely 100 TB
  * operational question: whether exact dedup can run shard-local
  * (no global shuffle) under the pk07 id-hash sharding — it cannot,
  * and this measures exactly how much cross-shard mass forces the
  * global pass. tx25 sizes the dedup yield of each normalization
  * level before anyone commits a corpus to one.
  */
object Round6c extends Operators {

  private val Fx = 1000000L

  /** pk07's shard count and assignment, reused verbatim so the
    * locality census talks about the ACTUAL shard layout.
    */
  private val NShards = 16

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd26: duplicate shard-locality census ------------------------
    "dd26_shard_dup_locality" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(
        Hashing.hash64(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
          .as("fp"),
        pmod(Hashing.hash64(col("doc_id").cast("string")), lit(NShards))
          .as("shard"))
      val groups = docs.groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("shard")).as("n_shards"))
        .filter(col("n_docs") > 1)
      // coalesce: a dup-free corpus folds to COUNT 0 with NULL sums
      groups.agg(
        count(lit(1)).cast("long").as("dup_groups"),
        coalesce(sum(col("n_docs")), lit(0L)).cast("long").as("dup_docs"),
        coalesce(sum(when(col("n_shards") === 1, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("local_groups"),
        coalesce(sum(when(col("n_shards") > 1, col("n_docs")).otherwise(0L)), lit(0L))
          .cast("long").as("cross_docs"))
        .withColumn("local_share_fx",
          expr(s"(local_groups * $Fx) div greatest(dup_groups, 1)"))
        .select(col("dup_groups"), col("dup_docs"), col("local_groups"),
          col("cross_docs"), col("local_share_fx"))
    },

    // --- tx25: normalization-level dedup sweep ------------------------
    // Exact dedup is only as good as its canonical form: per level
    // (raw → lower → whitespace-collapsed → alphanumeric-only), the
    // duplicate group count and removable-doc yield. Four hash
    // aggregates over one scan's worth of per-row expressions —
    // no joins, no windows; the level frames union into a 4-row
    // census.
    "tx25_norm_dedup_sweep" -> { (s, d) =>
      val raw = col("text")
      val lowered = lower(col("text"))
      val ws = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val alnum = regexp_replace(
        regexp_replace(lower(trim(col("text"))), "[^a-z0-9 ]", ""),
        "\\s+", " ")
      val levels = Seq("1_raw" -> raw, "2_lower" -> lowered,
        "3_ws" -> ws, "4_alnum" -> alnum)
      levels.map { case (name, expr0) =>
        Tables.documents(s, d)
          .select(Hashing.hash64(expr0).as("fp"))
          .groupBy(col("fp")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).cast("long").as("n_distinct"),
            sum(when(col("n") > 1, 1L).otherwise(0L))
              .cast("long").as("dup_groups"),
            sum(when(col("n") > 1, col("n") - 1).otherwise(0L))
              .cast("long").as("removable_docs"))
          .withColumn("level", lit(name))
      }.reduce(_ unionByName _)
        .withColumn("removable_share_fx",
          expr(s"(removable_docs * $Fx) div (n_distinct + removable_docs)"))
        .select(col("level"), col("n_distinct"), col("dup_groups"),
          col("removable_docs"), col("removable_share_fx"))
        .orderBy(col("level"))
    })

  def oracles: Map[String, String] = Map(
    "dd26_shard_dup_locality" -> {
      val fp = Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
      val sh = s"((${Hashing.duckHash64("CAST(doc_id AS VARCHAR)")}) % $NShards + $NShards) % $NShards"
      s"""WITH docs AS (
         |  SELECT $fp AS fp, $sh AS shard FROM documents),
         |g AS (
         |  SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards
         |  FROM docs GROUP BY fp HAVING COUNT(*) > 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS dup_groups,
         |  CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) AS dup_docs,
         |  CAST(COALESCE(SUM(CASE WHEN n_shards = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS local_groups,
         |  CAST(COALESCE(SUM(CASE WHEN n_shards > 1 THEN n_docs ELSE 0 END), 0) AS BIGINT)
         |    AS cross_docs,
         |  (CAST(COALESCE(SUM(CASE WHEN n_shards = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) * $Fx)
         |    // greatest(CAST(COUNT(*) AS BIGINT), 1) AS local_share_fx
         |FROM g""".stripMargin
    },

    "tx25_norm_dedup_sweep" -> {
      val exprs = Seq(
        "1_raw" -> "text",
        "2_lower" -> "lower(text)",
        "3_ws" -> "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')",
        "4_alnum" ->
          "regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')")
      val parts = exprs.map { case (name, e) =>
        s"""SELECT '$name' AS level, CAST(COUNT(*) AS BIGINT) AS n_distinct,
           |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
           |  CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
           |    AS removable_docs
           |FROM (SELECT ${Hashing.duckHash64(e)} AS fp, COUNT(*) AS n
           |      FROM documents GROUP BY fp)""".stripMargin
      }
      s"""WITH u AS (${parts.mkString("\nUNION ALL\n")})
         |SELECT level, n_distinct, dup_groups, removable_docs,
         |  (removable_docs * $Fx) // (n_distinct + removable_docs)
         |    AS removable_share_fx
         |FROM u ORDER BY level""".stripMargin
    })
}
