package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 fifty-third wave: shard write amplification (pk19).
  *
  * Posture note: one doc fold computes both layouts' shard keys
  * (hash and id-range from broadcast bounds); the per-shard and
  * per-strategy censuses run on bounded tables.
  */
object Round6ba extends Operators {

  private val Fx = 1000000L

  /** Output shards per layout and the 1-in-N change sample. */
  private val NShards = 64L
  private val ChangeMod = 20L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk19: shard write amplification ---------------------------------
    // An incremental corpus update rewrites every shard it touches:
    // with a deterministic 1-in-20 changed-doc sample, hash sharding
    // scatters the changes across ~every shard (write amp ≈ corpus /
    // changes) while id-range sharding keeps them local when edits
    // cluster by recency. Per strategy: shards touched, bytes
    // changed, bytes rewritten, and the amplification — the layout
    // decision for an incrementally-updated corpus store.
    "pk19_write_amplification" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("bytes"))
      val bounds = docs.agg(
        min(col("doc_id")).as("lo"),
        (max(col("doc_id")) - min(col("doc_id")) + 1L).as("span"))
      val keyed = Dedup.barrier(docs.crossJoin(broadcast(bounds))
        .withColumn("changed",
          pmod(Hashing.hash64(col("doc_id").cast("string")), lit(ChangeMod)) === 0)
        .withColumn("hash_shard",
          pmod(Hashing.hash64(concat_ws("|", lit("shard"),
            col("doc_id").cast("string"))), lit(NShards)))
        .withColumn("range_shard",
          expr(s"((doc_id - lo) * $NShards) div span")))
      def arm(strategy: String, shardCol: String): DataFrame = {
        val shards = keyed.groupBy(col(shardCol).as("shard"))
          .agg(sum(col("bytes")).cast("long").as("shard_bytes"),
            sum(when(col("changed"), col("bytes")).otherwise(0L))
              .cast("long").as("changed_bytes"),
            max(when(col("changed"), 1L).otherwise(0L)).as("touched"))
        shards.agg(
            count(lit(1)).cast("long").as("n_shards"),
            sum(col("touched")).cast("long").as("shards_touched"),
            sum(col("changed_bytes")).cast("long").as("bytes_changed"),
            sum(when(col("touched") === 1L, col("shard_bytes")).otherwise(0L))
              .cast("long").as("bytes_rewritten"))
          .select(lit(strategy).as("strategy"), col("n_shards"),
            col("shards_touched"), col("bytes_changed"), col("bytes_rewritten"))
          // decimal staging (r13 sf1 audit class): shard byte sums
          // cross the int64 Fx-multiply cliff at ~10^12 bytes
          .withColumn("amp_fx",
            expr(s"(CAST(bytes_rewritten AS DECIMAL(20,0)) * $Fx) " +
              "div greatest(bytes_changed, 1)"))
      }
      arm("hash", "hash_shard").unionByName(arm("range", "range_shard"))
        .orderBy(col("strategy"))
    })

  def oracles: Map[String, String] = Map(
    "pk19_write_amplification" -> {
      def arm(strategy: String, shardExpr: String): String =
        s"""SELECT '$strategy' AS strategy,
           |  CAST(COUNT(*) AS BIGINT) AS n_shards,
           |  CAST(SUM(touched) AS BIGINT) AS shards_touched,
           |  CAST(SUM(changed_bytes) AS BIGINT) AS bytes_changed,
           |  CAST(SUM(CASE WHEN touched = 1 THEN shard_bytes ELSE 0 END)
           |    AS BIGINT) AS bytes_rewritten,
           |  CAST((CAST(SUM(CASE WHEN touched = 1 THEN shard_bytes ELSE 0 END)
           |    AS HUGEINT) * $Fx)
           |    // greatest(CAST(SUM(changed_bytes) AS BIGINT), 1)
           |    AS BIGINT) AS amp_fx
           |FROM (
           |  SELECT $shardExpr AS shard,
           |    CAST(SUM(bytes) AS BIGINT) AS shard_bytes,
           |    CAST(SUM(CASE WHEN changed THEN bytes ELSE 0 END) AS BIGINT)
           |      AS changed_bytes,
           |    MAX(CASE WHEN changed THEN 1 ELSE 0 END) AS touched
           |  FROM base GROUP BY 1)""".stripMargin
      s"""WITH b AS (
         |  SELECT MIN(doc_id) AS lo,
         |    MAX(doc_id) - MIN(doc_id) + 1 AS span FROM documents),
         |base AS (
         |  SELECT doc_id, n_chars AS bytes,
         |    ${Hashing.duckHash64("CAST(doc_id AS VARCHAR)")} % $ChangeMod = 0
         |      AS changed,
         |    ${Hashing.duckHash64(
              "concat_ws('|', 'shard', CAST(doc_id AS VARCHAR))")} % $NShards
         |      AS hash_shard,
         |    ((doc_id - lo) * $NShards) // span AS range_shard
         |  FROM documents CROSS JOIN b)
         |SELECT * FROM (
         |  ${arm("hash", "hash_shard")}
         |  UNION ALL
         |  ${arm("range", "range_shard")})
         |ORDER BY strategy""".stripMargin
    })
}
