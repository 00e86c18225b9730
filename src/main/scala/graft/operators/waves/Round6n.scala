package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 fourteenth wave: the durable streaming upsert sink promoted
  * into the oracle gate (ev50), packing attention-contamination (pk15),
  * ANN serving-shard fanout (ss24), and multimodal shard byte balance
  * (mm10).
  *
  * Posture notes: ev50 drives foreachBatch + Sinks.upsertByKey — the
  * stage-and-swap parquet store — end to end and must land on ev22's
  * batch oracle; pk15 is closed-form integer arithmetic per pack
  * boundary (no window-sized explode, no per-token rows); ss24/mm10
  * are equi-key aggregations whose only windows/folds run on bounded
  * group tables (shards × modalities, panel × shards).
  */
object Round6n extends Operators {

  private val Fx = 1000000L

  /** pk15's attention window: cross-boundary pairs are counted at
    * token distance < W.
    */
  private val AttnW = 64L

  /** ss24's serving-shard count (id-hash layout, dd26/pk07 family). */
  private val NShards = 8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev50: streaming upsert sink, oracle-gated ---------------------
    // ev22 defines compacted-topic materialization declaratively and
    // ev46 proves the stateful stream computes it; this closes the
    // remaining gap to DURABLE storage: the event stream drives
    // foreachBatch → Sinks.upsertByKey (latest-version-wins keyed
    // parquet store with tombstone deletes and the stage→swap crash
    // protocol), and the census of the STORE ON DISK must match
    // ev22's oracle. Version is the (ts, offset) struct — struct
    // ordering is lexicographic, exactly ev22's record order.
    "ev50_stream_upsert_sink" -> { (s, d) =>
      import graft.streaming.StreamJobs
      val root = java.nio.file.Files.createTempDirectory("graft_ev50_").toString
      val store = s"$root/store"
      val feed = StreamJobs.eventsFileStream(s, d)
        .select(col("user_id").as("k"),
          struct(expr("unix_micros(ts)").as("us"), col("event_id").as("off"))
            .as("version"),
          col("event_type"), col("value"),
          (col("event_type") === "error").as("deleted"))
      val q = feed.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.sinks.Sinks.upsertByKey(b.toDF(), store, "k", "version")
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(store)
        .groupBy(col("event_type").as("last_event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("last_event_type"))
    },

    // --- pk15: packing attention-contamination census ------------------
    // Packing unrelated docs into one sequence lets attention windows
    // straddle document boundaries — cross-doc token pairs the model
    // attends to for no reason. Under pk01's packing, each internal
    // boundary (a tokens before it in the pack, b after) contributes
    // exactly #{(u,v): u<=a, v<=b, u+v<=W} cross pairs at distance
    // < W — a CLOSED-FORM integer count (clamped arithmetic series),
    // no per-token rows, no window-sized explode. Per lang: packs,
    // boundaries, cross pairs, total within-window pairs, and the
    // contamination share. The only window is pk01's own running sum.
    "pk15_boundary_window" -> { (s, d) =>
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_tokens")) / lit(Curation.PackBudget)).cast("long"))
      val inPack = Window.partitionBy(col("lang"), col("pack_id"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packTot = Window.partitionBy(col("lang"), col("pack_id"))
      val bounds = docs
        .withColumn("a", sum(col("n_tokens")).over(inPack))
        .withColumn("pack_tokens", sum(col("n_tokens")).over(packTot))
        .withColumn("b", col("pack_tokens") - col("a"))
        .filter(col("b") > 0)
        // "capA" not "A": Spark column resolution is case-insensitive,
        // so a column named A would shadow the offset column a
        .withColumn("capA", least(col("a"), lit(AttnW - 1)))
        .withColumn("tc", greatest(lit(0L), least(lit(AttnW) - col("b"), col("capA"))))
        // the subtracted arithmetic-series term is always even and
        // non-negative — shiftright is the exact integer halving
        // (a plain / would be double division)
        .withColumn("cross",
          col("tc") * col("b") + (col("capA") - col("tc")) * lit(AttnW) -
            shiftright(col("capA") * (col("capA") + 1L) -
              col("tc") * (col("tc") + 1L), 1))
      val packs = docs.groupBy(col("lang"), col("pack_id"))
        .agg(sum(col("n_tokens")).as("L"))
        .withColumn("D", least(lit(AttnW - 1), col("L") - 1L))
        .withColumn("total",
          col("D") * col("L") - shiftright(col("D") * (col("D") + 1L), 1))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_packs"),
          sum(col("total")).cast("long").as("total_pairs"))
      val crosses = bounds.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_boundaries"),
          sum(col("cross")).cast("long").as("cross_pairs"))
      packs.join(crosses, Seq("lang"), "left")
        .select(col("lang"), col("n_packs"),
          coalesce(col("n_boundaries"), lit(0L)).as("n_boundaries"),
          coalesce(col("cross_pairs"), lit(0L)).as("cross_pairs"),
          col("total_pairs"))
        .withColumn("cross_share_fx",
          expr(s"(cross_pairs * $Fx) div greatest(total_pairs, 1)"))
        .orderBy(col("lang"))
    },

    // --- ss24: ANN serving-shard fanout census -------------------------
    // A sharded ANN serving tier answers each query by probing only
    // the shards holding its candidates; scatter-gather cost IS the
    // shard fanout. Per panel query (the 10 lead vectors): sign-LSH
    // candidates (bucket equi-join, never all-pairs) and the distinct
    // id-hash shards they live on. At 100 TB the bucket→shard map is
    // the routing table this census sizes.
    "ss24_shard_fanout" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("bucket", Similarity.signBucket(col("emb")))
        .withColumn("shard",
          pmod(Hashing.hash64(col("vec_id").cast("string")), lit(NShards.toLong)))
      val panel = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("bucket"))
      val corpus = e.filter(col("vec_id") >= 10)
      panel.join(corpus, Seq("bucket"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("vec_id")).cast("long").as("n_candidates"),
          countDistinct(col("shard")).cast("long").as("n_shards"))
        .withColumn("fanout_fx", expr(s"(n_shards * $Fx) div $NShards"))
        .orderBy(col("q_id"))
    },

    // --- mm10: multimodal shard byte balance ---------------------------
    // Interleaved multimodal training reads every shard as a mixed
    // byte stream; a modality concentrated on few shards serializes
    // its decode bandwidth. Modality is the deterministic id-hash
    // stand-in (no codecs in-container; the plumbing is the point),
    // bytes are real payload octets. Per modality: shards present,
    // total bytes, min/max shard bytes, and the max-vs-min imbalance
    // — the (modality × shard) table is the only intermediate, 48
    // rows at any corpus size.
    "mm10_modality_balance" -> { (s, d) =>
      val media = Tables.documents(s, d)
        .select(
          when(pmod(Hashing.hash64(col("doc_id").cast("string")), lit(3)) === 0, "image")
            .when(pmod(Hashing.hash64(col("doc_id").cast("string")), lit(3)) === 1, "audio")
            .otherwise("text").as("modality"),
          pmod(Hashing.hash64(concat(lit("shard|"), col("doc_id").cast("string"))),
            lit(16L)).as("shard"),
          octet_length(col("text")).cast("long").as("n_bytes"))
      media.groupBy(col("modality"), col("shard"))
        .agg(sum(col("n_bytes")).as("shard_bytes"))
        .groupBy(col("modality"))
        .agg(count(lit(1)).cast("long").as("n_shards"),
          sum(col("shard_bytes")).cast("long").as("total_bytes"),
          min(col("shard_bytes")).cast("long").as("min_shard_bytes"),
          max(col("shard_bytes")).cast("long").as("max_shard_bytes"))
        .withColumn("imbalance_fx",
          expr(s"((max_shard_bytes - min_shard_bytes) * $Fx) div max_shard_bytes"))
        .orderBy(col("modality"))
    })

  def oracles: Map[String, String] = Map(
    // the durable store must hold exactly the compacted snapshot
    "ev50_stream_upsert_sink" -> Round3.oracles("ev22_cdc_upsert"),

    "pk15_boundary_window" ->
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |    CAST(len(${Dedup.duckToks}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT lang, doc_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM d),
         |p AS (
         |  SELECT lang, doc_id, n_tokens,
         |    CAST(FLOOR((cum - n_tokens) / ${Curation.PackBudget}) AS BIGINT) AS pack_id
         |  FROM c),
         |x AS (
         |  SELECT lang, pack_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang, pack_id ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS a,
         |    SUM(n_tokens) OVER (PARTITION BY lang, pack_id) AS pack_tokens
         |  FROM p),
         |b AS (
         |  SELECT lang, a, pack_tokens - a AS b,
         |    LEAST(a, ${AttnW - 1}) AS bigA
         |  FROM x WHERE pack_tokens - a > 0),
         |cr AS (
         |  SELECT lang,
         |    GREATEST(0, LEAST($AttnW - b, bigA)) * b
         |      + (bigA - GREATEST(0, LEAST($AttnW - b, bigA))) * $AttnW
         |      - (bigA * (bigA + 1)
         |         - GREATEST(0, LEAST($AttnW - b, bigA))
         |           * (GREATEST(0, LEAST($AttnW - b, bigA)) + 1)) // 2 AS cross_n
         |  FROM b),
         |pk AS (
         |  SELECT lang, pack_id, SUM(n_tokens) AS L FROM p GROUP BY lang, pack_id),
         |pt AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_packs,
         |    CAST(SUM(LEAST(${AttnW - 1}, L - 1) * L
         |      - LEAST(${AttnW - 1}, L - 1) * (LEAST(${AttnW - 1}, L - 1) + 1) // 2)
         |      AS BIGINT) AS total_pairs
         |  FROM pk GROUP BY lang),
         |ct AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_boundaries,
         |    CAST(SUM(cross_n) AS BIGINT) AS cross_pairs
         |  FROM cr GROUP BY lang)
         |SELECT pt.lang, n_packs,
         |  COALESCE(n_boundaries, 0) AS n_boundaries,
         |  COALESCE(cross_pairs, 0) AS cross_pairs, total_pairs,
         |  (COALESCE(cross_pairs, 0) * $Fx) // GREATEST(total_pairs, 1)
         |    AS cross_share_fx
         |FROM pt LEFT JOIN ct ON pt.lang = ct.lang
         |ORDER BY pt.lang""".stripMargin,

    "ss24_shard_fanout" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |k AS (
         |  SELECT vec_id, ${Similarity.duckBucket} AS bucket,
         |    (${Hashing.duckHash64("CAST(vec_id AS VARCHAR)")}) % $NShards AS shard
         |  FROM e),
         |panel AS (SELECT vec_id AS q_id, bucket FROM k WHERE vec_id < 10),
         |corpus AS (SELECT vec_id, bucket, shard FROM k WHERE vec_id >= 10)
         |SELECT q_id,
         |  CAST(COUNT(corpus.vec_id) AS BIGINT) AS n_candidates,
         |  CAST(COUNT(DISTINCT corpus.shard) AS BIGINT) AS n_shards,
         |  (CAST(COUNT(DISTINCT corpus.shard) AS BIGINT) * $Fx) // $NShards
         |    AS fanout_fx
         |FROM panel LEFT JOIN corpus USING (bucket)
         |GROUP BY q_id ORDER BY q_id""".stripMargin,

    "mm10_modality_balance" -> {
      val mh = Hashing.duckHash64("CAST(doc_id AS VARCHAR)")
      val sh = Hashing.duckHash64("concat('shard|', CAST(doc_id AS VARCHAR))")
      s"""WITH m AS (
         |  SELECT CASE ($mh) % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |    ELSE 'text' END AS modality,
         |    ($sh) % 16 AS shard,
         |    CAST(strlen(text) AS BIGINT) AS n_bytes
         |  FROM documents),
         |g AS (
         |  SELECT modality, shard, SUM(n_bytes) AS shard_bytes
         |  FROM m GROUP BY modality, shard)
         |SELECT modality, CAST(COUNT(*) AS BIGINT) AS n_shards,
         |  CAST(SUM(shard_bytes) AS BIGINT) AS total_bytes,
         |  CAST(MIN(shard_bytes) AS BIGINT) AS min_shard_bytes,
         |  CAST(MAX(shard_bytes) AS BIGINT) AS max_shard_bytes,
         |  ((CAST(MAX(shard_bytes) AS BIGINT) - CAST(MIN(shard_bytes) AS BIGINT))
         |    * $Fx) // CAST(MAX(shard_bytes) AS BIGINT) AS imbalance_fx
         |FROM g GROUP BY modality ORDER BY modality""".stripMargin
    })
}
