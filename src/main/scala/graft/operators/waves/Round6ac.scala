package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Det

/** Round-6 twenty-ninth wave: multimodal dedup cascade (mm12) and
  * ANN index staleness (ss27).
  *
  * Posture notes: mm12 composes the two existing near-dup mechanisms
  * as a production cascade — exact digest dedup first (a hash
  * groupBy, removing the cheap mass), then the banded-phash near-dup
  * ONLY among exact survivors (bucketed equi-join, never all-pairs),
  * the order that keeps the expensive stage's candidate set minimal.
  * ss27 is the ss19 panel pattern (10-row broadcast panel, brute
  * exact over the corpus) split at an index snapshot cutoff — the
  * window is panel-partitioned, never global.
  */
object Round6ac extends Operators {

  private val Fx = 1000000L

  /** ss27: index snapshot covers the first 80% of the id span. */
  private val IndexPct = 80L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- mm12: exact → near dedup cascade --------------------------------
    // The standard corpus-ingest cascade for opaque media: byte-exact
    // digest dedup removes re-uploads outright (keeper = lowest id),
    // then perceptual-hash banding catches re-encodes among the
    // survivors (hamming ≤ 3, remove the higher id of each pair).
    // Census per source: items, exact removals, near removals, kept,
    // yield — the stage attribution that says whether bytes or
    // perception is doing the work for each feed.
    "mm12_dedup_cascade" -> { (s, d) =>
      val ascii = Tables.documents(s, d)
        .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      val media = Multimodal.asMedia(ascii)
      val dig = Dedup.barrier(media
        .withColumn("digest", md5(col("payload")))
        .select(col("media_id"), col("source"), col("digest")))
      val keep1 = dig.groupBy(col("digest")).agg(min(col("media_id")).as("keep_id"))
      val tagged = dig.join(keep1, Seq("digest"))
        .withColumn("exact_dup", col("media_id") =!= col("keep_id"))
      val survivors = tagged.filter(!col("exact_dup"))
        .select(col("media_id"), col("source"))
      val codes = Round5d.stripePhash(media)
        .join(survivors.select(col("media_id")), Seq("media_id"))
        .select(col("media_id"), col("phash"),
          posexplode(array((0 until Round5d.PhashBands).map(b =>
            shiftright(col("phash"), b * Round5d.PhashBandBits)
              .bitwiseAND(Round5d.PhashBandMask)): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bval")
      val l = codes.select(col("band"), col("bval"),
        col("media_id").as("media_a"), col("phash").as("ph_a"))
      val r = codes.select(col("band"), col("bval"),
        col("media_id").as("media_b"), col("phash").as("ph_b"))
      val nearRemoved = l.join(r, Seq("band", "bval"))
        .filter(col("media_a") < col("media_b"))
        .select(col("media_a"), col("media_b"), col("ph_a"), col("ph_b"))
        .distinct()
        .filter(expr("bit_count(ph_a ^ ph_b)") <= 3)
        .select(col("media_b").as("media_id")).distinct()
        .withColumn("near_dup", lit(1L))
      tagged
        .join(nearRemoved, Seq("media_id"), "left")
        .withColumn("near_dup", coalesce(col("near_dup"), lit(0L)))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          sum(when(col("exact_dup"), 1L).otherwise(0L)).cast("long")
            .as("n_exact_removed"),
          sum(when(!col("exact_dup"), col("near_dup")).otherwise(0L)).cast("long")
            .as("n_near_removed"))
        .withColumn("n_kept",
          col("n_items") - col("n_exact_removed") - col("n_near_removed"))
        .withColumn("yield_fx", expr(s"(n_kept * $Fx) div n_items"))
        .select(col("source"), col("n_items"), col("n_exact_removed"),
          col("n_near_removed"), col("n_kept"), col("yield_fx"))
        .orderBy(col("source"))
    },

    // --- ss27: ANN index staleness ---------------------------------------
    // A vector index built at a snapshot serves queries while the
    // corpus keeps growing; per panel query, the true top-1 over the
    // live corpus vs over the indexed prefix (first 80% of the id
    // span). A stale answer = the live winner arrived after the
    // snapshot — the measured decay that sets index refresh cadence.
    "ss27_index_staleness" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
      val bounds = e.agg(
        min(col("vec_id")).as("lo"),
        (max(col("vec_id")) - min(col("vec_id")) + 1L).as("span"))
      val panel = e.filter(col("vec_id") < Round5s.PanelN)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"))
      val scored = e.crossJoin(broadcast(panel))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .crossJoin(broadcast(bounds))
        .withColumn("indexed",
          expr(s"(vec_id - lo) * 100 < span * $IndexPct"))
        .select(col("q_id"), col("vec_id"), col("cos_sim"), col("indexed"))
      val wq = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val full = scored.withColumn("rn", row_number().over(wq))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id").as("full_id"),
          col("cos_sim").as("full_cos"), col("indexed"))
      val idx = scored.filter(col("indexed"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id").as("index_id"),
          col("cos_sim").as("index_cos"))
      full.join(idx, Seq("q_id"))
        .withColumn("stale", !col("indexed"))
        .select(col("q_id"), col("full_id"), col("full_cos"),
          col("index_id"), col("index_cos"), col("stale"))
        .orderBy(col("q_id"))
    })

  def oracles: Map[String, String] = Map(
    "mm12_dedup_cascade" ->
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, source, md5(text) AS digest
         |  FROM documents
         |  WHERE length(text) > 0 AND regexp_matches(text, '^[\\x00-\\x7F]*$$')),
         |k1 AS (SELECT digest, MIN(media_id) AS keep_id FROM m GROUP BY 1),
         |tagged AS (
         |  SELECT m.media_id, m.source, m.media_id <> k1.keep_id AS exact_dup
         |  FROM m JOIN k1 USING (digest)),
         |codes AS (${Round5d.duckPhash}),
         |scodes AS (
         |  SELECT c.media_id, c.phash FROM codes c
         |  JOIN tagged t ON t.media_id = c.media_id AND NOT t.exact_dup),
         |banded AS (
         |  SELECT media_id, phash, b AS band,
         |    (phash >> (b * ${Round5d.PhashBandBits})) & ${Round5d.PhashBandMask} AS bval
         |  FROM scodes CROSS JOIN
         |    (SELECT unnest(range(${Round5d.PhashBands})) AS b) t),
         |nr AS (
         |  SELECT DISTINCT media_b AS media_id FROM (
         |    SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         |      a.phash AS ph_a, b.phash AS ph_b
         |    FROM banded a JOIN banded b
         |      ON a.band = b.band AND a.bval = b.bval AND a.media_id < b.media_id)
         |  WHERE bit_count(xor(ph_a, ph_b)) <= 3)
         |SELECT t.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_items,
         |  CAST(SUM(CASE WHEN t.exact_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact_removed,
         |  CAST(SUM(CASE WHEN NOT t.exact_dup AND nr.media_id IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_near_removed,
         |  CAST(COUNT(*) - SUM(CASE WHEN t.exact_dup THEN 1 ELSE 0 END)
         |    - SUM(CASE WHEN NOT t.exact_dup AND nr.media_id IS NOT NULL
         |        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  ((CAST(COUNT(*) - SUM(CASE WHEN t.exact_dup THEN 1 ELSE 0 END)
         |    - SUM(CASE WHEN NOT t.exact_dup AND nr.media_id IS NOT NULL
         |        THEN 1 ELSE 0 END) AS BIGINT)) * $Fx) // CAST(COUNT(*) AS BIGINT)
         |    AS yield_fx
         |FROM tagged t LEFT JOIN nr ON nr.media_id = t.media_id
         |GROUP BY t.source ORDER BY t.source""".stripMargin,

    "ss27_index_staleness" ->
      s"""WITH e AS (
         |  SELECT vec_id, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |b AS (
         |  SELECT MIN(vec_id) AS lo,
         |    MAX(vec_id) - MIN(vec_id) + 1 AS span FROM e),
         |panel AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm
         |  FROM e WHERE vec_id < ${Round5s.PanelN}),
         |scored AS (
         |  SELECT p.q_id, e.vec_id,
         |    ${Det.duckTrunc(
                "list_sum(list_transform(range(len(e.emb)), " +
                "i -> e.emb[i+1] * p.q_emb[i+1])) / (e.norm * p.q_norm)", 4)}
         |      AS cos_sim,
         |    (e.vec_id - b.lo) * 100 < b.span * $IndexPct AS indexed
         |  FROM e CROSS JOIN panel p CROSS JOIN b
         |  WHERE e.vec_id <> p.q_id),
         |f AS (
         |  SELECT q_id, vec_id AS full_id, cos_sim AS full_cos, indexed,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM scored QUALIFY rn = 1),
         |ix AS (
         |  SELECT q_id, vec_id AS index_id, cos_sim AS index_cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM scored WHERE indexed QUALIFY rn = 1)
         |SELECT f.q_id, f.full_id, f.full_cos, ix.index_id, ix.index_cos,
         |  NOT f.indexed AS stale
         |FROM f JOIN ix ON f.q_id = ix.q_id
         |ORDER BY f.q_id""".stripMargin)
}
