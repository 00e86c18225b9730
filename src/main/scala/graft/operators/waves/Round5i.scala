package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-5 ninth wave: reproducible epoch shuffle (pk08), scalar-
  * quantization bit-width sweep (ss15), and the LSH hot-shingle audit
  * (dd20).
  *
  * Posture notes: pk08 is the 100 TB shuffle recipe — a hash-derived
  * permutation needs ONE partition-by-shard exchange plus shard-local
  * sorts, never a global sort; ss15 reuses ss10's 1-row broadcast
  * [min,max] pack and sweeps a bounded ×|bits| explode; dd20 is one
  * hash-aggregate over exploded shingles with a 1-row broadcast total
  * — the pre-flight that predicts MinHash candidate blowup from
  * boilerplate shingles before any pair join runs.
  */
object Round5i extends Operators {

  /** pk08: epochs to materialize and the shard fan-out. */
  val Epochs: Seq[Int] = Seq(0, 1)
  val ShuffleShards = 16L

  /** ss15: scalar-quantization widths priced by the sweep. */
  val SweepBits: Seq[Int] = Seq(2, 4, 8)

  /** dd20: how many hot shingles the audit reports. */
  val HotTopK = 20

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk08: reproducible epoch shuffle -----------------------------
    // Deterministic global training-data shuffle WITHOUT a global
    // sort: each (epoch, doc) gets a seeded-hash position, the shard
    // is hash mod ShuffleShards (one exchange partitions by
    // (epoch, shard)), and the within-shard order is a shard-local
    // sort by (hash, doc_id) — a total order, so reruns and both
    // engines agree bit-for-bit. Different epochs permute
    // independently for free (the seed mixes into the hash).
    "pk08_epoch_shuffle" -> { (s, d) =>
      val w = Window.partitionBy(col("epoch"), col("shard"))
        .orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(typedLit(Epochs)).as("epoch"))
        .withColumn("h", Hashing.hash64(concat_ws("|",
          col("epoch").cast("string"), col("doc_id").cast("string"))))
        .withColumn("shard", pmod(col("h"), lit(ShuffleShards)))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("epoch"), col("shard"), col("doc_id"), col("pos"))
    },

    // --- ss15: quantization bit-width sweep ---------------------------
    // ss10 measures the shipped int8 quantizer; this prices the DIAL:
    // the same per-dim [min,max] affine quantizer at 2/4/8 bits,
    // reporting reconstruction cosine and worst per-dim error per
    // width. One corpus scan, the 1-row packed stats broadcast
    // (ss10's posture), a bounded ×|SweepBits| explode — evidence for
    // the index-memory/recall trade (8× vs 2× compression).
    "ss15_quant_bits_sweep" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val packed = e.select(posexplode(col("emb")))
        .groupBy(col("pos"))
        .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
        .groupBy()
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
            x => x.getField("mn")).as("mins"),
          transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
            x => x.getField("mx")).as("maxs"))
      val lv = when(col("bits") === 2, lit(3.0))
        .when(col("bits") === 4, lit(15.0)).otherwise(lit(255.0))
      e.crossJoin(broadcast(packed))
        .select(col("vec_id"), col("emb"), col("mins"), col("maxs"),
          explode(typedLit(SweepBits)).as("bits"))
        .withColumn("recon", transform(sequence(lit(0), size(col("emb")) - 1), i => {
          val v = element_at(col("emb"), i + 1)
          val mn = element_at(col("mins"), i + 1)
          val mx = element_at(col("maxs"), i + 1)
          when(mx === mn, mn).otherwise(
            mn + floor((v - mn) / (mx - mn) * lv + lit(0.5)) / lv * (mx - mn))
        }))
        .withColumn("cos", Similarity.dot(col("emb"), col("recon")) /
          (Similarity.l2norm(col("emb")) * Similarity.l2norm(col("recon"))))
        .withColumn("cos_i4", floor(col("cos") * lit(10000)).cast("long"))
        .withColumn("max_err", array_max(transform(
          sequence(lit(0), size(col("emb")) - 1),
          i => abs(element_at(col("emb"), i + 1) - element_at(col("recon"), i + 1)))))
        .groupBy(col("bits"))
        .agg(count(lit(1)).as("n_vecs"),
          Det.trunc4(sum(col("cos_i4")).cast("double") /
            (count(lit(1)) * lit(10000.0))).as("avg_recon_cos"),
          Det.trunc4(max(col("max_err"))).as("max_abs_err"))
        .orderBy(col("bits"))
    },

    // --- dd20: hot-shingle audit --------------------------------------
    // Boilerplate shingles shared by thousands of docs are what turn
    // a MinHash bucket join quadratic: a shingle with document
    // frequency df contributes df·(df−1)/2 candidate pairs. This
    // census prices the skew BEFORE any pair join runs (the dd17
    // lesson applied to the shingle domain): top-K shingles by df
    // with each one's pair mass and fixed-point share of the total
    // candidate mass. One hash-aggregate over exploded shingles,
    // barriered so the md5 shingle pipeline runs ONCE (the total and
    // the share join both read the materialized census). explode_outer
    // + isNotNull, NOT plain explode: InferFiltersFromGenerate turns a
    // plain explode into size(shs)>0/isnotnull filters that push below
    // the scatter exchange and re-evaluate the whole md5 shingle
    // pipeline per row on the single scan task (measured 8.5 s vs
    // 0.7 s at sf0.1); the outer form infers nothing and the null
    // filter on the generator OUTPUT cannot push below the Generate.
    "dd20_hot_shingles" -> { (s, d) =>
      val df = Dedup.barrier(Dedup.docShingles(s, d)
        .select(explode_outer(col("shs")).as("sh"))
        .filter(col("sh").isNotNull)
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .withColumn("pairs", expr("(df * (df - 1)) div 2")))
      val total = df.agg(sum(col("pairs")).cast("long").as("total_pairs"))
      df.crossJoin(broadcast(total))
        .withColumn("share_fx",
          expr("(pairs * 1000000) div greatest(total_pairs, 1)"))
        .select(col("sh"), col("df"), col("pairs"), col("share_fx"))
        .orderBy(col("df").desc, col("sh"))
        .limit(HotTopK)
    })

  def oracles: Map[String, String] = Map(
    "pk08_epoch_shuffle" -> {
      val h = Hashing.duckHash64(
        "concat_ws('|', CAST(epoch AS VARCHAR), CAST(doc_id AS VARCHAR))")
      s"""WITH s AS (
         |  SELECT CAST(epoch AS INTEGER) AS epoch, doc_id, $h AS h
         |  FROM documents
         |  CROSS JOIN (SELECT unnest([${Epochs.mkString(", ")}]) AS epoch) e)
         |SELECT epoch, h % $ShuffleShards AS shard, doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY epoch, h % $ShuffleShards
         |    ORDER BY h, doc_id) AS pos
         |FROM s""".stripMargin
    },

    "ss15_quant_bits_sweep" -> {
      val lv = "CASE bits WHEN 2 THEN 3.0 WHEN 4 THEN 15.0 ELSE 255.0 END"
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |dims AS (
         |  SELECT i, MIN(v) AS mn, MAX(v) AS mx
         |  FROM (SELECT generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS v FROM e)
         |  GROUP BY i),
         |mm AS (
         |  SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM dims),
         |r AS (
         |  SELECT vec_id, emb, CAST(bits AS INTEGER) AS bits,
         |    list_transform(range(len(emb)), i ->
         |      CASE WHEN maxs[i+1] = mins[i+1] THEN mins[i+1]
         |      ELSE mins[i+1] + floor((emb[i+1] - mins[i+1]) / (maxs[i+1] - mins[i+1])
         |             * ($lv) + 0.5) / ($lv) * (maxs[i+1] - mins[i+1]) END) AS recon
         |  FROM e CROSS JOIN mm
         |  CROSS JOIN (SELECT unnest([${SweepBits.mkString(", ")}]) AS bits) b),
         |sc AS (
         |  SELECT bits,
         |    CAST(floor(list_sum(list_transform(range(len(emb)),
         |        i -> emb[i+1] * recon[i+1]))
         |      / (sqrt(list_sum(list_transform(emb, x -> x * x)))
         |         * sqrt(list_sum(list_transform(recon, x -> x * x))))
         |      * 10000) AS BIGINT) AS cos_i4,
         |    list_max(list_transform(range(len(emb)),
         |      i -> abs(emb[i+1] - recon[i+1]))) AS max_err
         |  FROM r)
         |SELECT bits, COUNT(*) AS n_vecs,
         |  floor(CAST(SUM(cos_i4) AS DOUBLE) / (COUNT(*) * 10000.0) * 10000) / 10000
         |    AS avg_recon_cos,
         |  floor(MAX(max_err) * 10000) / 10000 AS max_abs_err
         |FROM sc GROUP BY bits ORDER BY bits""".stripMargin
    },

    "dd20_hot_shingles" ->
      s"""WITH ex AS (
         |  SELECT unnest(${Dedup.duckShs}) AS sh
         |  FROM documents WHERE len(${Dedup.duckToks}) >= 3),
         |d AS (
         |  SELECT sh, CAST(COUNT(*) AS BIGINT) AS df,
         |    CAST((COUNT(*) * (COUNT(*) - 1)) // 2 AS BIGINT) AS pairs
         |  FROM ex GROUP BY sh),
         |t AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs FROM d)
         |SELECT sh, df, pairs,
         |  (pairs * 1000000) // greatest(total_pairs, 1) AS share_fx
         |FROM d CROSS JOIN t
         |ORDER BY df DESC, sh LIMIT $HotTopK""".stripMargin)
}
