package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 twenty-sixth wave: count-min-sketch error census (q55),
  * corpus novelty-mass curve (tx31), dataloader worker balance (pk17).
  *
  * Posture notes: q55 folds the fact table ONCE to per-key counts
  * (the only fact shuffle), then builds the d×w sketch from that
  * vocab-sized table — at 100 TB the sketch is 2,048 counters
  * whatever the input size, the textbook sublinear summary. tx31 is
  * two equi-aggregations (per-doc gram counts; min-doc per distinct
  * gram hash) — no global sort, deciles come from broadcast id
  * bounds. pk17 is a hash-bucket fold to |shards| rows then |workers|
  * rows; both bounded.
  */
object Round6z extends Operators {

  private val Fx = 1000000L

  /** q55 sketch geometry: d hash rows × w buckets. */
  private val CmsD = 4
  private val CmsW = 512L
  /** q55 heavy-hitter report size. */
  private val TopN = 20

  /** tx31/pk17 layout constants. */
  private val NDeciles = 10L
  private val NShards = 64L
  private val NWorkers = 8L

  /** The d (seed, bucket) rows for one key column, as an explodable
    * struct array — literal seeds so [[Hashing.hash64Seeded]] parity
    * with the oracle fragment holds.
    */
  /** DuckDB twin of [[Sketch.cmsRows]] over a CTE named `src` carrying
    * `k`-keyed rows: one UNION ALL arm per seed.
    */
  private def duckCmsUnion(src: String, extraCols: String): String =
    (0 until CmsD).map { sd =>
      s"""SELECT $extraCols, $sd AS seed,
         |    ${Hashing.duckHash64Seeded("k", sd)} % $CmsW AS bucket
         |  FROM $src""".stripMargin
    }.mkString("\n  UNION ALL\n  ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q55: count-min sketch error census ------------------------------
    // The streaming-safe heavy-hitter answer at 100 TB is a sketch,
    // not a groupBy: d=4 x w=512 counters bound memory regardless of
    // key cardinality, and estimates only ever OVERcount. This op
    // prices that trade on real data: build the sketch, take the true
    // top-20 part keys, and report estimate vs truth per key — the
    // page that says whether w is big enough for this key skew.
    "q55_countmin_sketch" -> { (s, d) =>
      val keyed = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .withColumn("k", col("l_partkey").cast("string"))
      val sketch = Sketch.countMin(keyed, col("k"), col("cnt"), CmsD, CmsW)
      val top = keyed
        .orderBy(col("cnt").desc, col("l_partkey"))
        .limit(TopN)
      Sketch.cmsEstimate(sketch,
          top.select(col("l_partkey"), col("cnt").as("true_cnt"), col("k")),
          col("k"), CmsD, CmsW)
        .withColumn("over_cnt", col("est") - col("true_cnt"))
        .select(col("l_partkey"), col("true_cnt"), col("est").as("est_cnt"),
          col("over_cnt"))
        .orderBy(col("true_cnt").desc, col("l_partkey"))
    },

    // --- tx31: corpus novelty-mass curve ---------------------------------
    // Vocab growth (tx18) counts NEW types; this weighs them: per
    // ingestion decile (doc_id order), the share of 3-gram
    // OCCURRENCES that introduce a never-before-seen gram. A healthy
    // crawl decays smoothly; a flat-high curve means under-dedup'd
    // novelty, a cliff means the tail of the crawl is all repeats —
    // the curve that says when more data stops buying new text.
    "tx31_novelty_curve" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
      val bounds = docs.agg(
        min(col("doc_id")).as("lo"),
        (max(col("doc_id")) - min(col("doc_id")) + 1L).as("span"))
      def decile(doc: String): Column =
        expr(s"(($doc - lo) * $NDeciles) div span")
      val occ = docs
        .withColumn("n_occ", (size(col("toks")) - 2).cast("long"))
        .crossJoin(broadcast(bounds))
        .groupBy(decile("doc_id").as("decile"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_occ")).cast("long").as("n_occurrences"))
      // explode_OUTER + output notnull: plain explode of the computed
      // shingle array would re-evaluate the md5 pipeline per row in an
      // inferred pushed filter (generate-trap lint); ≥3-token docs
      // always shingle non-empty, so semantics are unchanged
      val novel = docs
        .select(col("doc_id"),
          explode_outer(Dedup.shingleHashes(col("toks"))).as("gh"))
        .filter(col("gh").isNotNull)
        .groupBy(col("gh"))
        .agg(min(col("doc_id")).as("first_doc"))
        .crossJoin(broadcast(bounds))
        .groupBy(decile("first_doc").as("decile"))
        .agg(count(lit(1)).cast("long").as("n_novel_grams"))
      occ.join(novel, Seq("decile"))
        .withColumn("novelty_fx", expr(s"(n_novel_grams * $Fx) div n_occurrences"))
        .select(col("decile"), col("n_docs"), col("n_occurrences"),
          col("n_novel_grams"), col("novelty_fx"))
        .orderBy(col("decile"))
    },

    // --- pk17: dataloader worker balance ---------------------------------
    // A packed corpus is read by W dataloader workers, each owning
    // every Wth shard (round-robin). Per worker: shards, docs, token
    // mass, and relative load (1.0 = ideal) — the imbalance that sets
    // epoch makespan, since the slowest worker gates every step.
    "pk17_worker_skew" -> { (s, d) =>
      val sharded = Tables.documents(s, d)
        .select(
          pmod(Hashing.hash64(col("doc_id").cast("string")), lit(NShards)).as("shard"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).as("tokens"))
      val byWorker = sharded
        .groupBy(pmod(col("shard"), lit(NWorkers)).as("worker"))
        .agg(count(lit(1)).cast("long").as("n_shards"),
          sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("tokens")).cast("long").as("tokens"))
      val total = byWorker.agg(sum(col("tokens")).as("total_tokens"))
      byWorker.crossJoin(broadcast(total))
        .withColumn("load_fx", expr(s"(tokens * $NWorkers * $Fx) div total_tokens"))
        .select(col("worker"), col("n_shards"), col("n_docs"),
          col("tokens"), col("load_fx"))
        .orderBy(col("worker"))
    })

  def oracles: Map[String, String] = Map(
    "q55_countmin_sketch" ->
      s"""WITH kc AS (
         |  SELECT l_partkey, CAST(l_partkey AS VARCHAR) AS k,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM lineitem GROUP BY 1, 2),
         |kb AS (
         |  ${duckCmsUnion("kc", "cnt")}),
         |sketch AS (
         |  SELECT seed, bucket, CAST(SUM(cnt) AS BIGINT) AS counter
         |  FROM kb GROUP BY 1, 2),
         |top AS (
         |  SELECT l_partkey, k, cnt FROM kc
         |  ORDER BY cnt DESC, l_partkey LIMIT $TopN),
         |tb AS (
         |  ${duckCmsUnion("top", "l_partkey, cnt")})
         |SELECT tb.l_partkey, tb.cnt AS true_cnt,
         |  CAST(MIN(COALESCE(s.counter, 0)) AS BIGINT) AS est_cnt,
         |  CAST(MIN(COALESCE(s.counter, 0)) - tb.cnt AS BIGINT) AS over_cnt
         |FROM tb LEFT JOIN sketch s USING (seed, bucket)
         |GROUP BY 1, 2 ORDER BY true_cnt DESC, l_partkey""".stripMargin,

    "tx31_novelty_curve" ->
      s"""WITH docs AS (
         |  SELECT doc_id, ${Dedup.duckShs} AS shs,
         |    CAST(len(${Dedup.duckToks}) - 2 AS BIGINT) AS n_occ
         |  FROM documents WHERE len(${Dedup.duckToks}) >= 3),
         |b AS (
         |  SELECT MIN(doc_id) AS lo,
         |    MAX(doc_id) - MIN(doc_id) + 1 AS span FROM docs),
         |occ AS (
         |  SELECT ((doc_id - lo) * $NDeciles) // span AS decile,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_occ) AS BIGINT) AS n_occurrences
         |  FROM docs CROSS JOIN b GROUP BY 1),
         |firsts AS (
         |  SELECT gh, MIN(doc_id) AS first_doc
         |  FROM (SELECT doc_id, unnest(shs) AS gh FROM docs)
         |  GROUP BY 1),
         |novel AS (
         |  SELECT ((first_doc - lo) * $NDeciles) // span AS decile,
         |    CAST(COUNT(*) AS BIGINT) AS n_novel_grams
         |  FROM firsts CROSS JOIN b GROUP BY 1)
         |SELECT occ.decile, n_docs, n_occurrences, n_novel_grams,
         |  (n_novel_grams * $Fx) // n_occurrences AS novelty_fx
         |FROM occ JOIN novel ON occ.decile = novel.decile
         |ORDER BY occ.decile""".stripMargin,

    "pk17_worker_skew" ->
      s"""WITH sharded AS (
         |  SELECT ${Hashing.duckHash64("CAST(doc_id AS VARCHAR)")} % $NShards AS shard,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(len(${Dedup.duckToks})) AS BIGINT) AS tokens
         |  FROM documents GROUP BY 1),
         |w AS (
         |  SELECT shard % $NWorkers AS worker,
         |    CAST(COUNT(*) AS BIGINT) AS n_shards,
         |    CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |    CAST(SUM(tokens) AS BIGINT) AS tokens
         |  FROM sharded GROUP BY 1),
         |t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens FROM w)
         |SELECT worker, n_shards, n_docs, tokens,
         |  CAST((tokens * $NWorkers * $Fx) // total_tokens AS BIGINT) AS load_fx
         |FROM w CROSS JOIN t ORDER BY worker""".stripMargin)
}
