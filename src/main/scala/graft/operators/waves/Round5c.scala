package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-5 third wave: serving/reporting primitives that close the
  * last everyday gaps — rolling active-user census (q39), multi-arm
  * retrieval fusion (ss13), the batch-construction pack plan (pk05),
  * and corpus-level vocabulary-growth signals (tx18).
  *
  * Same posture as the rest of the library: no O(n²) candidate step,
  * windows partitioned by real shard keys (or provably tiny frames),
  * fixed-point/integer arithmetic wherever the DuckDB oracle must
  * hash-match, broadcasts only for 1-row bounds or top-K lists.
  */
object Round5c extends Operators {

  /** q39: rolling window width in days (MAU-over-7 a.k.a. WAU). */
  val MauDays = 7
  private val DayUs = 86400000000L

  /** ss13: per-arm candidate-list depth and the RRF smoothing
    * constant (60 is the value from the original TREC fusion paper).
    */
  val RrfK = 20
  val RrfC = 60L
  private val Fx = 1000000L

  /** pk05: per-bin token budget (a context-window batch). */
  val PackBudget = 1024L

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q39: rolling 7-day active users -----------------------------
    // The engagement census every event pipeline reports: per day, the
    // distinct users seen in the trailing MauDays window, plus that
    // day's DAU and the DAU/WAU stickiness ratio. Sliding DISTINCT
    // does not decompose into per-day partials, and a COUNT(DISTINCT)
    // OVER RANGE window serializes on a single global sort — so the
    // scalable shape is contribute-then-group: each (user, day) pair
    // fans out to the MauDays target days it keeps the user active
    // in (bounded ×7 explode — no join, no window), then ONE
    // hash-aggregate counts distinct users per target day. DAU rides
    // along as the off==0 slice of the same explode. The only
    // broadcast is the 1-row max-day bound that trims the phantom
    // tail days past the observed range.
    "q39_rolling_mau" -> { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"),
          expr(graft.functions.Det.truncDiv("unix_micros(ts)", DayUs)).as("day"))
        .distinct()
      val mx = ud.agg(max(col("day")).as("max_day"))
      ud.select(col("user_id"), col("day"),
          explode(sequence(lit(0), lit(MauDays - 1))).as("off"))
        .withColumn("tday", col("day") + col("off"))
        .crossJoin(broadcast(mx))
        .filter(col("tday") <= col("max_day"))
        .groupBy(col("tday").as("day"))
        .agg(
          countDistinct(when(col("off") === 0, col("user_id"))).as("dau"),
          countDistinct(col("user_id")).as("mau7"))
        .withColumn("stickiness", Det.trunc4(col("dau").cast("double") / col("mau7")))
        .orderBy(col("day"))
    },

    // --- ss13: reciprocal-rank fusion --------------------------------
    // Production retrieval rarely serves one scorer: fuse the cosine
    // arm and the inner-product (MIPS) arm with RRF —
    // score(v) = Σ_arms 1/(C + rank_arm(v)) over each arm's top-RrfK
    // list. Each arm is an orderBy().limit(RrfK) (TakeOrdered — a
    // per-partition top-K then a K·partitions merge, never a global
    // sort), ranks are row_numbers over the resulting RrfK-row frame
    // (tiny by construction), and the fusion is a full outer join of
    // two RrfK-row lists. Scores are exact integers:
    // floor(Fx/(C+rank)) per arm, so cross-engine hash equality needs
    // no float tolerance. Ranking keys are floor(metric·1e9) longs
    // with vec_id tiebreak — deterministic on both engines.
    "ss13_rank_fusion" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("norm").as("q_norm"))
      val cand = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("dotv", Similarity.dot(col("emb"), col("q_emb")))
        .withColumn("cosfx",
          floor(col("dotv") / (col("norm") * col("q_norm")) * lit(1000000000L)).cast("long"))
        .withColumn("dotfx", floor(col("dotv") * lit(Fx)).cast("long"))
        .select(col("vec_id"), col("cosfx"), col("dotfx"))
      def arm(key: String, rank: String): DataFrame = {
        val sorted = cand.orderBy(col(key).desc, col("vec_id")).limit(RrfK)
        // RrfK rows by construction — the unpartitioned window is fine
        sorted.withColumn(rank,
            row_number().over(Window.orderBy(col(key).desc, col("vec_id"))).cast("long"))
          .select(col("vec_id"), col(rank))
      }
      val ca = arm("cosfx", "r_cos")
      val da = arm("dotfx", "r_dot")
      ca.join(da, Seq("vec_id"), "full_outer")
        .withColumn("rrf_fx",
          (coalesce(expr(s"$Fx div ($RrfC + r_cos)"), lit(0L)) +
            coalesce(expr(s"$Fx div ($RrfC + r_dot)"), lit(0L))).cast("long"))
        .orderBy(col("rrf_fx").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("r_cos"), col("r_dot"), col("rrf_fx"))
    },

    // --- pk05: batch-construction pack plan --------------------------
    // The step between pk01's budget census and an actual training
    // run: assign documents to fixed-budget bins. True first-fit is
    // inherently sequential, so the scalable plan is the standard
    // shard-local recipe — within each (lang, source) shard, order by
    // (tokens desc, doc_id) and slice the running sum at PackBudget
    // boundaries (next-fit on sorted order). The window partitions by
    // the shard key, so no global sort exists; each bin's tokens land
    // in [budget − max_doc, budget + max_doc), and the output censuses
    // exactly that: docs/tokens per bin plus the over-budget flag the
    // trainer uses to decide truncate-vs-spill. ROWS frame, not the
    // default RANGE, so peer rows never collapse (doc_id makes the
    // order total; both engines agree).
    "pk05_pack_plan" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("source"), col("doc_id"),
          size(toks(col("text"))).cast("long").as("ntok"))
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("ntok").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs
        .withColumn("cum_before", sum(col("ntok")).over(w) - col("ntok"))
        .withColumn("bin_id", expr(s"cum_before div $PackBudget"))
        .groupBy(col("lang"), col("source"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("long").as("bin_tokens"),
          max(col("ntok")).as("max_doc_tokens"))
        .withColumn("over_budget", col("bin_tokens") > lit(PackBudget))
        .orderBy(col("lang"), col("source"), col("bin_id"))
    },

    // --- tx18: vocabulary growth / hapax census ----------------------
    // Corpus-level lexical health per source: vocabulary size,
    // token mass, hapax (frequency-1) count, and the two ratios that
    // flag degenerate shards — a boilerplate-heavy source shows low
    // vocab/token ratio, an OCR-noise source shows hapax_ratio → 1
    // (every "word" unique). Two-level aggregate: (source, token)
    // counts first (map-side combinable), then a per-source rollup —
    // no collect, no window, both shuffles on real keys. Complements
    // tx14's per-document TTR with the per-shard view the curation
    // dashboard actually keys on.
    "tx18_vocab_growth" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(toks(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(col("cnt")).as("tokens"),
          count(when(col("cnt") === 1, lit(1))).as("hapax"))
        .withColumn("hapax_ratio", Det.trunc4(col("hapax").cast("double") / col("vocab")))
        .withColumn("ttr", Det.trunc4(col("vocab").cast("double") / col("tokens")))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    "q39_rolling_mau" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events),
         |mx AS (SELECT max(day) AS max_day FROM ud),
         |ex AS (
         |  SELECT user_id, day, off, day + off AS tday
         |  FROM ud, (SELECT unnest(range($MauDays)) AS off) o)
         |SELECT tday AS day,
         |  COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END) AS dau,
         |  COUNT(DISTINCT user_id) AS mau7,
         |  ${Det.duckTrunc(
             "COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END) * 1.0 / COUNT(DISTINCT user_id)", 4)}
         |    AS stickiness
         |FROM ex, mx WHERE tday <= max_day
         |GROUP BY tday ORDER BY day""".stripMargin,

    "ss13_rank_fusion" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |    CAST(embedding AS DOUBLE[]) AS emb,
         |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm
         |  FROM embeddings),
         |q AS (SELECT emb AS q_emb, norm AS q_norm FROM e WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id,
         |    CAST(floor(list_sum(list_transform(range(len(emb)),
         |      i -> emb[i+1] * q_emb[i+1])) / (norm * q_norm) * 1000000000) AS BIGINT)
         |      AS cosfx,
         |    CAST(floor(list_sum(list_transform(range(len(emb)),
         |      i -> emb[i+1] * q_emb[i+1])) * $Fx) AS BIGINT) AS dotfx
         |  FROM e, q WHERE vec_id <> 0),
         |ca AS (
         |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cosfx DESC, vec_id) AS r_cos
         |  FROM cand ORDER BY cosfx DESC, vec_id LIMIT $RrfK),
         |da AS (
         |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY dotfx DESC, vec_id) AS r_dot
         |  FROM cand ORDER BY dotfx DESC, vec_id LIMIT $RrfK)
         |SELECT coalesce(ca.vec_id, da.vec_id) AS vec_id,
         |  CAST(r_cos AS BIGINT) AS r_cos, CAST(r_dot AS BIGINT) AS r_dot,
         |  CAST(coalesce($Fx // ($RrfC + r_cos), 0)
         |     + coalesce($Fx // ($RrfC + r_dot), 0) AS BIGINT) AS rrf_fx
         |FROM ca FULL OUTER JOIN da ON ca.vec_id = da.vec_id
         |ORDER BY rrf_fx DESC, vec_id LIMIT 10""".stripMargin,

    "pk05_pack_plan" ->
      s"""WITH d AS (
         |  SELECT lang, source, doc_id, CAST(len($duckToks) AS BIGINT) AS ntok
         |  FROM documents),
         |b AS (
         |  SELECT lang, source, ntok,
         |    (sum(ntok) OVER (PARTITION BY lang, source
         |       ORDER BY ntok DESC, doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok)
         |      // $PackBudget AS bin_id
         |  FROM d)
         |SELECT lang, source, CAST(bin_id AS BIGINT) AS bin_id,
         |  COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS bin_tokens,
         |  MAX(ntok) AS max_doc_tokens,
         |  CAST(SUM(ntok) AS BIGINT) > $PackBudget AS over_budget
         |FROM b GROUP BY lang, source, bin_id
         |ORDER BY lang, source, bin_id""".stripMargin,

    "tx18_vocab_growth" ->
      s"""WITH tc AS (
         |  SELECT source, tok, COUNT(*) AS cnt
         |  FROM (SELECT source, unnest($duckToks) AS tok FROM documents)
         |  GROUP BY source, tok)
         |SELECT source, COUNT(*) AS vocab, CAST(SUM(cnt) AS BIGINT) AS tokens,
         |  COUNT(CASE WHEN cnt = 1 THEN 1 END) AS hapax,
         |  ${Det.duckTrunc("COUNT(CASE WHEN cnt = 1 THEN 1 END) * 1.0 / COUNT(*)", 4)}
         |    AS hapax_ratio,
         |  ${Det.duckTrunc("COUNT(*) * 1.0 / SUM(cnt)", 4)} AS ttr
         |FROM tc GROUP BY source ORDER BY source""".stripMargin)

  private def duckToks = Dedup.duckToks
}
