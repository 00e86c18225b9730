package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 second wave: a REAL byte-pair-encoding trainer (pk21) and
  * the fertility of its learned vocabulary (pk22) — replacing the
  * regex stand-in critique on pk14 with the actual algorithm
  * (Sennrich et al. 2016), run as relational plans on BOTH engines.
  *
  * Representation: every symbol is wrapped in its OWN delimiters —
  * a word's sequence is `|s1||s2||s3|` — so applying merge (x, y) is
  * `replace(seq, "|x||y|", "|xy|")` with BOTH boundaries exact: the
  * pattern cannot fire where y is a proper prefix of the following
  * symbol (`|c||ab|` does NOT match pair (c, a) — a left- or
  * right-open pattern would), and consecutive occurrences share no
  * characters, so both engines' sequential left-to-right
  * non-overlapping replace() is exactly BPE's greedy within-round
  * application (`|a||a||a|` merges to `|aa||a|`, never `|a||aa|`;
  * `|a||b||a||b|` merges BOTH pairs in one pass).
  *
  * Scale posture: training folds the corpus ONCE to the (word, cnt)
  * vocabulary table; every merge round is a vocab-sized
  * pair-explode + argmax (ONE broadcast row) + projection — the
  * corpus text is never rescanned, and the unrolled 8 rounds are
  * each barriered so round k+1 reads round k's materialization, not
  * a 2^k recompute tree.
  */
object Round8b extends Operators {

  private val Fx = 1000000L

  /** Unrolled merge rounds — enough to see the curve bend; each adds
    * one vocab symbol, exactly like a real tokenizer build's first
    * steps.
    */
  val NMerges = 8

  /** (word, cnt, seq) — corpus vocabulary with prefix-delimited char
    * sequences.
    */
  private def wordTable(s: SparkSession, d: String): DataFrame =
    wordTableOf(Tables.documents(s, d))

  private[operators] def wordTableOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("seq", regexp_replace(col("word"), "(.)", "|$1|"))

  /** Adjacent symbol pairs of a seq frame, space-joined ("x y"),
    * weighted by word count: (p, n). Symbols are the `[a-z]+` runs
    * between the delimiter pairs.
    */
  private def pairCounts(words: DataFrame): DataFrame = {
    val sy = regexp_extract_all(col("seq"), lit("[a-z]+"), lit(0))
    words
      .select(col("cnt"),
        explode(when(size(sy) >= 2,
            transform(sequence(lit(1), size(sy) - 1), k =>
              concat(element_at(sy, k), lit(" "), element_at(sy, k + 1))))
          .otherwise(array().cast("array<string>"))).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).cast("long").as("n"))
  }

  /** One curve row, syms filled a round later (see [[train]]). */
  private final class CurveRow(val round: Long, val symX: String,
      val symY: String, val pairN: Long, var syms: Long)

  /** Run the training loop. The argmax per round is a bounded 1-row
    * driver collect (the ss09 fitted-model hold: merge RULES are
    * model state, embedding them as literals keeps every round a
    * flat projection), and each round's frame is localCheckpoint-ed —
    * without lineage truncation the per-round plan tree grows and
    * Catalyst re-optimization dominates (measured: 50 s
    * scale-INDEPENDENT for the chained-plan formulation vs seconds
    * checkpointed). Per-round symbol counts fall out of the next
    * round's pair total (syms = Σ weighted adjacent pairs + Σ word
    * mass, since a word of k symbols has exactly k−1 adjacent
    * pairs) — no extra aggregate per round.
    *
    * Returns (final encoded words frame, curve rows).
    */
  private def train(s: SparkSession, d: String): (DataFrame, Seq[CurveRow]) = {
    var words = wordTable(s, d).localCheckpoint()
    val w = words.agg(sum(col("cnt"))).head.getLong(0)
    val rows = scala.collection.mutable.ArrayBuffer(
      new CurveRow(0L, "", "", 0L, -1L))
    var saturated = false
    for (r <- 1 to NMerges if !saturated) {
      val pa = pairCounts(words).persist()
      val total = pa.agg(coalesce(sum(col("n")), lit(0L)).cast("long"))
        .head.getLong(0)
      rows.last.syms = total + w // k-symbol word ⇒ k−1 pairs
      val best = pa.orderBy(col("n").desc, col("p")).limit(1).collect()
      pa.unpersist()
      if (best.isEmpty) saturated = true
      else {
        val p = best(0).getAs[String]("p")
        val n = best(0).getAs[Long]("n")
        val Array(x, y) = p.split(" ", 2)
        words = words
          .withColumn("seq", replace(col("seq"),
            lit("|" + x + "||" + y + "|"), lit("|" + x + y + "|")))
          .localCheckpoint()
        rows += new CurveRow(r.toLong, x, y, n, -1L)
      }
    }
    if (!saturated)
      rows.last.syms = words
        .agg(sum(expr(
          "cnt * ((length(seq) - length(replace(seq, '|', ''))) div 2)"))
          .cast("long"))
        .head.getLong(0)
    (words, rows.toSeq)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk21: BPE training curve -----------------------------------------
    // The first NMerges merge rules a real BPE vocabulary build
    // learns from this corpus, with the compression curve: per round,
    // the winning adjacent-symbol pair, its weighted count, and the
    // corpus symbol occurrences after applying it (round 0 = the
    // character baseline). The page that says which subwords the
    // tokenizer budget buys first, measured, not assumed.
    "pk21_bpe_train" -> { (s, d) =>
      import s.implicits._
      train(s, d)._2
        .map(r => (r.round, r.symX, r.symY, r.pairN, r.syms))
        .toDF("round", "sym_x", "sym_y", "pair_n", "corpus_syms")
        .orderBy(col("round"))
    },

    // --- pk22: learned-vocabulary fertility per language ------------------
    // pk14's fertility used a regex pre-tokenizer stand-in; this
    // encodes with the vocabulary pk21 actually LEARNS (all NMerges
    // applied) and reports per-language symbols-per-word — the
    // fragmentation number a real tokenizer build would hand the
    // packing planner. Word occurrences per language fold map-side;
    // the learned encoding joins on the bounded vocab table.
    "pk22_bpe_fertility" -> { (s, d) =>
      val enc = train(s, d)._1
        .select(col("word"),
          expr("(length(seq) - length(replace(seq, '|', ''))) div 2")
            .cast("long").as("syms"))
      val langWords = Tables.documents(s, d)
        .select(col("lang"),
          explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
            .as("word"))
        .groupBy(col("lang"), col("word"))
        .agg(count(lit(1)).cast("long").as("lcnt"))
      langWords.join(enc, Seq("word"))
        .groupBy(col("lang"))
        .agg(sum(col("lcnt")).cast("long").as("n_words"),
          sum(col("lcnt") * col("syms")).cast("long").as("bpe_tokens"))
        .withColumn("fertility_fx", expr(s"(bpe_tokens * $Fx) div n_words"))
        .select(col("lang"), col("n_words"), col("bpe_tokens"),
          col("fertility_fx"))
        .orderBy(col("lang"))
    })

  /** Oracle CTE chain shared by both oracles: w, s0, then
    * (p_r, b_r, s_r) per round — the exact relational steps the Spark
    * side runs.
    */
  private def duckTrainCtes: String = {
    val rounds = (1 to NMerges).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (
         |  SELECT p, CAST(SUM(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
         |      k -> sy[k] || ' ' || sy[k + 1])) AS p
         |    FROM (SELECT cnt, regexp_extract_all(seq, '[a-z]+') AS sy
         |          FROM $prev))
         |  GROUP BY p),
         |b$r AS (SELECT p, n FROM p$r ORDER BY n DESC, p LIMIT 1),
         |s$r AS MATERIALIZED (
         |  -- LEFT JOIN against the ≤1-row argmax + COALESCE: when no
         |  -- pair remains (b$r empty) the round passes the last
         |  -- vocabulary through unchanged, mirroring the Spark loop —
         |  -- and keeps ONE reference to $prev (a UNION ALL guard
         |  -- would reference it twice and DuckDB's CTE inlining then
         |  -- grows the chain 3^rounds). MATERIALIZED pins the linear
         |  -- evaluation the chain needs.
         |  SELECT word, cnt,
         |    COALESCE(replace(seq, '|' || replace(p, ' ', '||') || '|',
         |      '|' || replace(p, ' ', '') || '|'), seq) AS seq
         |  FROM $prev LEFT JOIN b$r ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS word
       |    FROM documents)
       |  GROUP BY word),
       |s0 AS (
       |  SELECT word, cnt, regexp_replace(word, '(.)', '|\\1|', 'g') AS seq
       |  FROM w),
       |$rounds""".stripMargin
  }

  private def duckSyms(tbl: String): String =
    s"""(SELECT CAST(SUM(cnt * ((len(seq) - len(replace(seq, '|', ''))) // 2))
       |    AS BIGINT) FROM $tbl)""".stripMargin

  def oracles: Map[String, String] = Map(
    "pk21_bpe_train" -> {
      val rows = (1 to NMerges).map { r =>
        s"""SELECT $r AS round, split_part(p, ' ', 1) AS sym_x,
           |  split_part(p, ' ', 2) AS sym_y, n AS pair_n,
           |  ${duckSyms(s"s$r")} AS corpus_syms FROM b$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $duckTrainCtes
         |SELECT CAST(round AS BIGINT) AS round, sym_x, sym_y, pair_n,
         |  corpus_syms
         |FROM (
         |  SELECT 0 AS round, '' AS sym_x, '' AS sym_y,
         |    CAST(0 AS BIGINT) AS pair_n,
         |    ${duckSyms("s0")} AS corpus_syms
         |  UNION ALL
         |  $rows)
         |ORDER BY round""".stripMargin
    },

    "pk22_bpe_fertility" ->
      s"""WITH $duckTrainCtes,
         |enc AS (
         |  SELECT word,
         |    CAST((len(seq) - len(replace(seq, '|', ''))) // 2 AS BIGINT) AS syms
         |  FROM s$NMerges),
         |lw AS (
         |  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS lcnt FROM (
         |    SELECT lang, unnest(regexp_extract_all(text, '[a-z]+')) AS word
         |    FROM documents)
         |  GROUP BY lang, word)
         |SELECT lang, CAST(SUM(lcnt) AS BIGINT) AS n_words,
         |  CAST(SUM(lcnt * syms) AS BIGINT) AS bpe_tokens,
         |  (CAST(SUM(lcnt * syms) AS BIGINT) * $Fx)
         |    // CAST(SUM(lcnt) AS BIGINT) AS fertility_fx
         |FROM lw JOIN enc USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin)
}
