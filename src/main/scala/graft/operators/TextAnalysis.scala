package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Hashing, Det}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import Operators.{Fx, Fx4}

/** Text-analysis operators for training-data curation over `documents`.
  *
  * All per-row logic is built from codegen'd `functions._` expressions
  * (no UDF closures), so at 100 TB the whole stage is a single
  * parquet-scan → project pipeline with column pruning: only `text`
  * (+ grouping keys) is read.
  *
  * Every `tx` operator and its oracle live in this object.
  */
object TextAnalysis extends Operators {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** One row per adjacent token pair (w1, w2) of every document with
    * at least two tokens: the `keep` columns plus `pair(w1, w2)` as
    * `name`. */
  private def adjacentPairs(docs: DataFrame, keep: Seq[Column], name: String)(
      pair: (Column, Column) => Column): DataFrame =
    docs.withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(keep :+ explode(transform(sequence(lit(0), size(col("toks")) - 2),
        i => pair(element_at(col("toks"), i + 1), element_at(col("toks"), i + 2)))).as(name): _*)

  /** Hash of every `w`-token window of the token array `toks`, in
    * window order. */
  def gramHashes(toks: Column, w: Int): Column =
    transform(sequence(lit(0), size(toks) - w),
      i => Hashing.hash64(concat_ws(" ", slice(toks, i + 1, lit(w)))))

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** Count of stopword tokens (higher-order filter, codegen'd). */
  def stopCount(toks: Column): Column =
    size(filter(toks, t => t.isInCollection(Stopwords)))

  /** Composite quality score in [0,1]:
    * 0.5·min(1, tokens/100) + 0.3·(1−stop_ratio) + 0.2·(1−min(1, punct_ratio·10)).
    */
  def qualityScore(nTokens: Column, stopRatio: Column, punctRatio: Column): Column =
    graft.functions.Det.trunc4(
      lit(0.5) * least(lit(1.0), nTokens / lit(100.0)) +
      lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.2) * (lit(1.0) - least(lit(1.0), punctRatio * lit(10.0))))

  /** Marker-token language guess: per-language marker hit counts,
    * argmax with a fixed priority order on ties, 'unk' when no marker
    * fires. (An n-gram-frequency model distilled to its codegen-able
    * core; the marker lists are the "model".)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "is", "of"),
    "es" -> Seq("el", "la", "los"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "et", "les"))

  /** documents frame → + `guessed` column (the tx03 guesser). ONE
    * definition feeds tx03's confusion matrix and tx15's eval harness
    * — drift here would let the eval measure a different guesser than
    * the one shipped.
    */
  private[operators] def langGuessed(docs: DataFrame): DataFrame = {
    val df = docs.withColumn("toks", tokens(col("text")))
    val scored = LangMarkers.foldLeft(df) { case (acc, (lang, markers)) =>
      acc.withColumn(s"s_$lang",
        size(filter(col("toks"), t => t.isInCollection(markers))))
    }
    val Seq(en, es, de, fr) = LangMarkers.map { case (l, _) => col(s"s_$l") }
    scored.withColumn("guessed",
      when(en >= es && en >= de && en >= fr && en > 0, "en")
        .when(es >= de && es >= fr && es > 0, "es")
        .when(de >= fr && de > 0, "de")
        .when(fr > 0, "fr")
        .otherwise("unk"))
  }

  /** DuckDB twin of [[langGuessed]]: per-doc (lang, guessed) rows.
    * (Dedup.duckToks, not the local duckToks: object vals initialize
    * in declaration order and the local one is declared further down.)
    */
  private[operators] val duckGuessSql: String =
    s"""SELECT lang,
       |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
       |         WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
       |         WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
       |         WHEN s_fr > 0 THEN 'fr'
       |         ELSE 'unk' END AS guessed
       |  FROM (
       |    SELECT lang,
       |      len(list_filter(${Dedup.duckToks}, t -> t IN ('the','is','of'))) AS s_en,
       |      len(list_filter(${Dedup.duckToks}, t -> t IN ('el','la','los'))) AS s_es,
       |      len(list_filter(${Dedup.duckToks}, t -> t IN ('der','und','das'))) AS s_de,
       |      len(list_filter(${Dedup.duckToks}, t -> t IN ('le','et','les'))) AS s_fr
       |    FROM documents)""".stripMargin

  /** Regex scrub (PII-redaction shape): count + replace pattern hits,
    * fingerprint the redacted text so the rewrite itself is verified.
    * The gated query scrubs policy terms the corpus exercises; for
    * real PII swap the pattern for digit-run/email regexes. ONE
    * constant feeds both the Spark query and the DuckDB oracle — the
    * syntax is common to both engines, and a single definition keeps
    * them locked together.
    */
  val ScrubPattern = "\\b(customer|value)\\b"

  /** tx17: total token budget the mixture allocates. */
  val MixBudget = 1000000L

  /** tx19: the stopword probe list (C4/Gopher-style rule filtering
    * uses a tiny fixed list — presence of common function words is
    * the signal, not coverage).
    */
  val ProbeStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

  /** The tx19 C4/Gopher rule battery as a reusable per-document frame
    * (doc columns preserved, flags + `keep` appended). Shared with
    * tx20's curation-yield funnel so the two rule sets cannot drift.
    * Pure narrow compute — no shuffle.
    */
  private[graft] def ruleFlags(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("sum_len", length(array_join(col("toks"), "")).cast("long"))
      .withColumn("mwl_fx", expr("(sum_len * 10000) div n_words"))
      .withColumn("alpha_words",
        size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("stop_hits",
        size(filter(col("toks"),
          t => array_contains(typedLit(ProbeStopWords), lower(t)))).cast("long"))
      .withColumn("wc_ok", col("n_words") >= 20 && col("n_words") <= 1000)
      .withColumn("mwl_ok", col("mwl_fx") >= 30000 && col("mwl_fx") <= 100000)
      .withColumn("alpha_ok", col("alpha_words") * 10 >= col("n_words") * 8)
      .withColumn("stop_ok", col("stop_hits") >= 2)
      .withColumn("keep",
        col("wc_ok") && col("mwl_ok") && col("alpha_ok") && col("stop_ok"))

  /** DuckDB CTE chain mirroring [[ruleFlags]]: `WITH t, f, flags`
    * where `flags` has (doc_id, lang, source, n_words, mwl_fx,
    * alpha_words, stop_hits, wc_ok, mwl_ok, alpha_ok, stop_ok, keep).
    * Shared by the tx19 and tx20 oracles.
    */
  private[graft] def duckRuleFlagsCtes: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, ${Dedup.duckToks} AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(strlen(array_to_string(toks, '')) AS BIGINT) AS sum_len,
       |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS BIGINT) AS alpha_words,
       |    CAST(len(list_filter(toks, x -> list_contains(
       |      [${ProbeStopWords.map(w => s"'$w'").mkString(", ")}], lower(x))))
       |      AS BIGINT) AS stop_hits
       |  FROM t),
       |flags AS (
       |  SELECT doc_id, lang, source, n_words,
       |    (sum_len * 10000) // n_words AS mwl_fx,
       |    alpha_words, stop_hits,
       |    n_words >= 20 AND n_words <= 1000 AS wc_ok,
       |    (sum_len * 10000) // n_words BETWEEN 30000 AND 100000 AS mwl_ok,
       |    alpha_words * 10 >= n_words * 8 AS alpha_ok,
       |    stop_hits >= 2 AS stop_ok,
       |    (n_words >= 20 AND n_words <= 1000)
       |      AND ((sum_len * 10000) // n_words BETWEEN 30000 AND 100000)
       |      AND (alpha_words * 10 >= n_words * 8)
       |      AND (stop_hits >= 2) AS keep
       |  FROM f)""".stripMargin

  /** Integer-exact floor(log2(n)) for n >= 1. */
  private[operators] def log2floor(n: org.apache.spark.sql.Column) =
    (length(bin(n.cast("long"))) - 1).cast("int")

  /** tx29's artifact patterns — one definition feeds BOTH engines
    * (syntax common to Spark rlike/regexp_count and DuckDB
    * regexp_extract_all).
    */
  private val UrlPat = """https?://[^\s]+"""

  private val EmailPat = """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"""

  private val MarkupPat = """[<>{}\[\]|\\]"""

  /** tx31/pk17 layout constants. */
  private val NDeciles = 10L

  /** Marker hits that count a language as "present" in a doc. */
  private val PresentMin = 2L

  /** tx35: a fixed high-frequency English stopword set (literal —
    * the profile must be deterministic and oracle-shared).
    */
  val ProfileStopwords: Seq[String] = Seq(
    "the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "at")

  /** tx36: percentiles of per-doc token counts. */
  val LenPercentiles: Seq[Int] = Seq(50, 90, 99)

  /** Fixed-point scale for per-token probabilities (1e9: vocab-sized
    * sums stay far under Long range at gate SFs; at true 100 TB token
    * counts the products would move to DECIMAL(38,0) — same plan).
    */
  private val PFx = 1000000000L

  private val TopK = 50

  /** tx40: minimum pair count and report size. */
  private val MinPairCount = 3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx01_token_count" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), size(tokens(col("text"))).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          graft.functions.Det.trunc4(sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
        .orderBy(col("lang"))
    },

    "tx02_quality_score" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("stop_ratio", stopCount(col("toks")).cast("double") / col("n_tokens"))
        .withColumn("punct_ratio",
          regexp_count(col("text"), lit("[.,!?;:]")).cast("double") / length(col("text")))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          qualityScore(col("n_tokens"), col("stop_ratio"), col("punct_ratio")).as("quality"))
        .orderBy(col("doc_id"))
    },

    "tx03_lang_id" -> { (s, d) =>
      langGuessed(Tables.documents(s, d))
        .groupBy(col("lang"), col("guessed"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("guessed"))
    },

    "tx04_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Hashing.hash64(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
        .orderBy(col("doc_id"))
    },

    // fuzzy token matching: edit-distance ≤ 2 pairs over the vocab.
    // NOT a cross join: SymSpell-style deletion neighborhoods — two
    // terms with lev ≤ 2 always share a ≤2-deletion variant, so
    // candidates come from an equi-join on the variant and the exact
    // levenshtein filter runs only within buckets. The oracle is the
    // plain all-pairs definition, proving the candidate generation
    // loses nothing.
    "tx05_edit_distance" -> { (s, d) =>
      // all strings with one char deleted (col-expression form)
      def del1(t: Column): Column =
        transform(sequence(lit(1), length(t)),
          i => concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t))))
      val vocab = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .distinct()
      val variants = vocab
        .withColumn("d1", del1(col("tok")))
        .withColumn("var", explode(array_distinct(concat(
          array(col("tok")), col("d1"),
          flatten(transform(col("d1"), v => del1(v)))))))
        .select(col("tok"), col("var"))
      val a = variants.select(col("var"), col("tok").as("tok_a"))
      val b = variants.select(col("var"), col("tok").as("tok_b"))
      a.join(b, Seq("var"))
        .filter(col("tok_a") < col("tok_b"))
        .select(col("tok_a"), col("tok_b")).distinct()
        .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")).cast("long"))
        .filter(col("dist") <= 2)
        .orderBy(col("tok_a"), col("tok_b"))
    },

    // per-language top-N vocabulary by frequency. Three-level
    // reduction, skew-proof: the corpus folds to (lang, tok)
    // frequencies first (map-side partial combine — the only pass
    // over the fact table); a SALTED local top-50 then prunes each
    // language to ≤ 64×50 candidate rows (row_number partitioned by
    // (lang, salt) — 64 bounded sorts per language instead of one
    // task sorting a language's whole vocabulary); the final per-lang
    // rank runs on that pruned frame. The salt is a deterministic
    // token hash, so any token that is globally top-50 is also top-50
    // within its salt bucket — no recall loss, bit-identical output.
    // vocab_size folds separately (plain count per lang, no window).
    "tx06_collect_tokens" -> { (s, d) =>
      val tokFreq = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("freq"))
      val vsizes = tokFreq.groupBy(col("lang"))
        .agg(count(lit(1)).as("vocab_size"))
      Rank.topKByKey(tokFreq, Seq(col("lang")),
          Seq(col("freq").desc, col("tok")), 50, saltOn = col("tok"))
        .groupBy(col("lang"))
        .agg(
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("rk"), col("tok")))),
            s => s.getField("tok"))).as("vocab"))
        .join(broadcast(vsizes), Seq("lang"))
        .select(col("lang"), col("vocab"), col("vocab_size"))
        .orderBy(col("lang"))
    },

    // BPE-ish regex tokenization: letter runs / digit runs / single
    // punctuation, the pre-tokenizer shape BPE vocabularies train on
    "tx07_bpe_tokens" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks",
          regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).as("total_bpe_tokens"),
          graft.functions.Det.trunc4(
            sum(size(col("toks"))).cast("double") / count(lit(1))).as("avg_bpe_tokens"))
        .orderBy(col("source"))
    },

    // winnowing fingerprints: Karp-Rabin char-8-gram hashes, min per
    // 4-gram window, distinct mins = the document's fingerprint set.
    // The gram hash is pure modular arithmetic over a precomputed
    // codepoint array (Hashing.kr8) — the md5-per-gram variant this
    // replaced spent ~all its time in the digest; at corpus scale the
    // stage stays narrow (no shuffle) and fully codegen'd either way,
    // so the per-row constant IS the cost.
    "tx08_winnowing" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(length(col("text")) >= 11) // 8-gram + 4-window needs >= 11 chars
        .withColumn("cps", transform(
          sequence(lit(1), length(col("text"))),
          j => ascii(col("text").substr(j, lit(1))).cast("long")))
        .withColumn("gh", transform(
          sequence(lit(0), length(col("text")) - 8),
          i => Hashing.kr8(col("cps"), i)))
        .withColumn("mins", array_distinct(transform(
          sequence(lit(0), size(col("gh")) - 4),
          w => array_min(slice(col("gh"), w + 1, lit(4))))))
        .select(col("doc_id"), size(col("mins")).cast("long").as("n_fps"), array_min(col("mins")).as("min_fp"))
        .orderBy(col("doc_id"))
    },

    // --- tx09: repetition signals (Gopher-style quality filter) ------
    "tx09_repetition" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n_tokens", size(col("toks")))
        .filter(col("n_tokens") >= 8)
        .withColumn("bigrams", transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))))
        .withColumn("dup_bigram_frac", Det.trunc4(
          lit(1.0) - size(array_distinct(col("bigrams"))).cast("double") / size(col("bigrams"))))
      base
        .select(col("doc_id"), col("n_tokens"), col("dup_bigram_frac"),
          explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("n_tokens"), col("dup_bigram_frac"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("n_tokens"), col("dup_bigram_frac"))
        .agg(max(col("c")).as("top_c"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          Det.trunc4(col("top_c") / col("n_tokens")).as("top_token_frac"),
          col("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    // --- tx10: regex scrub / redaction census ------------------------
    "tx10_regex_scrub" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_red", regexp_count(col("text"), lit(ScrubPattern)).cast("long"))
        .withColumn("red_fp",
          Hashing.hash64(regexp_replace(col("text"), ScrubPattern, "<X>")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_red") > 0, 1L).otherwise(0L)).as("n_docs_redacted"),
          sum(col("n_red")).as("n_redactions"),
          expr("bit_xor(red_fp)").as("fp_xor"))
        .orderBy(col("source"))
    },

    // --- tx11: TF-IDF-style term scoring -----------------------------
    // Top-3 terms per document by tf·idf. The idf is the BM25-style
    // RATIONAL form (N - df + 0.5)/(df + 0.5): pure arithmetic, so
    // both engines compute bit-identical doubles (ln() differs in the
    // last ulp across libm implementations and would flake the gate).
    "tx11_tfidf" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // N as a broadcast scalar frame, not an eager driver count():
      // an eager count would re-scan the corpus at every invocation
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n"))
      // tf is MATERIALIZED: df aggregates a column-pruned (distinct
      // doc,tok) twin of tf, so the two subplans are not canonically
      // equal and AQE stage reuse cannot dedupe them — unbarriered,
      // the scan+explode+shuffle pipeline runs twice (measured 1.24 s
      // quiet at sf0.1; the r7 artifact's 0.79 s shape)
      val tf = Dedup.barrier(
        docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val byDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok"))
      tf.join(df, Seq("tok"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score", Det.trunc4(
          col("tf") * (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("rank", row_number().over(byDoc).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("tok"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // --- tx12: unigram-LM frequency score (perplexity proxy) ---------
    // Two-pass corpus language model: pass 1 counts every token over
    // the whole corpus (shuffle on token), pass 2 joins the counts
    // back and scores each doc by its mean token corpus-frequency —
    // common-word prose scores high, gibberish low. Pure integer
    // sums until the final ratio, so the oracle hash-matches without
    // libm (the tx11 ln() lesson). At 100 TB the frequency table is
    // fact-sized: the join shuffles on token rather than assuming a
    // broadcastable vocabulary.
    "tx12_unigram_lm" -> { (s, d) =>
      val tok = Dedup.barrier(Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token")))
      val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("tok_freq"))
      tok.join(freq, Seq("token"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("tok_freq")).as("sum_freq"))
        .select(col("doc_id"), col("n_toks"),
          Det.trunc4(col("sum_freq").cast("double") / col("n_toks"))
            .as("avg_tok_freq"))
        .orderBy(col("doc_id"))
    },

    // --- tx13: bigram-LM fluency score -------------------------------
    // tx12 one order up: corpus bigram frequencies (shuffle on the
    // bigram — a fact-sized table, no broadcastable-vocab assumption),
    // each doc scored by its mean bigram corpus-frequency. Rational
    // arithmetic (integer sums, one final division) so the oracle
    // hash-matches without libm. Fluent prose reuses common word
    // PAIRS; shuffled/gibberish text scores near 1 even when its
    // unigrams are common — the pair-level fluency signal tx12's
    // unigram model cannot see.
    "tx13_bigram_lm" -> { (s, d) =>
      val bg = Dedup.barrier(adjacentPairs(graft.core.Tables.documents(s, d),
        Seq(col("doc_id")), "bigram")((w1, w2) => concat_ws(" ", w1, w2)))
      val freq = bg.groupBy(col("bigram")).agg(count(lit(1)).as("bg_freq"))
      bg.join(freq, Seq("bigram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("bg_freq")).as("sum_freq"))
        .select(col("doc_id"), col("n_bigrams"),
          Det.trunc4(col("sum_freq").cast("double") / col("n_bigrams"))
            .as("avg_bg_freq"))
        .orderBy(col("doc_id"))
    },

    // --- tx14: lexical diversity (type-token ratio) ------------------
    // Quality signal the repetition family (tx09) doesn't capture:
    // templated/boilerplate docs have low TTR even when no single
    // token dominates. Two-level reduction — (doc, token) partial
    // counts first (map-side combine over the corpus), then a doc-
    // keyed fold. No per-group collect; every row is O(1).
    "tx14_ttr_diversity" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          Det.trunc4(col("n_types").cast("double") / col("n_tokens")).as("ttr"),
          Det.trunc4(col("n_hapax").cast("double") / col("n_types")).as("hapax_frac"))
        .orderBy(col("doc_id"))
    },

    // --- tx15: language-ID evaluation harness ------------------------
    // The eval twin of tx03 (the ss08/dd12/dd13 pattern applied to
    // text): per gold language, precision/recall of the shipped n-gram
    // guesser against the labeled `lang` column. The guesser is the
    // SAME helper tx03 executes, so the measured quality is the
    // production path's quality. zh has no marker list, so its recall
    // (0) and the unk fallback are part of the measurement, not noise.
    "tx15_langid_eval" -> { (s, d) =>
      val g = TextAnalysis.langGuessed(Tables.documents(s, d))
        .select(col("lang"), col("guessed"))
      val gold = g.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_gold"),
          sum(when(col("guessed") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
      val pred = g.groupBy(col("guessed").as("lang"))
        .agg(count(lit(1)).as("n_pred"))
      gold.join(pred, Seq("lang"), "left")
        .select(col("lang"), col("n_gold"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("n_correct"),
          when(coalesce(col("n_pred"), lit(0L)) > 0,
            Det.trunc4(col("n_correct").cast("double") / col("n_pred"))).as("precision"),
          Det.trunc4(col("n_correct").cast("double") / col("n_gold")).as("recall"))
        .orderBy(col("lang"))
    },

    // --- tx16: inter-document gram-duplication census ----------------
    // The train-train twin of dd14's train-eval check: what fraction
    // of each doc's distinct 13-grams appear in ≥2 documents (crawl-
    // snapshot boilerplate, shared templates). Gram DF is one
    // map-side-combinable aggregation on the gram hash; the join back
    // is co-partitioned on the same key. No broadcast assumption —
    // the gram table is corpus-sized on both sides.
    "tx16_gram_dup_rate" -> { (s, d) =>
      val W = 13
      val grams = Dedup.barrier(graft.core.Tables.documents(s, d)
        .withColumn("toks", tokens(col("text")))
        .filter(size(col("toks")) >= W)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(gramHashes(col("toks"), W)))
            .as("g")))
      val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("dfc"))
      val perDoc = grams.join(dfreq, Seq("g"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("dfc") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_i4",
          floor(col("n_dup").cast("double") / col("n_grams") * lit(10000)).cast("long"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          Det.trunc4(sum(col("dup_i4")).cast("double") /
            (count(lit(1)) * lit(10000.0))).as("avg_dup_frac"),
          sum(when(col("dup_i4") >= 5000, 1L).otherwise(0L)).as("n_dupy_docs"))
        .orderBy(col("source"))
    },

    // --- tx17: corpus mixing allocation ------------------------------
    // The mixture step that turns curated shards into a training run:
    // temperature-weighted language sampling (weight ∝ tokens^0.5, the
    // multilingual-LM upsampling rule) allocates a global token budget
    // across languages, then pro-rates each language's quota over its
    // sources; epochs = alloc/avail is the upsampling factor the run
    // will apply (>1 means repeated data — the low-resource-language
    // tradeoff made visible). All arithmetic is fixed-point/integer
    // until the two final display ratios: sqrt is correctly-rounded
    // IEEE in both engines, floor(sqrt·1e6) longs sum exactly in any
    // order, and every division is integer-on-positives — so the plan
    // is deterministic AND the per-lang frame (a handful of rows at
    // any corpus size) broadcasts back onto the (lang, source) census.
    "tx17_mix_plan" -> { (s, d) =>
      val perLS = Tables.documents(s, d)
        .select(col("lang"), col("source"),
          size(tokens(col("text"))).cast("long").as("ntok"))
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("ntok")).as("tok_ls"))
      val perL = perLS.groupBy(col("lang")).agg(sum(col("tok_ls")).as("tok_l"))
        .withColumn("sqfx",
          floor(sqrt(col("tok_l").cast("double")) * lit(Similarity.MixFx)).cast("long"))
      val tot = perL.agg(sum(col("sqfx")).as("totfx"))
      val alloc = perL.crossJoin(broadcast(tot))
        .withColumn("alloc_l", expr(s"($MixBudget * sqfx) div totfx"))
      perLS.join(broadcast(alloc), Seq("lang"))
        .withColumn("alloc_tokens", expr("(alloc_l * tok_ls) div tok_l"))
        .select(col("lang"), col("source"), col("tok_ls").as("avail_tokens"),
          Det.trunc4(col("sqfx").cast("double") / col("totfx")).as("mix_weight"),
          col("alloc_tokens"),
          Det.trunc4(col("alloc_tokens").cast("double") / col("tok_ls")).as("epochs"))
        .orderBy(col("lang"), col("source"))
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
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(col("cnt")).as("tokens"),
          count(when(col("cnt") === 1, lit(1))).as("hapax"))
        .withColumn("hapax_ratio", Det.trunc4(col("hapax").cast("double") / col("vocab")))
        .withColumn("ttr", Det.trunc4(col("vocab").cast("double") / col("tokens")))
        .orderBy(col("source"))
    },

    // --- tx19: rule-based quality filter ------------------------------
    // The published C4/Gopher heuristic battery as per-document flags:
    // word-count bounds, mean word length in [3,10], ≥80% of words
    // containing an alphabetic character, and ≥2 stopword hits. Each
    // rule is its own column (the curation dashboard tallies WHY docs
    // drop, not just how many), `keep` is their conjunction. Pure
    // per-row narrow compute — no shuffle at all; mean word length is
    // fixed-point ((Σlen·10⁴) div n) so the gate needs no float
    // tolerance. Σ token length = length of the separator-free join,
    // which both engines compute identically.
    "tx19_rule_filter" -> { (s, d) =>
      ruleFlags(Tables.documents(s, d))
        .select(col("doc_id"), col("n_words"), col("mwl_fx"), col("alpha_words"),
          col("stop_hits"), col("wc_ok"), col("mwl_ok"), col("alpha_ok"),
          col("stop_ok"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // --- tx20: curation-yield funnel ----------------------------------
    // The pipeline-summary census curation decisions are made from:
    // per source, how many documents (and tokens) survive the tx19
    // rule battery, then exact dedup among the survivors (dd01's
    // normalized fingerprint, keeper = min doc_id), and the final
    // token yield. Rule flags come from the SAME helper tx19 gates
    // (they cannot drift); the dedup window partitions by the
    // fingerprint key; the two censuses join on the sources-sized
    // frame.
    //
    // Posture notes: tx20 chains the SHARED tx19 rule battery
    // ([[ruleFlags]]) and dd01's exact-dup keeper into one per-source
    // funnel — narrow rule compute, one fingerprint window partitioned by
    // the fingerprint key, two source-keyed aggregates joined on a
    // ~|sources| frame. ev33's duplicate-delivery census is one
    // hash-aggregate over the (unioned) delivery stream. pk07 shards by
    // content-stable hash64 mod N — the manifest is an N-row frame and
    // the only broadcast is the 1-row corpus total.
    "tx20_curation_yield" -> { (s, d) =>
      val flags = ruleFlags(Tables.documents(s, d))
        .withColumn("fp", Hashing.hash64(
          lower(regexp_replace(trim(col("text")), "\\s+", " "))))
        .select(col("doc_id"), col("source"), col("n_words"), col("keep"), col("fp"))
      val allCensus = flags.groupBy(col("source"))
        .agg(count(lit(1)).as("docs_in"),
          sum(col("n_words")).cast("long").as("tokens_in"))
      val wfp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val keptCensus = flags.filter(col("keep"))
        .withColumn("rn", row_number().over(wfp))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_rules"),
          sum(col("n_words")).cast("long").as("tokens_rules"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("long").as("docs_final"),
          sum(when(col("rn") === 1, col("n_words"))).cast("long").as("tokens_final"))
      allCensus.join(keptCensus, Seq("source"), "left")
        .na.fill(0L, Seq("docs_rules", "tokens_rules", "docs_final", "tokens_final"))
        .withColumn("yield_fx", expr("(tokens_final * 1000000) div tokens_in"))
        .select(col("source"), col("docs_in"), col("tokens_in"),
          col("docs_rules"), col("tokens_rules"),
          col("docs_final"), col("tokens_final"), col("yield_fx"))
        .orderBy(col("source"))
    },

    // --- tx21: Zipf rank-octave census --------------------------------
    // Natural corpora follow Zipf's law (freq ∝ 1/rank): the token
    // mass in each rank octave [2^k, 2^(k+1)) is then roughly
    // constant, and a synthetic or templated corpus shows up as a
    // decay curve that is anything but flat. Scale posture: tokens in
    // the same frequency class are interchangeable for octave
    // counting, so NO per-token rank is ever materialized — the vocab
    // (one hash aggregate over exploded tokens) folds again to
    // per-frequency class counts (a table bounded by the number of
    // DISTINCT frequencies, O(√corpus) under Zipf), a prefix sum over
    // that bounded table assigns each class its rank range
    // [off+1, off+cnt], and each class's range is intersected with
    // the ~log2|V| power-of-two octaves by pure interval arithmetic
    // (a ≤log2|V|-element sequence explode). The round-5 global
    // row_number this replaced funneled the whole vocabulary through
    // one task; this form's only unpartitioned window runs on the
    // distinct-frequency table. Output is bit-identical: octave
    // membership depends only on the rank RANGE, not the (freq desc,
    // tok) tie order inside a class.
    "tx21_zipf_octaves" -> { (s, d) =>
      val vocab = Tables.documents(s, d)
        .select(explode_outer(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val classes = vocab.groupBy(col("freq"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val ranged = classes
        .withColumn("endr",
          sum(col("cnt")).over(Window.orderBy(col("freq").desc)).cast("long"))
        .withColumn("startr", col("endr") - col("cnt") + 1L)
      val oct = ranged
        .select(col("freq"), col("startr"), col("endr"),
          explode(sequence(log2floor(col("startr")), log2floor(col("endr")))).as("octave"))
        .withColumn("lo", greatest(col("startr"), expr("shiftleft(cast(1 as bigint), octave)")))
        .withColumn("hi", least(col("endr"),
          expr("shiftleft(cast(1 as bigint), octave + 1) - 1")))
        .withColumn("n_in", col("hi") - col("lo") + 1L)
        .groupBy(col("octave"))
        .agg(sum(col("n_in")).cast("long").as("n_toks"),
          sum(col("n_in") * col("freq")).cast("long").as("mass"))
      val t = oct.agg(sum(col("mass")).cast("long").as("total"))
      oct.crossJoin(broadcast(t))
        .withColumn("prev_mass", lag(col("mass"), 1).over(Window.orderBy(col("octave"))))
        .withColumn("share_fx", expr(s"(mass * $Fx) div total"))
        .withColumn("decay_fx", expr(s"(mass * $Fx) div prev_mass"))
        .select(col("octave"), col("n_toks"), col("mass"),
          col("share_fx"), col("decay_fx"))
        .orderBy(col("octave"))
    },

    // --- tx22: character-diversity Gini census ------------------------
    // Gibberish and boilerplate both show up in CHARACTER diversity
    // before any tokenizer runs: repeated-template text concentrates
    // char mass (low diversity), keyboard-mash spreads it oddly. Gini
    // impurity 1 − Σp² is the log-free diversity measure — rational
    // in the counts, so per-doc scores are integer-exact fixed point
    // (an entropy would need libm log and cross-engine drift). Two
    // map-side-combinable levels: (doc, char) counts → per-doc score
    // → per-lang census; per-doc distinct chars are bounded (~100),
    // so nothing fans out.
    "tx22_char_gini" -> { (s, d) =>
      val per = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode_outer(split(col("text"), "")).as("ch"))
        .filter(col("ch").isNotNull && col("ch") =!= "")
        .groupBy(col("doc_id"), col("lang"), col("ch"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).cast("long").as("n"),
          sum(col("c") * col("c")).cast("long").as("ssq"))
        .withColumn("gini_fx", expr(s"((n*n - ssq) * $Fx) div (n*n)"))
      per.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("gini_fx")).cast("long").as("sum_g"),
          min(col("gini_fx")).as("min_gini_fx"),
          max(col("gini_fx")).as("max_gini_fx"))
        .withColumn("avg_gini_fx", expr("sum_g div n_docs"))
        .select(col("lang"), col("n_docs"), col("avg_gini_fx"),
          col("min_gini_fx"), col("max_gini_fx"))
        .orderBy(col("lang"))
    },

    // --- tx23: character-class quality profile ------------------------
    // OCR noise and markup residue show up as digit/punctuation mass
    // before any tokenizer runs: per source, the fixed-point shares
    // of letter / digit / whitespace / other characters. Class counts
    // are length deltas under regexp_replace (the corpus is ASCII —
    // verified — so char classes agree between engines), one narrow
    // projection per doc, one sources-sized census.
    "tx23_charclass_profile" -> { (s, d) =>
      def clsCount(c: String) =
        (length(col("text")) - length(regexp_replace(col("text"), c, ""))).cast("long")
      Tables.documents(s, d)
        .select(col("source"), length(col("text")).cast("long").as("n"),
          clsCount("[A-Za-z]").as("alpha"), clsCount("[0-9]").as("digit"),
          clsCount("\\s").as("space"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("long").as("n_chars"),
          sum(col("alpha")).cast("long").as("n_alpha"),
          sum(col("digit")).cast("long").as("n_digit"),
          sum(col("space")).cast("long").as("n_space"))
        .withColumn("alpha_fx", expr(s"(n_alpha * $Fx) div n_chars"))
        .withColumn("digit_fx", expr(s"(n_digit * $Fx) div n_chars"))
        .withColumn("space_fx", expr(s"(n_space * $Fx) div n_chars"))
        .withColumn("other_fx", expr(
          s"((n_chars - n_alpha - n_digit - n_space) * $Fx) div n_chars"))
        .select(col("source"), col("n_docs"), col("n_chars"),
          col("alpha_fx"), col("digit_fx"), col("space_fx"), col("other_fx"))
        .orderBy(col("source"))
    },

    // --- tx24: PII census --------------------------------------------
    // Corpus-release hygiene: count the redaction surface per source
    // (emails, dotted-quad IPs, long digit runs) and the share of
    // characters a scrub would replace. Pure per-row regex + one
    // map-side-combinable aggregate; patterns avoid engine-divergent
    // regex features (no backrefs, no lookaround) so Java and RE2
    // agree match-for-match.
    //
    // tx24 is pure per-row regex compute folded map-side
    "tx24_pii_census" -> { (s, d) =>
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      val digits = "[0-9]{6,}"
      def hits(p: String) = regexp_extract_all(col("text"), lit(p), lit(0))
      def chars(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0L), (acc, x) => acc + length(x).cast("long"))
      Tables.documents(s, d)
        .select(col("source"), col("text"),
          hits(email).as("em"), hits(ip).as("ips"), hits(digits).as("nums"))
        .withColumn("matched",
          chars(col("em")) + chars(col("ips")) + chars(col("nums")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(size(col("em")) > 0 || size(col("ips")) > 0 ||
            size(col("nums")) > 0, 1L).otherwise(0L)).cast("long").as("docs_with_pii"),
          sum(size(col("em"))).cast("long").as("email_hits"),
          sum(size(col("ips"))).cast("long").as("ip_hits"),
          sum(size(col("nums"))).cast("long").as("digit_hits"),
          sum(col("matched")).cast("long").as("matched_chars"),
          sum(length(col("text"))).cast("long").as("total_chars"))
        .withColumn("redact_share_fx",
          expr(s"(matched_chars * $Fx) div total_chars"))
        .select(col("source"), col("n_docs"), col("docs_with_pii"),
          col("email_hits"), col("ip_hits"), col("digit_hits"),
          col("redact_share_fx"))
        .orderBy(col("source"))
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
    },

    // --- tx26: top-2^k token coverage curve ----------------------------
    // Tokenizer vocabulary sizing reads one curve: what share of the
    // corpus token mass do the top 2^k types cover. Same scale
    // posture as tx21: tokens in a frequency class are
    // interchangeable, so the per-class rank RANGES (prefix sum over
    // the bounded distinct-frequency table) are intersected with each
    // [1, 2^k] prefix by interval arithmetic — no per-token rank, no
    // vocab-sized window, a ≤log2|V|-element sequence explode per
    // class. Ties inside a class cannot move the answer: any 2^k
    // boundary cuts a class into interchangeable (equal-freq) tokens.
    //
    // tx26 never ranks tokens — it intersects the bounded distinct-
    // frequency rank ranges with the 2^k boundaries, so the only
    // unpartitioned window runs on the class table
    "tx26_topk_coverage" -> { (s, d) =>
      val vocab = Tables.documents(s, d)
        .select(explode_outer(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val classes = vocab.groupBy(col("freq"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val ranged = classes
        .withColumn("endr", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("freq").desc))
          .cast("long"))
        .withColumn("startr", col("endr") - col("cnt") + 1L)
      val tot = ranged.agg(
        max(col("endr")).as("v_size"),
        sum(col("cnt") * col("freq")).cast("long").as("total_mass"))
      // per class × k: mass of the class's tokens whose rank <= 2^k
      val kmax = (length(bin(col("v_size"))) - 1).cast("int")
      val curve = ranged.crossJoin(broadcast(tot))
        .select(col("freq"), col("cnt"), col("startr"), col("endr"),
          col("v_size"), col("total_mass"),
          explode(sequence(lit(0), kmax)).as("k"))
        .withColumn("cap", expr("shiftleft(cast(1 as bigint), k)"))
        .withColumn("n_in",
          greatest(least(col("endr"), col("cap")) - col("startr") + 1L, lit(0L)))
        .groupBy(col("k"), col("v_size"), col("total_mass"))
        .agg(sum(col("n_in")).cast("long").as("n_top"),
          sum(col("n_in") * col("freq")).cast("long").as("mass_top"))
      curve
        .withColumn("coverage_fx", expr(s"(mass_top * $Fx) div total_mass"))
        .select(col("k"), col("n_top"), col("mass_top"), col("coverage_fx"))
        .orderBy(col("k"))
    },

    // --- tx27: does dedup remove the good copies? ---------------------
    // Dedup policy audit: quality (tx02's score) censused by
    // duplicate role — keeper (min doc_id per dd01 fingerprint
    // group), removed copy, or singleton. If removed copies scored
    // systematically higher than keepers, the min-id keeper rule
    // (dd01/dd10) would be discarding the better text and should be
    // replaced by a quality-keeper policy; this measures that
    // directly. Quality comes from the SHARED tx02 operator so the
    // definitions cannot drift.
    //
    // Posture notes: tx27's group stats are windows partitioned by the
    // high-cardinality fingerprint
    "tx27_dup_quality" -> { (s, d) =>
      val scored = TextAnalysis.queries("tx02_quality_score")(s, d)
        .withColumn("q4", floor(col("quality") * 10000).cast("long"))
        .select(col("doc_id"), col("q4"))
      val fps = Tables.documents(s, d).select(col("doc_id"),
        Hashing.hash64(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
          .as("fp"))
      val wf = Window.partitionBy(col("fp"))
      scored.join(fps, Seq("doc_id"))
        .withColumn("n_copies", count(lit(1)).over(wf))
        .withColumn("keeper", min(col("doc_id")).over(wf))
        .withColumn("role",
          when(col("n_copies") === 1, "singleton")
            .when(col("doc_id") === col("keeper"), "dup_keeper")
            .otherwise("dup_removed"))
        .groupBy(col("role"))
        .agg(count(lit(1)).as("n_docs"),
          Det.trunc4(sum(col("q4")).cast("double") /
            (count(lit(1)) * lit(10000.0))).as("avg_q4"),
          min(col("q4")).as("min_q4"), max(col("q4")).as("max_q4"))
        .orderBy(col("role"))
    },

    // --- tx28: boilerplate prefix/suffix census ------------------------
    // Scraped corpora repeat page chrome: many docs share the same
    // opening or closing token run even when bodies differ (exact
    // dedup misses them). Per source: docs, distinct 8-token prefix
    // and suffix fingerprints, the largest prefix clone group, and
    // the share of docs whose prefix is shared by >= 5 docs — the
    // strip-list trigger. Two hash aggregates on the prefix
    // fingerprint; group tables bounded by distinct prefixes.
    "tx28_boilerplate" -> { (s, d) =>
      val toks = tokens(col("text"))
      val docs = Tables.documents(s, d)
        .select(col("source"),
          Hashing.hash64(array_join(slice(toks, 1, 8), " ")).as("pfx"),
          Hashing.hash64(array_join(
            slice(toks, greatest(lit(1), size(toks) - lit(7)), lit(8)), " ")).as("sfx"))
      val pfxGroups = docs.groupBy(col("source"), col("pfx"))
        .agg(count(lit(1)).as("n"))
      pfxGroups.groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_prefixes"),
          max(col("n")).cast("long").as("max_clone_group"),
          sum(when(col("n") >= 5, col("n")).otherwise(0L))
            .cast("long").as("boiler_docs"))
        .join(docs.groupBy(col("source"))
          .agg(countDistinct(col("sfx")).cast("long").as("n_suffixes")), Seq("source"))
        .withColumn("boiler_share_fx", expr(s"(boiler_docs * $Fx) div n_docs"))
        .select(col("source"), col("n_docs"), col("n_prefixes"), col("n_suffixes"),
          col("max_clone_group"), col("boiler_docs"), col("boiler_share_fx"))
        .orderBy(col("source"))
    },

    // --- tx29: web-artifact density census -----------------------------
    // Scraped text drags URLs, emails and markup soup into the
    // corpus; C4-style pipelines threshold on their density. Per
    // source: docs, artifact instance counts, docs over the 1%%
    // markup-density line, and the artifact-free share — the
    // measurement BEHIND tx19's rule filter, so the thresholds are
    // set from data. One narrow scan, regex counts, one aggregate.
    //
    // Posture notes: tx29 is regex counting in one narrow scan + one
    // aggregate
    "tx29_artifact_census" -> { (s, d) =>
      val base = Tables.documents(s, d).select(col("source"),
        regexp_count(col("text"), lit(UrlPat)).cast("long").as("n_urls"),
        regexp_count(col("text"), lit(EmailPat)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(MarkupPat)).cast("long").as("n_markup"),
        length(col("text")).cast("long").as("n_chars"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_urls")).cast("long").as("url_instances"),
          sum(col("n_emails")).cast("long").as("email_instances"),
          sum(col("n_markup")).cast("long").as("markup_instances"),
          sum(when(col("n_markup") * 100L > col("n_chars"), 1L).otherwise(0L))
            .cast("long").as("docs_markup_heavy"),
          sum(when(col("n_urls") + col("n_emails") + col("n_markup") === 0L, 1L)
            .otherwise(0L)).cast("long").as("docs_clean"))
        .withColumn("clean_share_fx", expr(s"(docs_clean * $Fx) div n_docs"))
        .orderBy(col("source"))
    },

    // --- tx30: sentence-shape census ------------------------------------
    // Gopher's sentence rules read the sentence-length distribution;
    // this measures it: per lang, docs, sentences, mean tokens per
    // sentence, and the share of docs whose mean sentence length
    // falls outside the [3, 80]-token sanity band (ultra-choppy
    // listicles and unpunctuated walls both fail it). Sentences =
    // non-empty [.!?]-terminated spans; token counts reuse the
    // shared whitespace tokenization.
    //
    // Posture notes: tx30 is one narrow scan (regex split, per-row
    // arithmetic) + one aggregate
    "tx30_sentence_stats" -> { (s, d) =>
      val sentences = filter(split(col("text"), "[.!?]+"), x => trim(x) =!= "")
      val base = Tables.documents(s, d)
        .select(col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
          coalesce(size(sentences), lit(0)).cast("long").as("n_sents"))
        .filter(col("n_sents") > 0)
        // mean sentence tokens per doc in fixed point — integer
        // division matches on both engines
        .withColumn("mean_sent_fx", expr(s"(n_tokens * $Fx) div n_sents"))
      base.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_sents")).cast("long").as("n_sentences"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          sum(when(col("mean_sent_fx") < 3L * Fx ||
            col("mean_sent_fx") > 80L * Fx, 1L).otherwise(0L))
            .cast("long").as("docs_outside_band"))
        .withColumn("mean_sent_tokens_fx", expr(s"(n_tokens * $Fx) div n_sentences"))
        .withColumn("outside_share_fx", expr(s"(docs_outside_band * $Fx) div n_docs"))
        .orderBy(col("lang"))
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

    // --- tx32: hapax legomena census -------------------------------------
    // The corpus-quality number type counts hide: per language, the
    // vocabulary, its hapax types (frequency exactly 1), the hapax
    // share of the vocabulary and of the token MASS. A high hapax
    // mass share means the long tail is noise (OCR junk, ids); a low
    // one means the corpus repeats itself — both read against tx18's
    // growth curve.
    "tx32_hapax_census" -> { (s, d) =>
      val freq = Tables.documents(s, d)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("freq"))
      freq.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("vocab"),
          sum(when(col("freq") === 1L, 1L).otherwise(0L)).cast("long").as("hapax"),
          sum(col("freq")).cast("long").as("mass"))
        .withColumn("hapax_type_fx", expr(s"(hapax * $Fx) div vocab"))
        .withColumn("hapax_mass_fx", expr(s"(hapax * $Fx) div mass"))
        .select(col("lang"), col("vocab"), col("hapax"), col("mass"),
          col("hapax_type_fx"), col("hapax_mass_fx"))
        .orderBy(col("lang"))
    },

    // --- tx33: length × quality joint census -----------------------------
    // Filtering on quality alone silently filters on LENGTH when the
    // two correlate — the bias every curation pipeline must check.
    // Exact quartiles of token length × exact quartiles of quality
    // (tx02's score), censused as the 16-cell joint matrix with each
    // cell's share against the independent 1/16 — the off-diagonal
    // depletion IS the correlation.
    "tx33_len_quality_joint" -> { (s, d) =>
      val scored = TextAnalysis.queries("tx02_quality_score")(s, d)
        .withColumn("q4", floor(col("quality") * 10000).cast("long"))
      val lenQ = Rank.ntileExact(
        scored.select(col("doc_id"), col("n_tokens")), 4, "len_q",
        col("n_tokens"), Seq(col("doc_id")))
        .select(col("doc_id"), col("len_q"))
      val qualQ = Rank.ntileExact(
        scored.select(col("doc_id"), col("q4")), 4, "qual_q",
        col("q4"), Seq(col("doc_id")))
        .select(col("doc_id"), col("qual_q"))
      val cells = lenQ.join(qualQ, Seq("doc_id"))
        .groupBy(col("len_q").cast("int").as("len_q"),
          col("qual_q").cast("int").as("qual_q"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val total = cells.agg(sum(col("n_docs")).cast("long").as("n"))
      cells.crossJoin(broadcast(total))
        .withColumn("share_fx", expr(s"(n_docs * 16 * $Fx) div n"))
        .select(col("len_q"), col("qual_q"), col("n_docs"), col("share_fx"))
        .orderBy(col("len_q"), col("qual_q"))
    },

    // --- tx34: code-switching census -------------------------------------
    // tx15 evaluates the lang-ID classifier; this censuses the docs
    // no single-label classifier can be right about: per labeled
    // language, docs where markers of ≥ 2 languages are present
    // (≥ 2 hits each) — the code-switching mass that should route to
    // a multilingual pipeline instead of failing lang-ID QA. Also
    // reports mean marker languages per doc in fixed point.
    //
    // Posture note: one narrow scan scoring the four marker sets
    // (tx03's shared lists) per doc, folded per label — no joins, no
    // windows.
    "tx34_code_switching" -> { (s, d) =>
      val df = Tables.documents(s, d)
        .withColumn("toks", TextAnalysis.tokens(col("text")))
      val scored = TextAnalysis.LangMarkers.foldLeft(df) {
        case (acc, (lang, markers)) =>
          acc.withColumn(s"p_$lang",
            when(size(filter(col("toks"), t => t.isInCollection(markers)))
              >= PresentMin, 1L).otherwise(0L))
      }
      val present = TextAnalysis.LangMarkers
        .map { case (l, _) => col(s"p_$l") }
        .reduce(_ + _)
      scored.withColumn("n_present", present)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("n_present") >= 2L, 1L).otherwise(0L)).cast("long")
            .as("n_mixed"),
          sum(col("n_present")).cast("long").as("present_mass"))
        .withColumn("mixed_fx", expr(s"(n_mixed * $Fx) div n_docs"))
        .withColumn("mean_present_fx", expr(s"(present_mass * $Fx) div n_docs"))
        .select(col("lang"), col("n_docs"), col("n_mixed"),
          col("mixed_fx"), col("mean_present_fx"))
        .orderBy(col("lang"))
    },

    // --- tx35: stopword quality profile ----------------------------------
    // The cheapest language-quality signal there is: natural prose
    // carries a stable mass of closed-class words; templated or
    // synthetic text does not. Per source: token mass, stopword
    // share, and coverage of the 20-word set — one explode + two
    // bounded aggregates.
    //
    // tx35 is one explode + groupBy with a literal stopword set.
    "tx35_stopword_profile" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .withColumn("lt", lower(col("tok")))
        .withColumn("is_stop", col("lt").isin(ProfileStopwords: _*))
      toks.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(when(col("is_stop"), 1L).otherwise(0L)).cast("long")
            .as("n_stop_tokens"),
          countDistinct(when(col("is_stop"), col("lt"))).cast("long")
            .as("n_stop_distinct"))
        .withColumn("stop_share_fx", expr(s"(n_stop_tokens * $Fx) div n_tokens"))
        .withColumn("coverage_fx",
          expr(s"(n_stop_distinct * $Fx) div ${ProfileStopwords.size}"))
        .select(col("source"), col("n_tokens"), col("n_stop_tokens"),
          col("n_stop_distinct"), col("stop_share_fx"), col("coverage_fx"))
        .orderBy(col("source"))
    },

    // --- tx36: sequence-length quantiles per language ---------------------
    // The context-length budget is set per corpus slice, not
    // globally: per labeled language, exact p50/p90/p99/max token
    // counts (integer rank picks — Rank.exactQuantilesByKey, the
    // percentile_approx replacement) — which languages blow the
    // budget and which waste padding. One narrow scan.
    //
    // tx36 is one narrow scan through [[Rank.exactQuantilesByKey]]
    // (group-partitioned windows, exact integer rank picks).
    "tx36_len_quantiles_by_lang" -> { (s, d) =>
      val lens = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_toks"))
        .filter(col("n_toks") > 0)
      Rank.exactQuantilesByKey(lens, "lang", col("n_toks"),
          col("doc_id"), LenPercentiles, p => s"p${p}_toks", "max_toks")
        .withColumnRenamed("n_rows", "n_docs")
        .orderBy(col("lang"))
    },

    // --- tx37: snapshot token-distribution drift --------------------------
    // Census: per token, occurrence counts in v1 and v2 (one shuffle).
    // Metrics: total-variation distance between the two unigram
    // distributions (fixed-point 1e9 per-token probabilities — the
    // same integer ops on both engines, so parity holds by
    // construction), new/lost vocab and MASS (the retrain signal:
    // how much of v2's token volume is content v1 never saw), and
    // top-50 churn (how many of v1's head tokens left v2's head).
    //
    // Posture note: dd41 links the two corpus versions doc-by-doc; tx37
    // asks the aggregate question a retrain decision needs — how much
    // did the TOKEN DISTRIBUTION move? One token-tagged union + ONE
    // groupBy(token) produces both versions' counts (no join of two
    // censuses), drift metrics fold over that census in fixed point,
    // and the top-50 churn rides TakeOrdered limits (never a global
    // row_number sort). Everything after the census is vocab-sized.
    "tx37_snapshot_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      def toks(v: DataFrame, tag: Int): DataFrame = v
        .select(explode(tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
        .withColumn("v", lit(tag))
      val census = toks(Dedup.snapshotV1(docs), 1)
        .unionByName(toks(Dedup.snapshotV2(docs), 2))
        .groupBy(col("token"))
        .agg(sum(when(col("v") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("v") === 2, 1L).otherwise(0L)).as("c2"))
      val c = Dedup.barrier(census)

      val totals = c.agg(
        sum(col("c1")).cast("long").as("s1"),
        sum(col("c2")).cast("long").as("s2"))
      val withP = c.crossJoin(broadcast(totals))
        .withColumn("p1", expr(s"(c1 * $PFx) div s1"))
        .withColumn("p2", expr(s"(c2 * $PFx) div s2"))
      val drift = withP.agg(
        count(lit(1)).cast("long").as("vocab_union"),
        sum(when(col("c1") > 0, 1L).otherwise(0L)).cast("long").as("vocab_v1"),
        sum(when(col("c2") > 0, 1L).otherwise(0L)).cast("long").as("vocab_v2"),
        sum(when(col("c1") === 0, 1L).otherwise(0L)).cast("long").as("vocab_new"),
        sum(when(col("c2") === 0, 1L).otherwise(0L)).cast("long").as("vocab_lost"),
        sum(abs(col("p1") - col("p2"))).cast("long").as("_l1"),
        sum(when(col("c1") === 0, col("c2")).otherwise(0L)).cast("long").as("_new_mass"),
        sum(when(col("c2") === 0, col("c1")).otherwise(0L)).cast("long").as("_lost_mass"))

      def top(side: Column): DataFrame = c.filter(side > 0)
        .orderBy(side.desc, col("token"))
        .limit(TopK).select(col("token"))
      val churn = top(col("c1")).join(top(col("c2")), Seq("token"), "left_anti")
        .agg(count(lit(1)).cast("long").as("topk_churn"))

      drift.crossJoin(broadcast(totals)).crossJoin(broadcast(churn))
        .withColumn("tvd_fx", expr("_l1 div 2"))
        .withColumn("new_mass_fx", expr(s"(_new_mass * $PFx) div s2"))
        .withColumn("lost_mass_fx", expr(s"(_lost_mass * $PFx) div s1"))
        .select(col("s1"), col("s2"), col("vocab_union"), col("vocab_v1"),
          col("vocab_v2"), col("vocab_new"), col("vocab_lost"),
          col("tvd_fx"), col("new_mass_fx"), col("lost_mass_fx"),
          col("topk_churn"))
    },

    // --- tx38: octave-quantized conditional surprisal -----------------
    // Per adjacent token pair, surprisal ≈ -log2 P(w2|w1) with
    // P(w2|w1) = c(w1 w2)/c(w1·) over corpus bigram counts. Both logs
    // are floor-log2 of INTEGER counts (bit length − 1), so the score
    // is integer-exact on both engines — no libm. Shuffle shape is
    // tx13's: one fact-sized bigram aggregate, a vocab-sized first-
    // word rollup, then one rejoin keyed on the bigram.
    "tx38_surprisal_filter" -> { (s, d) =>
      val bg = Dedup.barrier(adjacentPairs(Tables.documents(s, d), Seq(col("doc_id")), "p")(
          (w1, w2) => struct(w1.as("w1"), concat_ws(" ", w1, w2).as("bigram")))
        .select(col("doc_id"), col("p.w1"), col("p.bigram")))
      val c2 = bg.groupBy(col("w1"), col("bigram"))
        .agg(count(lit(1)).cast("long").as("c2"))
      // c1 folds from the (w1, bigram) table — vocab-sized, never a
      // second pass over the fact bigrams
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).cast("long").as("c1"))
      // floor-log2(n) = length(bin(n)) − 1 for n ≥ 1; the −1s cancel
      val freq = c2.join(c1, Seq("w1"))
        .select(col("bigram"),
          (length(bin(col("c1"))) - length(bin(col("c2")))).cast("long").as("oct"))
      bg.join(freq, Seq("bigram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          sum(col("oct")).cast("long").as("sum_oct"))
        .withColumn("mean_oct_fx", expr(s"(sum_oct * $Fx4) div n_bigrams"))
        .withColumn("band",
          when(col("mean_oct_fx") < lit(2 * Fx4), lit("predictable"))
            .when(col("mean_oct_fx") < lit(5 * Fx4), lit("typical"))
            .otherwise(lit("surprising")))
        .select(col("doc_id"), col("n_bigrams"), col("sum_oct"),
          col("mean_oct_fx"), col("band"))
        .orderBy(col("doc_id"))
    },

    // --- tx39: token burstiness census --------------------------------
    // Church–Gale burstiness: tf/df — how many times a token repeats
    // per document that contains it. Content words are bursty
    // (tf/df ≫ 1), function words are not; a templated corpus shows
    // inflated burstiness in mid-frequency octaves. Vocab-sized
    // state: ONE fact aggregate to (token, tf, df), then an
    // octave-of-tf census — integer fixed-point throughout.
    "tx39_burstiness" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(tokens(col("text"))).as("tok"))
      val stats = tok.groupBy(col("tok"))
        .agg(count(lit(1)).cast("long").as("tf"),
          countDistinct(col("doc_id")).cast("long").as("df"))
        .withColumn("burst_fx", expr(s"(tf * $Fx4) div df"))
      stats
        .withColumn("octave", (length(bin(col("tf"))) - 1).cast("long"))
        .groupBy(col("octave"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          expr(s"sum(burst_fx) div count(1)").cast("long")
            .as("mean_burst_fx"),
          max(col("burst_fx")).cast("long").as("max_burst_fx"),
          sum(when(col("burst_fx") >= 2 * Fx4, 1L).otherwise(0L)).cast("long")
            .as("n_bursty"))
        .orderBy(col("octave"))
    },

    // --- tx40: PMI collocations ----------------------------------------
    // Octave-quantized pointwise mutual information over adjacent word
    // pairs: pmi_oct = ⌊log2(c12·N)⌋ − ⌊log2(c1·c2)⌋ via integer bit
    // lengths — exact on both engines, no libm. c1/c2 are positional
    // (first/second-slot) marginals folded from the SAME bigram
    // aggregate, never a second fact pass. Top-50 selection is
    // orderBy+limit (TakeOrdered — no global sort materializes), rank
    // assigned over the 50-row result.
    "tx40_pmi_collocations" -> { (s, d) =>
      val counts = Dedup.barrier(adjacentPairs(Tables.documents(s, d), Nil, "b")(
          (w1, w2) => struct(w1.as("w1"), w2.as("w2")))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).cast("long").as("c12")))
      val n = counts.agg(sum(col("c12")).cast("long").as("n_total"))
      val c1 = counts.groupBy(col("w1"))
        .agg(sum(col("c12")).cast("long").as("c1"))
      val c2 = counts.groupBy(col("w2"))
        .agg(sum(col("c12")).cast("long").as("c2"))
      val top = counts.filter(col("c12") >= MinPairCount)
        .join(c1, Seq("w1")).join(c2, Seq("w2"))
        .crossJoin(broadcast(n))
        .withColumn("pmi_oct",
          ((length(bin(col("c12") * col("n_total"))) - 1)
            - (length(bin(col("c1") * col("c2"))) - 1)).cast("long"))
        .orderBy(col("pmi_oct").desc, col("c12").desc, col("w1"), col("w2"))
        .limit(TopK)
      top.withColumn("rank", row_number().over(Window.orderBy(
          col("pmi_oct").desc, col("c12").desc, col("w1"), col("w2")))
          .cast("long"))
        .select(col("rank"), col("w1"), col("w2"), col("c12"), col("c1"),
          col("c2"), col("pmi_oct"))
        .orderBy(col("rank"))
    },

    // --- tx41: conditional entropy rate per language --------------------
    // tx38 filters DOCS by surprisal; tx41 censuses the CORPUS:
    // per-language entropy rate ≈ Σ c12·(⌊log2 c1⌋ − ⌊log2 c12⌋) / N
    // in integer bit lengths — the redundancy signal that separates
    // natural prose (low rate, heavy reuse) from shuffled/templated
    // text. Vocab²-bounded state: one bigram aggregate + its
    // first-word marginal fold.
    "tx41_entropy_rate" -> { (s, d) =>
      val bg = Dedup.barrier(adjacentPairs(Tables.documents(s, d), Seq(col("lang")), "b")(
          (w1, w2) => struct(w1.as("w1"), w2.as("w2")))
        .groupBy(col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).cast("long").as("c12")))
      val m1 = bg.groupBy(col("lang"), col("w1"))
        .agg(sum(col("c12")).cast("long").as("c1"))
      bg.join(m1, Seq("lang", "w1"))
        .withColumn("s_oct", ((length(bin(col("c1"))) - 1)
          - (length(bin(col("c12"))) - 1)).cast("long"))
        .groupBy(col("lang"))
        .agg(sum(col("c12")).cast("long").as("n_bigrams"),
          count(lit(1)).cast("long").as("n_distinct_bigrams"),
          expr(s"sum(c12 * s_oct) * $Fx4 div sum(c12)").cast("long")
            .as("entropy_rate_fx"),
          expr(s"sum(if(s_oct = 0, c12, 0)) * $Fx4 div sum(c12)").cast("long")
            .as("deterministic_share_fx"))
        .orderBy(col("lang"))
    },

    // --- tx42: adaptive stopword derivation -------------------------------
    //
    // tx42 derives stopwords FROM the corpus (tokens present in ≥ half a
    // language's docs) instead of trusting a fixed English list (tx35) —
    // the language-agnostic curation move. Vocab-sized state; the census
    // reports how much token mass the adaptive list absorbs per language.
    "tx42_adaptive_stopwords" -> { (s, d) =>
      val tok = Dedup.barrier(Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= ""))
      val docsPerLang = tok.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"))
      val dfTbl = tok.select(col("lang"), col("doc_id"),
          lower(col("tok")).as("lt")).distinct()
        .groupBy(col("lang"), col("lt"))
        .agg(count(lit(1)).cast("long").as("df"))
        .join(docsPerLang, Seq("lang"))
        .withColumn("is_stop", col("df") * 2 >= col("n_docs"))
      val mass = tok.select(col("lang"), lower(col("tok")).as("lt"))
        .groupBy(col("lang"), col("lt"))
        .agg(count(lit(1)).cast("long").as("tf"))
        .join(dfTbl.select(col("lang"), col("lt"), col("is_stop")),
          Seq("lang", "lt"))
      mass.groupBy(col("lang"))
        .agg(sum(when(col("is_stop"), 1L).otherwise(0L)).cast("long")
            .as("n_stopwords"),
          count(lit(1)).cast("long").as("vocab"),
          sum(col("tf")).cast("long").as("n_tokens"),
          sum(when(col("is_stop"), col("tf")).otherwise(0L)).cast("long")
            .as("stop_mass"),
          expr("min_by(lt, struct(-tf, lt))").as("top_token"))
        .withColumn("stop_mass_fx", expr(s"stop_mass * $Fx4 div n_tokens"))
        .select(col("lang"), col("n_stopwords"), col("vocab"),
          col("n_tokens"), col("stop_mass"), col("stop_mass_fx"),
          col("top_token"))
        .orderBy(col("lang"))
    }
  )

  private val duckToks = """string_split_regex(trim(text), '\s+')"""

  private[operators] val duckStop =
    s"""len(list_filter($duckToks, t -> t IN ('the','a','of','and','to','in','is')))"""

  /** tx02's quality formula over (n_tokens, stop_ratio, punct_ratio)
    * columns — the ONE definition spliced into every oracle that
    * scores quality (tx02, pk10), so a tweak here can never drift the
    * two silently.
    */
  private[operators] val duckQuality: String =
    """floor((0.5 * least(1.0, n_tokens / 100.0)
      |     + 0.3 * (1.0 - stop_ratio)
      |     + 0.2 * (1.0 - least(1.0, punct_ratio * 10.0))) * 10000) / 10000""".stripMargin

  /** tx02's oracle SQL; tx33 replays it. */
  private val qualityScoreSql =
    s"""SELECT doc_id, n_tokens,
       | $duckQuality AS quality
       |FROM (
       |  SELECT doc_id, len($duckToks) AS n_tokens,
       |    CAST($duckStop AS DOUBLE) / len($duckToks) AS stop_ratio,
       |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) AS punct_ratio
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "tx01_token_count" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         | CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         | floor((CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*)) * 10000) / 10000 AS avg_tokens
         |FROM (SELECT lang, len($duckToks) AS n_tokens FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "tx02_quality_score" -> qualityScoreSql,

    "tx03_lang_id" ->
      s"""SELECT lang, guessed, COUNT(*) AS n_docs FROM (
         |  $duckGuessSql)
         |GROUP BY lang, guessed ORDER BY lang, guessed""".stripMargin,

    "tx04_fingerprint" ->
      s"""SELECT doc_id,
         | ${Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "tx05_edit_distance" ->
      s"""WITH vocab AS (
         |  SELECT DISTINCT unnest($duckToks) AS tok FROM documents)
         |SELECT a.tok AS tok_a, b.tok AS tok_b,
         |  levenshtein(a.tok, b.tok) AS dist
         |FROM vocab a, vocab b
         |WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 2
         |ORDER BY tok_a, tok_b""".stripMargin,

    "tx06_collect_tokens" ->
      s"""WITH tf AS (
         |  SELECT lang, tok, COUNT(*) AS freq
         |  FROM (SELECT lang, unnest($duckToks) AS tok FROM documents)
         |  GROUP BY lang, tok),
         |rk AS (
         |  SELECT lang, tok,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, tok) AS rk,
         |    COUNT(*) OVER (PARTITION BY lang) AS vsize
         |  FROM tf)
         |SELECT lang, array_to_string(list(tok ORDER BY rk), ' ') AS vocab,
         |  MAX(vsize) AS vocab_size
         |FROM rk WHERE rk <= 50
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "tx07_bpe_tokens" ->
      s"""SELECT source, COUNT(*) AS n_docs,
         | CAST(SUM(n_toks) AS BIGINT) AS total_bpe_tokens,
         | floor((CAST(SUM(n_toks) AS DOUBLE) / COUNT(*)) * 10000) / 10000 AS avg_bpe_tokens
         |FROM (SELECT source,
         |        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_toks
         |      FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin,

    "tx08_winnowing" ->
      s"""SELECT doc_id, len(mins) AS n_fps, list_min(mins) AS min_fp FROM (
         |  SELECT doc_id, list_distinct(list_transform(range(len(gh) - 3),
         |    w -> list_min(gh[w+1:w+4]))) AS mins
         |  FROM (
         |    SELECT doc_id, list_transform(range(len(cps) - 7),
         |      i -> ${Hashing.duckKr8("cps", "i")}) AS gh
         |    FROM (
         |      SELECT doc_id, list_transform(range(length(text)),
         |        j -> CAST(ascii(substr(text, j + 1, 1)) AS BIGINT)) AS cps
         |      FROM documents WHERE length(text) >= 11)))
         |ORDER BY doc_id""".stripMargin,

    "tx09_repetition" ->
      s"""SELECT doc_id, n_tokens,
         | floor((top_c / n_tokens) * 10000) / 10000 AS top_token_frac,
         | dup_bigram_frac
         |FROM (
         |  SELECT doc_id, n_tokens, dup_bigram_frac, MAX(c) AS top_c FROM (
         |    SELECT doc_id, n_tokens, dup_bigram_frac, tok, COUNT(*) AS c FROM (
         |      SELECT doc_id, n_tokens,
         |        floor((1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)) * 10000) / 10000 AS dup_bigram_frac,
         |        unnest(toks) AS tok
         |      FROM (
         |        SELECT doc_id, toks, len(toks) AS n_tokens,
         |          list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2]) AS bigrams
         |        FROM (SELECT doc_id, ${Dedup.duckToks} AS toks FROM documents)
         |        WHERE len(toks) >= 8))
         |    GROUP BY doc_id, n_tokens, dup_bigram_frac, tok)
         |  GROUP BY doc_id, n_tokens, dup_bigram_frac)
         |ORDER BY doc_id""".stripMargin,

    "tx10_regex_scrub" ->
      s"""SELECT source, COUNT(*) AS n_docs,
         | CAST(SUM(CASE WHEN n_red > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_redacted,
         | CAST(SUM(n_red) AS BIGINT) AS n_redactions,
         | bit_xor(red_fp) AS fp_xor
         |FROM (
         |  SELECT source,
         |    len(regexp_extract_all(text, '$ScrubPattern')) AS n_red,
         |    ${Hashing.duckHash64(s"regexp_replace(text, '$ScrubPattern', '<X>', 'g')")} AS red_fp
         |  FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin,

    "tx11_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, tok,
         |    floor((tf * (n - df + 0.5) / (df + 0.5)) * 10000) / 10000 AS score
         |  FROM tf JOIN df USING (tok), n)
         |SELECT doc_id, rank, tok, score FROM (
         |  SELECT doc_id, tok, score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
         |  FROM scored) WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "tx12_unigram_lm" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${Dedup.duckToks}) AS token FROM documents),
         |freq AS (SELECT token, COUNT(*) AS tok_freq FROM tok GROUP BY token)
         |SELECT doc_id, COUNT(*) AS n_toks,
         |  ${Det.duckTrunc("CAST(SUM(tok_freq) AS DOUBLE) / COUNT(*)", 4)} AS avg_tok_freq
         |FROM tok JOIN freq USING (token)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "tx13_bigram_lm" ->
      s"""WITH base AS (
         |  SELECT doc_id, ${Dedup.duckToks} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
         |  FROM base WHERE len(toks) >= 2),
         |freq AS (SELECT bigram, COUNT(*) AS bg_freq FROM bg GROUP BY bigram)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ${Det.duckTrunc("CAST(SUM(bg_freq) AS DOUBLE) / COUNT(*)", 4)} AS avg_bg_freq
         |FROM bg JOIN freq USING (bigram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "tx14_ttr_diversity" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS n_types,
         |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types,
         |  ${Det.duckTrunc("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr,
         |  ${Det.duckTrunc("CAST(n_hapax AS DOUBLE) / n_types", 4)} AS hapax_frac
         |FROM agg ORDER BY doc_id""".stripMargin,

    "tx15_langid_eval" ->
      s"""WITH g AS (
         |  ${TextAnalysis.duckGuessSql}),
         |gold AS (
         |  SELECT lang, COUNT(*) AS n_gold,
         |    CAST(SUM(CASE WHEN guessed = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM g GROUP BY lang),
         |pred AS (
         |  SELECT guessed AS lang, COUNT(*) AS n_pred FROM g GROUP BY guessed)
         |SELECT gold.lang, n_gold, COALESCE(n_pred, 0) AS n_pred, n_correct,
         |  CASE WHEN COALESCE(n_pred, 0) > 0
         |    THEN ${Det.duckTrunc("CAST(n_correct AS DOUBLE) / n_pred", 4)} END AS precision,
         |  ${Det.duckTrunc("CAST(n_correct AS DOUBLE) / n_gold", 4)} AS recall
         |FROM gold LEFT JOIN pred ON gold.lang = pred.lang
         |ORDER BY gold.lang""".stripMargin,

    "tx16_gram_dup_rate" -> {
      val g13 = graft.functions.Hashing.duckHash64("array_to_string(toks[i+1:i+13], ' ')")
      s"""WITH grams AS (
         |  SELECT doc_id, source,
         |    unnest(list_distinct(list_transform(range(len(toks) - 12), i -> $g13))) AS g
         |  FROM (SELECT doc_id, source, ${Dedup.duckToks} AS toks FROM documents)
         |  WHERE len(toks) >= 13),
         |df AS (SELECT g, COUNT(*) AS dfc FROM grams GROUP BY g),
         |perdoc AS (
         |  SELECT doc_id, source, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM grams JOIN df USING (g) GROUP BY doc_id, source),
         |scored AS (
         |  SELECT source,
         |    CAST(floor(CAST(n_dup AS DOUBLE) / n_grams * 10000) AS BIGINT) AS dup_i4
         |  FROM perdoc)
         |SELECT source, COUNT(*) AS n_docs,
         |  ${Det.duckTrunc("CAST(SUM(dup_i4) AS DOUBLE) / (COUNT(*) * 10000.0)", 4)} AS avg_dup_frac,
         |  CAST(SUM(CASE WHEN dup_i4 >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dupy_docs
         |FROM scored GROUP BY source ORDER BY source""".stripMargin
    },

    "tx17_mix_plan" ->
      s"""WITH ls AS (
         |  SELECT lang, source, CAST(SUM(len(${Dedup.duckToks})) AS BIGINT) AS tok_ls
         |  FROM documents GROUP BY lang, source),
         |l AS (
         |  SELECT lang, CAST(SUM(tok_ls) AS BIGINT) AS tok_l,
         |    CAST(floor(sqrt(CAST(SUM(tok_ls) AS DOUBLE)) * ${Similarity.MixFx}) AS BIGINT) AS sqfx
         |  FROM ls GROUP BY lang),
         |t AS (SELECT CAST(SUM(sqfx) AS BIGINT) AS totfx FROM l),
         |a AS (
         |  SELECT lang, tok_l, sqfx, totfx,
         |    ($MixBudget * sqfx) // totfx AS alloc_l
         |  FROM l, t)
         |SELECT ls.lang, source, tok_ls AS avail_tokens,
         |  ${Det.duckTrunc("CAST(sqfx AS DOUBLE) / totfx", 4)} AS mix_weight,
         |  (alloc_l * tok_ls) // tok_l AS alloc_tokens,
         |  ${Det.duckTrunc("CAST((alloc_l * tok_ls) // tok_l AS DOUBLE) / tok_ls", 4)}
         |    AS epochs
         |FROM ls JOIN a ON ls.lang = a.lang
         |ORDER BY ls.lang, source""".stripMargin,

    "tx18_vocab_growth" ->
      s"""WITH tc AS (
         |  SELECT source, tok, COUNT(*) AS cnt
         |  FROM (SELECT source, unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  GROUP BY source, tok)
         |SELECT source, COUNT(*) AS vocab, CAST(SUM(cnt) AS BIGINT) AS tokens,
         |  COUNT(CASE WHEN cnt = 1 THEN 1 END) AS hapax,
         |  ${Det.duckTrunc("COUNT(CASE WHEN cnt = 1 THEN 1 END) * 1.0 / COUNT(*)", 4)}
         |    AS hapax_ratio,
         |  ${Det.duckTrunc("COUNT(*) * 1.0 / SUM(cnt)", 4)} AS ttr
         |FROM tc GROUP BY source ORDER BY source""".stripMargin,

    "tx19_rule_filter" ->
      s"""$duckRuleFlagsCtes
         |SELECT doc_id, n_words, mwl_fx, alpha_words, stop_hits,
         |  wc_ok, mwl_ok, alpha_ok, stop_ok, keep
         |FROM flags ORDER BY doc_id""".stripMargin,

    "tx20_curation_yield" -> {
      val fp = Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
      s"""${duckRuleFlagsCtes},
         |fps AS (
         |  SELECT doc_id, $fp AS fp FROM documents),
         |fl AS (
         |  SELECT flags.doc_id, source, n_words, keep, fp
         |  FROM flags JOIN fps ON flags.doc_id = fps.doc_id),
         |a AS (
         |  SELECT source, COUNT(*) AS docs_in,
         |    CAST(SUM(n_words) AS BIGINT) AS tokens_in
         |  FROM fl GROUP BY source),
         |k AS (
         |  SELECT source, COUNT(*) AS docs_rules,
         |    CAST(SUM(n_words) AS BIGINT) AS tokens_rules,
         |    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_final,
         |    CAST(SUM(CASE WHEN rn = 1 THEN n_words END) AS BIGINT) AS tokens_final
         |  FROM (
         |    SELECT source, n_words,
         |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |    FROM fl WHERE keep) GROUP BY source)
         |SELECT a.source, docs_in, tokens_in,
         |  COALESCE(docs_rules, 0) AS docs_rules,
         |  COALESCE(tokens_rules, 0) AS tokens_rules,
         |  COALESCE(docs_final, 0) AS docs_final,
         |  COALESCE(tokens_final, 0) AS tokens_final,
         |  (COALESCE(tokens_final, 0) * 1000000) // tokens_in AS yield_fx
         |FROM a LEFT JOIN k ON a.source = k.source
         |ORDER BY a.source""".stripMargin
    },

    "tx21_zipf_octaves" ->
      s"""WITH v AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  WHERE tok IS NOT NULL AND tok <> '' GROUP BY tok),
         |r AS (
         |  SELECT freq,
         |    CAST(length(bin(ROW_NUMBER() OVER (ORDER BY freq DESC, tok))) - 1
         |      AS INTEGER) AS octave
         |  FROM v),
         |o AS (
         |  SELECT octave, CAST(COUNT(*) AS BIGINT) AS n_toks,
         |    CAST(SUM(freq) AS BIGINT) AS mass
         |  FROM r GROUP BY octave),
         |t AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM o)
         |SELECT octave, n_toks, mass,
         |  (mass * $Fx) // total AS share_fx,
         |  (mass * $Fx) // LAG(mass) OVER (ORDER BY octave) AS decay_fx
         |FROM o CROSS JOIN t ORDER BY octave""".stripMargin,

    "tx22_char_gini" ->
      s"""WITH ch AS (
         |  SELECT doc_id, lang, unnest(string_split_regex(text, '')) AS ch
         |  FROM documents),
         |cc AS (
         |  SELECT doc_id, lang, ch, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM ch WHERE ch IS NOT NULL AND ch <> '' GROUP BY doc_id, lang, ch),
         |per AS (
         |  SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(c*c) AS BIGINT) AS ssq
         |  FROM cc GROUP BY doc_id, lang),
         |g AS (SELECT lang, ((n*n - ssq) * $Fx) // (n*n) AS gini_fx FROM per)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(gini_fx) // COUNT(*) AS BIGINT) AS avg_gini_fx,
         |  CAST(MIN(gini_fx) AS BIGINT) AS min_gini_fx,
         |  CAST(MAX(gini_fx) AS BIGINT) AS max_gini_fx
         |FROM g GROUP BY lang ORDER BY lang""".stripMargin,

    "tx23_charclass_profile" -> {
      def cls(c: String) =
        s"length(text) - length(regexp_replace(text, '$c', '', 'g'))"
      s"""WITH d AS (
         |  SELECT source, CAST(length(text) AS BIGINT) AS n,
         |    CAST(${cls("[A-Za-z]")} AS BIGINT) AS alpha,
         |    CAST(${cls("[0-9]")} AS BIGINT) AS digit,
         |    CAST(${cls("\\s")} AS BIGINT) AS space
         |  FROM documents),
         |a AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n) AS BIGINT) AS n_chars,
         |    CAST(SUM(alpha) AS BIGINT) AS n_alpha,
         |    CAST(SUM(digit) AS BIGINT) AS n_digit,
         |    CAST(SUM(space) AS BIGINT) AS n_space
         |  FROM d GROUP BY source)
         |SELECT source, n_docs, n_chars,
         |  (n_alpha * $Fx) // n_chars AS alpha_fx,
         |  (n_digit * $Fx) // n_chars AS digit_fx,
         |  (n_space * $Fx) // n_chars AS space_fx,
         |  ((n_chars - n_alpha - n_digit - n_space) * $Fx) // n_chars AS other_fx
         |FROM a ORDER BY source""".stripMargin
    },

    "tx24_pii_census" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      val digits = "[0-9]{6,}"
      def hits(p: String) = s"regexp_extract_all(text, '$p')"
      def chars(p: String) =
        s"COALESCE(list_sum(list_transform(${hits(p)}, x -> strlen(x))), 0)"
      s"""WITH b AS (
         |  SELECT source,
         |    len(${hits(email)}) AS em, len(${hits(ip)}) AS ips,
         |    len(${hits(digits)}) AS nums,
         |    ${chars(email)} + ${chars(ip)} + ${chars(digits)} AS matched,
         |    length(text) AS total
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN em > 0 OR ips > 0 OR nums > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS docs_with_pii,
         |  CAST(SUM(em) AS BIGINT) AS email_hits,
         |  CAST(SUM(ips) AS BIGINT) AS ip_hits,
         |  CAST(SUM(nums) AS BIGINT) AS digit_hits,
         |  (CAST(SUM(matched) AS BIGINT) * $Fx) // CAST(SUM(total) AS BIGINT)
         |    AS redact_share_fx
         |FROM b GROUP BY source ORDER BY source""".stripMargin
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
    },

    "tx26_topk_coverage" -> {
      s"""WITH v AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  WHERE tok IS NOT NULL AND tok <> '' GROUP BY tok),
         |r AS (
         |  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rnk
         |  FROM v),
         |t AS (
         |  SELECT CAST(MAX(rnk) AS BIGINT) AS v_size,
         |    CAST(SUM(freq) AS BIGINT) AS total_mass FROM r),
         |ks AS (
         |  SELECT unnest(generate_series(0,
         |    CAST(length(bin(v_size)) - 1 AS INTEGER))) AS k FROM t)
         |SELECT k,
         |  CAST(SUM(CASE WHEN rnk <= (CAST(1 AS BIGINT) << k) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_top,
         |  CAST(SUM(CASE WHEN rnk <= (CAST(1 AS BIGINT) << k) THEN freq ELSE 0 END)
         |    AS BIGINT) AS mass_top,
         |  (CAST(SUM(CASE WHEN rnk <= (CAST(1 AS BIGINT) << k) THEN freq ELSE 0 END)
         |    AS BIGINT) * $Fx) // (SELECT total_mass FROM t) AS coverage_fx
         |FROM ks CROSS JOIN r
         |GROUP BY k ORDER BY k""".stripMargin
    },

    "tx27_dup_quality" -> {
      val fp = Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
      s"""WITH base AS (
         |  SELECT doc_id, len(${Dedup.duckToks}) AS n_tokens,
         |    CAST(${TextAnalysis.duckStop} AS DOUBLE) / len(${Dedup.duckToks})
         |      AS stop_ratio,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text)
         |      AS punct_ratio,
         |    $fp AS fp
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, fp,
         |    CAST(floor((${TextAnalysis.duckQuality}) * 10000) AS BIGINT) AS q4
         |  FROM base),
         |rolled AS (
         |  SELECT doc_id, q4,
         |    COUNT(*) OVER (PARTITION BY fp) AS n_copies,
         |    MIN(doc_id) OVER (PARTITION BY fp) AS keeper
         |  FROM scored)
         |SELECT CASE WHEN n_copies = 1 THEN 'singleton'
         |            WHEN doc_id = keeper THEN 'dup_keeper'
         |            ELSE 'dup_removed' END AS role,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  ${Det.duckTrunc("CAST(SUM(q4) AS DOUBLE) / (COUNT(*) * 10000.0)", 4)}
         |    AS avg_q4,
         |  MIN(q4) AS min_q4, MAX(q4) AS max_q4
         |FROM rolled GROUP BY role ORDER BY role""".stripMargin
    },

    "tx28_boilerplate" -> {
      val pfx = Hashing.duckHash64(
        s"array_to_string(list_slice(${Dedup.duckToks}, 1, 8), ' ')")
      val sfx = Hashing.duckHash64(
        s"array_to_string(list_slice(${Dedup.duckToks}, " +
          s"greatest(1, len(${Dedup.duckToks}) - 7), len(${Dedup.duckToks})), ' ')")
      s"""WITH d AS (
         |  SELECT source, $pfx AS pfx, $sfx AS sfx FROM documents),
         |pg AS (
         |  SELECT source, pfx, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM d GROUP BY source, pfx),
         |p AS (
         |  SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
         |    CAST(COUNT(*) AS BIGINT) AS n_prefixes,
         |    CAST(MAX(n) AS BIGINT) AS max_clone_group,
         |    CAST(SUM(CASE WHEN n >= 5 THEN n ELSE 0 END) AS BIGINT) AS boiler_docs
         |  FROM pg GROUP BY source),
         |sx AS (
         |  SELECT source, CAST(COUNT(DISTINCT sfx) AS BIGINT) AS n_suffixes
         |  FROM d GROUP BY source)
         |SELECT p.source, n_docs, n_prefixes, n_suffixes, max_clone_group,
         |  boiler_docs, (boiler_docs * $Fx) // n_docs AS boiler_share_fx
         |FROM p JOIN sx ON p.source = sx.source
         |ORDER BY p.source""".stripMargin
    },

    "tx29_artifact_census" ->
      s"""WITH b AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(text, '$UrlPat')) AS BIGINT) AS n_urls,
         |    CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(text, '$MarkupPat')) AS BIGINT) AS n_markup,
         |    CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_urls) AS BIGINT) AS url_instances,
         |  CAST(SUM(n_emails) AS BIGINT) AS email_instances,
         |  CAST(SUM(n_markup) AS BIGINT) AS markup_instances,
         |  CAST(SUM(CASE WHEN n_markup * 100 > n_chars THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_markup_heavy,
         |  CAST(SUM(CASE WHEN n_urls + n_emails + n_markup = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS docs_clean,
         |  (CAST(SUM(CASE WHEN n_urls + n_emails + n_markup = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) * $Fx) // CAST(COUNT(*) AS BIGINT) AS clean_share_fx
         |FROM b GROUP BY source ORDER BY source""".stripMargin,

    "tx30_sentence_stats" ->
      s"""WITH b AS (
         |  SELECT lang,
         |    CAST(len(${Dedup.duckToks}) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
         |      x -> trim(x) <> '')) AS BIGINT) AS n_sents
         |  FROM documents),
         |f AS (
         |  SELECT lang, n_tokens, n_sents,
         |    (n_tokens * $Fx) // n_sents AS mean_sent_fx
         |  FROM b WHERE n_sents > 0)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_sents) AS BIGINT) AS n_sentences,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN mean_sent_fx < ${3L * Fx}
         |    OR mean_sent_fx > ${80L * Fx} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_outside_band,
         |  (CAST(SUM(n_tokens) AS BIGINT) * $Fx) // CAST(SUM(n_sents) AS BIGINT)
         |    AS mean_sent_tokens_fx,
         |  (CAST(SUM(CASE WHEN mean_sent_fx < ${3L * Fx}
         |    OR mean_sent_fx > ${80L * Fx} THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(COUNT(*) AS BIGINT) AS outside_share_fx
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

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

    "tx32_hapax_census" ->
      s"""WITH f AS (
         |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT lang, unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  GROUP BY 1, 2)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab,
         |  CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  CAST(SUM(freq) AS BIGINT) AS mass,
         |  (CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(COUNT(*) AS BIGINT) AS hapax_type_fx,
         |  (CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // CAST(SUM(freq) AS BIGINT) AS hapax_mass_fx
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "tx33_len_quality_joint" -> {
      // quality comes from tx02's WHOLE oracle as a subquery — the
      // shared-fragment rule (one definition, zero drift)
      val tx02 = qualityScoreSql
      s"""WITH scored AS (
         |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(floor(quality * 10000) AS BIGINT) AS q4
         |  FROM ($tx02)),
         |lq AS (
         |  SELECT doc_id,
         |    NTILE(4) OVER (ORDER BY n_tokens, doc_id) AS len_q
         |  FROM scored),
         |qq AS (
         |  SELECT doc_id,
         |    NTILE(4) OVER (ORDER BY q4, doc_id) AS qual_q
         |  FROM scored),
         |cells AS (
         |  SELECT CAST(len_q AS INT) AS len_q, CAST(qual_q AS INT) AS qual_q,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM lq JOIN qq USING (doc_id) GROUP BY 1, 2),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cells)
         |SELECT len_q, qual_q, n_docs,
         |  (n_docs * 16 * $Fx) // n AS share_fx
         |FROM cells CROSS JOIN t ORDER BY len_q, qual_q""".stripMargin
    },

    "tx34_code_switching" -> {
      val toks = Dedup.duckToks
      val pCols = TextAnalysis.LangMarkers.map { case (lang, markers) =>
        val set = markers.map(m => s"'$m'").mkString(", ")
        s"""CASE WHEN len(list_filter($toks, t -> t IN ($set)))
           |  >= $PresentMin THEN 1 ELSE 0 END""".stripMargin
      }
      val present = pCols.mkString("(", " + ", ")")
      s"""WITH p AS (
         |  SELECT lang, $present AS n_present FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN n_present >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mixed,
         |  (CAST(SUM(CASE WHEN n_present >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // CAST(COUNT(*) AS BIGINT) AS mixed_fx,
         |  (CAST(SUM(n_present) AS BIGINT) * $Fx) // CAST(COUNT(*) AS BIGINT)
         |    AS mean_present_fx
         |FROM p GROUP BY lang ORDER BY lang""".stripMargin
    },

    "tx35_stopword_profile" -> {
      val stopList = ProfileStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH toks AS (
         |  SELECT source, lower(tok) AS lt
         |  FROM (SELECT source, unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  WHERE tok <> ''),
         |f AS (
         |  SELECT source, lt, list_contains($stopList, lt) AS is_stop
         |  FROM toks)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_stop_tokens,
         |  CAST(COUNT(DISTINCT CASE WHEN is_stop THEN lt END) AS BIGINT)
         |    AS n_stop_distinct,
         |  (CAST(SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // COUNT(*) AS stop_share_fx,
         |  (CAST(COUNT(DISTINCT CASE WHEN is_stop THEN lt END) AS BIGINT)
         |    * $Fx) // ${ProfileStopwords.size} AS coverage_fx
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "tx36_len_quantiles_by_lang" -> {
      val pickCols = LenPercentiles.map(p =>
        s"MAX(CASE WHEN rn = ((n - 1) * $p) // 100 + 1 THEN n_toks END) AS p${p}_toks")
        .mkString(",\n  ")
      s"""WITH lens AS (
         |  SELECT lang, doc_id, CAST(len(${Dedup.duckToks}) AS BIGINT) AS n_toks
         |  FROM documents WHERE len(${Dedup.duckToks}) > 0),
         |r AS (
         |  SELECT lang, n_toks,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY n_toks, doc_id) AS BIGINT) AS rn,
         |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM lens)
         |SELECT lang, MAX(n) AS n_docs,
         |  $pickCols,
         |  MAX(n_toks) AS max_toks
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "tx37_snapshot_drift" ->
      s"""WITH ${Dedup.duckSnapshotCtes},
         |tok AS (
         |  SELECT token, 1 AS v FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
         |    FROM v1) WHERE len(token) > 0
         |  UNION ALL
         |  SELECT token, 2 AS v FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
         |    FROM v2) WHERE len(token) > 0),
         |census AS (
         |  SELECT token,
         |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM tok GROUP BY token),
         |totals AS (
         |  SELECT CAST(SUM(c1) AS BIGINT) AS s1,
         |    CAST(SUM(c2) AS BIGINT) AS s2 FROM census),
         |withp AS (
         |  SELECT c1, c2, (c1 * $PFx) // s1 AS p1, (c2 * $PFx) // s2 AS p2
         |  FROM census CROSS JOIN totals),
         |drift AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_union,
         |    CAST(SUM(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_v1,
         |    CAST(SUM(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_v2,
         |    CAST(SUM(CASE WHEN c1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_new,
         |    CAST(SUM(CASE WHEN c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_lost,
         |    CAST(SUM(abs(p1 - p2)) AS BIGINT) AS l1,
         |    CAST(SUM(CASE WHEN c1 = 0 THEN c2 ELSE 0 END) AS BIGINT) AS new_mass,
         |    CAST(SUM(CASE WHEN c2 = 0 THEN c1 ELSE 0 END) AS BIGINT) AS lost_mass
         |  FROM withp),
         |t1 AS (
         |  SELECT token FROM census WHERE c1 > 0
         |  ORDER BY c1 DESC, token LIMIT $TopK),
         |t2 AS (
         |  SELECT token FROM census WHERE c2 > 0
         |  ORDER BY c2 DESC, token LIMIT $TopK),
         |churn AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS topk_churn FROM t1
         |  WHERE token NOT IN (SELECT token FROM t2))
         |SELECT s1, s2, vocab_union, vocab_v1, vocab_v2, vocab_new,
         |  vocab_lost, CAST(l1 // 2 AS BIGINT) AS tvd_fx,
         |  CAST((new_mass * $PFx) // s2 AS BIGINT) AS new_mass_fx,
         |  CAST((lost_mass * $PFx) // s1 AS BIGINT) AS lost_mass_fx,
         |  topk_churn
         |FROM drift CROSS JOIN totals CROSS JOIN churn""".stripMargin,

    "tx38_surprisal_filter" ->
      s"""WITH base AS (
         |  SELECT doc_id, ${Dedup.duckToks} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(len(toks) - 1), i -> toks[i+1])) AS w1,
         |    unnest(list_transform(range(len(toks) - 1),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
         |  FROM base WHERE len(toks) >= 2),
         |c2 AS (SELECT w1, bigram, CAST(COUNT(*) AS BIGINT) AS c2
         |  FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         |freq AS (SELECT bigram,
         |    CAST(length(bin(c1)) - length(bin(c2)) AS BIGINT) AS oct
         |  FROM c2 JOIN c1 USING (w1)),
         |perdoc AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(oct) AS BIGINT) AS sum_oct
         |  FROM bg JOIN freq USING (bigram) GROUP BY 1)
         |SELECT doc_id, n_bigrams, sum_oct,
         |  CAST(sum_oct * $Fx4 // n_bigrams AS BIGINT) AS mean_oct_fx,
         |  CASE WHEN sum_oct * $Fx4 // n_bigrams < ${2 * Fx4} THEN 'predictable'
         |       WHEN sum_oct * $Fx4 // n_bigrams < ${5 * Fx4} THEN 'typical'
         |       ELSE 'surprising' END AS band
         |FROM perdoc ORDER BY doc_id""".stripMargin,

    "tx39_burstiness" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${Dedup.duckToks}) AS tok FROM documents),
         |stats AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tok GROUP BY tok),
         |b AS (
         |  SELECT CAST(length(bin(tf)) - 1 AS BIGINT) AS octave,
         |    (tf * $Fx4) // df AS burst_fx
         |  FROM stats)
         |SELECT octave, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(CAST(SUM(burst_fx) AS BIGINT) // COUNT(*) AS BIGINT)
         |    AS mean_burst_fx,
         |  CAST(MAX(burst_fx) AS BIGINT) AS max_burst_fx,
         |  CAST(SUM(CASE WHEN burst_fx >= ${2 * Fx4} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bursty
         |FROM b GROUP BY octave ORDER BY octave""".stripMargin,

    "tx40_pmi_collocations" ->
      s"""WITH base AS (
         |  SELECT ${Dedup.duckToks} AS toks FROM documents
         |  WHERE len(${Dedup.duckToks}) >= 2),
         |idx AS (
         |  SELECT toks, unnest(range(len(toks) - 1)) AS i FROM base),
         |counts AS (
         |  SELECT toks[i+1] AS w1, toks[i+2] AS w2,
         |    CAST(COUNT(*) AS BIGINT) AS c12
         |  FROM idx GROUP BY 1, 2),
         |n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_total FROM counts),
         |m1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
         |  FROM counts GROUP BY w1),
         |m2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2
         |  FROM counts GROUP BY w2),
         |scored AS (
         |  SELECT counts.w1, counts.w2, c12, c1, c2,
         |    CAST((length(bin(c12 * n_total)) - 1)
         |      - (length(bin(c1 * c2)) - 1) AS BIGINT) AS pmi_oct
         |  FROM counts
         |  JOIN m1 ON m1.w1 = counts.w1 JOIN m2 ON m2.w2 = counts.w2
         |  CROSS JOIN n WHERE c12 >= $MinPairCount),
         |top AS (
         |  SELECT * FROM scored
         |  ORDER BY pmi_oct DESC, c12 DESC, w1, w2 LIMIT $TopK)
         |SELECT CAST(row_number() OVER (ORDER BY pmi_oct DESC, c12 DESC,
         |    w1, w2) AS BIGINT) AS rank,
         |  w1, w2, c12, c1, c2, pmi_oct
         |FROM top ORDER BY rank""".stripMargin,

    "tx41_entropy_rate" ->
      s"""WITH base AS (
         |  SELECT lang, ${Dedup.duckToks} AS toks FROM documents
         |  WHERE len(${Dedup.duckToks}) >= 2),
         |idx AS (
         |  SELECT lang, toks, unnest(range(len(toks) - 1)) AS i FROM base),
         |bg AS (
         |  SELECT lang, toks[i+1] AS w1, toks[i+2] AS w2,
         |    CAST(COUNT(*) AS BIGINT) AS c12
         |  FROM idx GROUP BY 1, 2, 3),
         |m1 AS (
         |  SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1
         |  FROM bg GROUP BY 1, 2),
         |j AS (
         |  SELECT bg.lang, c12,
         |    CAST((length(bin(c1)) - 1) - (length(bin(c12)) - 1) AS BIGINT)
         |      AS s_oct
         |  FROM bg JOIN m1 ON m1.lang = bg.lang AND m1.w1 = bg.w1)
         |SELECT lang, CAST(SUM(c12) AS BIGINT) AS n_bigrams,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
         |  CAST(CAST(SUM(c12 * s_oct) AS BIGINT) * $Fx4
         |    // CAST(SUM(c12) AS BIGINT) AS BIGINT) AS entropy_rate_fx,
         |  CAST(CAST(SUM(CASE WHEN s_oct = 0 THEN c12 ELSE 0 END) AS BIGINT)
         |    * $Fx4 // CAST(SUM(c12) AS BIGINT) AS BIGINT)
         |    AS deterministic_share_fx
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin,

    "tx42_adaptive_stopwords" ->
      s"""WITH tok AS (
         |  SELECT lang, doc_id, unnest(${Dedup.duckToks}) AS tok
         |  FROM documents),
         |tok2 AS (
         |  SELECT lang, doc_id, lower(tok) AS lt FROM tok WHERE tok <> ''),
         |npl AS (
         |  SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM tok2 GROUP BY lang),
         |dft AS (
         |  SELECT lang, lt, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM (SELECT DISTINCT lang, doc_id, lt FROM tok2)
         |  GROUP BY 1, 2),
         |flags AS (
         |  SELECT dft.lang, lt, (df * 2 >= n_docs) AS is_stop
         |  FROM dft JOIN npl ON npl.lang = dft.lang),
         |mass AS (
         |  SELECT t.lang, t.lt, CAST(COUNT(*) AS BIGINT) AS tf, is_stop
         |  FROM tok2 t JOIN flags f ON f.lang = t.lang AND f.lt = t.lt
         |  GROUP BY 1, 2, 4),
         |agg AS (
         |  SELECT lang,
         |    CAST(SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_stopwords,
         |    CAST(COUNT(*) AS BIGINT) AS vocab,
         |    CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN is_stop THEN tf ELSE 0 END) AS BIGINT)
         |      AS stop_mass,
         |    CAST(SUM(CASE WHEN is_stop THEN tf ELSE 0 END) * $Fx4
         |      // CAST(SUM(tf) AS BIGINT) AS BIGINT) AS stop_mass_fx
         |  FROM mass GROUP BY lang),
         |top AS (
         |  SELECT lang, lt AS top_token FROM mass
         |  QUALIFY row_number() OVER (PARTITION BY lang
         |    ORDER BY tf DESC, lt) = 1)
         |SELECT agg.lang, n_stopwords, vocab, n_tokens, stop_mass,
         |  stop_mass_fx, top_token
         |FROM agg JOIN top ON top.lang = agg.lang
         |ORDER BY agg.lang""".stripMargin
  )
}
