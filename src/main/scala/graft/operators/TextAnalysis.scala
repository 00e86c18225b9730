package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Text-analysis operators for training-data curation over `documents`.
  *
  * All per-row logic is built from codegen'd `functions._` expressions
  * (no UDF closures), so at 100 TB the whole stage is a single
  * parquet-scan → project pipeline with column pruning: only `text`
  * (+ grouping keys) is read.
  */
object TextAnalysis extends Operators {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

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
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
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

    "tx04_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Hashing.hash64(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
        .orderBy(col("doc_id"))
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

  def oracles: Map[String, String] = Map(
    "tx01_token_count" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         | CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         | floor((CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*)) * 10000) / 10000 AS avg_tokens
         |FROM (SELECT lang, len($duckToks) AS n_tokens FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "tx02_quality_score" ->
      s"""SELECT doc_id, n_tokens,
         | $duckQuality AS quality
         |FROM (
         |  SELECT doc_id, len($duckToks) AS n_tokens,
         |    CAST($duckStop AS DOUBLE) / len($duckToks) AS stop_ratio,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) AS punct_ratio
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "tx03_lang_id" ->
      s"""SELECT lang, guessed, COUNT(*) AS n_docs FROM (
         |  $duckGuessSql)
         |GROUP BY lang, guessed ORDER BY lang, guessed""".stripMargin,

    "tx05_edit_distance" ->
      s"""WITH vocab AS (
         |  SELECT DISTINCT unnest($duckToks) AS tok FROM documents)
         |SELECT a.tok AS tok_a, b.tok AS tok_b,
         |  levenshtein(a.tok, b.tok) AS dist
         |FROM vocab a, vocab b
         |WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 2
         |ORDER BY tok_a, tok_b""".stripMargin,

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

    "tx04_fingerprint" ->
      s"""SELECT doc_id,
         | ${Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin
  )
}
