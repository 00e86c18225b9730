package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.Tables
import graft.functions.Det

/** Round-5 fourth wave: the curation-ops corners still open after
  * Round5c — published rule-based quality filtering (tx19), the
  * watermark-delay sizing audit every streaming deploy needs (ev30),
  * spend-concentration reporting (q40), and perceptual-hash near-dup
  * for binary payloads (mm07).
  *
  * Same posture as the rest of the library: candidate generation is
  * always an equi-join on a bucket key, global order statistics go
  * through two-level partial/merge shapes or [[Rank.ntileExact]],
  * fixed-point integer arithmetic wherever the DuckDB oracle must
  * hash-match, and the only unpartitioned windows run over keys-sized
  * or constant-sized frames.
  */
object Round5d extends Operators {

  /** tx19: the stopword probe list (C4/Gopher-style rule filtering
    * uses a tiny fixed list — presence of common function words is
    * the signal, not coverage).
    */
  val StopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

  /** ev30: arrival-order bucket width for the two-level prefix-max
    * (the watermark replay). Bucket table size is n/EvBucket — a
    * keys-sized frame at any SF.
    */
  val EvBucket = 512L

  /** ev30: candidate watermark delays (seconds) the audit prices. */
  val WmDelaysS: Seq[Long] = Seq(0L, 1L, 10L, 60L, 300L)

  /** mm07: 15 payload stripes × 4 bits = 60-bit perceptual hash —
    * same 60-bit / 4×15-bit-band layout as the simhash family
    * (Dedup.SimhashBits), so the pigeonhole argument carries over:
    * hamming ≤ 3 flips cannot touch all four disjoint bands.
    */
  val PhashStripes = 15
  val PhashBands = 4
  val PhashBandBits = 15
  val PhashBandMask: Long = (1L << PhashBandBits) - 1

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** The tx19 C4/Gopher rule battery as a reusable per-document frame
    * (doc columns preserved, flags + `keep` appended). Shared with
    * tx20's curation-yield funnel so the two rule sets cannot drift.
    * Pure narrow compute — no shuffle.
    */
  private[graft] def ruleFlags(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", toks(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("sum_len", length(array_join(col("toks"), "")).cast("long"))
      .withColumn("mwl_fx", expr("(sum_len * 10000) div n_words"))
      .withColumn("alpha_words",
        size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("stop_hits",
        size(filter(col("toks"),
          t => array_contains(typedLit(StopWords), lower(t)))).cast("long"))
      .withColumn("wc_ok", col("n_words") >= 20 && col("n_words") <= 1000)
      .withColumn("mwl_ok", col("mwl_fx") >= 30000 && col("mwl_fx") <= 100000)
      .withColumn("alpha_ok", col("alpha_words") * 10 >= col("n_words") * 8)
      .withColumn("stop_ok", col("stop_hits") >= 2)
      .withColumn("keep",
        col("wc_ok") && col("mwl_ok") && col("alpha_ok") && col("stop_ok"))

  /** ev30's two-level watermark replay as a reusable transform:
    * for (`id`, `t`) rows, the lateness of each row's `t` behind the
    * running max over all rows with smaller-or-equal `id` — WITHOUT a
    * global sort-window. Per-bucket max (hash agg) + prefix max over
    * the keys-sized bucket table + within-bucket runmax partitioned
    * by bucket. Exact: max over [0, id] = max(prefix of prior
    * buckets, runmax within own bucket).
    */
  def latenessTwoLevel(df: DataFrame, id: String, t: String,
      bucket: Long = EvBucket): DataFrame = {
    val ev = df.select(col(id).as("__id"), col(t).as("__t"))
      .withColumn("__bkt", expr(s"__id div $bucket"))
    val pre = Window.orderBy(col("__bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val pref = ev.groupBy(col("__bkt")).agg(max(col("__t")).as("__bmax"))
      .withColumn("__pmax", coalesce(max(col("__bmax")).over(pre), lit(Long.MinValue)))
      .select(col("__bkt"), col("__pmax"))
    val inb = Window.partitionBy(col("__bkt")).orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.join(broadcast(pref), Seq("__bkt"))
      .withColumn("late",
        greatest(max(col("__t")).over(inb), col("__pmax")) - col("__t"))
      .select(col("__id").as(id), col("__t").as(t), col("late"))
  }

  /** mm07's stripe phash over an opaque binary payload, computed in
    * the partition-batched decode path (the [[Multimodal.fakeDecode]]
    * posture: a real deployment swaps the stripe byte-sum for DCT
    * coefficients of the decoded image — codec init amortized per
    * partition, payloads never near the driver). Stripe i covers
    * bytes [i·n/15, (i+1)·n/15); its sum mod 16 contributes 4 bits.
    * Deterministic on the raw bytes, so the ASCII-restricted oracle
    * can recompute it from characters.
    */
  def stripePhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val pIdx = media.schema.fieldIndex("payload")
    val rdd = media.rdd.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](pIdx)
        var code = 0L
        if (bytes != null && bytes.nonEmpty) {
          val n = bytes.length
          var i = 0
          while (i < PhashStripes) {
            val lo = i * n / PhashStripes
            val hi = (i + 1) * n / PhashStripes
            var s = 0L
            var j = lo
            while (j < hi) { s += bytes(j) & 0xff; j += 1 }
            code |= (s % 16) << (4 * i)
            i += 1
          }
        }
        Row(r.getLong(idIdx), code)
      }
    }
    spark.createDataFrame(rdd, out)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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

    // --- ev30: watermark-delay sizing audit ---------------------------
    // Before picking `withWatermark`'s delay you need the lateness
    // distribution: for each event, how far behind the running max
    // event-time (the watermark replay, arrival order = ingest id) did
    // it arrive, and what fraction of data would each candidate delay
    // drop. A naive runmax is a single global sort-window; the
    // scalable shape is two-level scan: per-bucket max (one hash agg),
    // prefix-max over the keys-sized bucket table (tiny window),
    // broadcast back, and a within-bucket runmax partitioned by
    // bucket. The delay pricing is a bounded ×|delays| explode — same
    // bounded-fanout posture as q39's ×7.
    "ev30_watermark_fit" -> { (s, d) =>
      latenessTwoLevel(Tables.events(s, d)
          .select(col("event_id"), expr("unix_micros(ts)").as("t")),
          "event_id", "t")
        .select(col("late").as("late_us"), explode(typedLit(WmDelaysS)).as("delay_s"))
        .groupBy(col("delay_s"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > col("delay_s") * 1000000L, 1L).otherwise(0L))
            .cast("long").as("n_late"))
        .withColumn("late_ratio",
          Det.trunc4(col("n_late").cast("double") / col("n_events")))
        .orderBy(col("delay_s"))
    },

    // --- q40: spend-concentration Lorenz curve ------------------------
    // The revenue-concentration report: customers tiled into exact
    // spend deciles (ascending — decile 1 is the long tail, decile 10
    // the whales), each decile's customer count, spend, and cumulative
    // spend share. Rank.ntileExact supplies ANSI-NTILE buckets without
    // a global sort; everything after it is a 10-row frame, so the
    // cumulative window and the full-frame total are constant-size.
    // Money stays integer cents (per-order floor(price·100)) end to
    // end; the share is fixed-point (·10⁶ div total).
    "q40_spend_lorenz" -> { (s, d) =>
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
      val byDec = Rank.ntileExact(spend, 10, "decile", col("cents"), Seq(col("o_custkey")))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).cast("long").as("decile_cents"))
      val cum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byDec
        .withColumn("cum_cents", sum(col("decile_cents")).over(cum).cast("long"))
        .withColumn("total_cents", sum(col("decile_cents")).over(all).cast("long"))
        // decimal staging (r13 sf1 audit): cum_cents is a corpus-
        // proportional money sum — at 10x data cum_cents * 10^6
        // overflows int64 (measured ARITHMETIC_OVERFLOW at sf1). The
        // fixed-point step runs in DECIMAL(20,0) (exact, 128-bit
        // multiply) and `div` returns the same BIGINT share; the
        // oracle mirrors via HUGEINT.
        .withColumn("cum_share_fx",
          expr("(CAST(cum_cents AS DECIMAL(20,0)) * 1000000) div total_cents"))
        .select(col("decile"), col("n_customers"), col("decile_cents"),
          col("cum_cents"), col("cum_share_fx"))
        .orderBy(col("decile"))
    },

    // --- mm07: perceptual-hash near-dup for binary payloads -----------
    // Image/audio near-dup at corpus scale: a 60-bit stripe phash per
    // payload computed in the batched binary decode path (see
    // [[stripePhash]] — the stub DCT), then EXACTLY the simhash
    // banding recipe: 4 disjoint 15-bit bands as equi-join keys and
    // distinct collision pairs. The output is the candidate AUDIT —
    // every band-colliding pair with its exact hamming and the
    // `is_dup` (≤3) verdict — so the gate value-checks the whole
    // pipeline (hashes, banding, join, distance) instead of a
    // possibly-empty filtered tail: the text stand-in payloads have
    // positionally-shifted near-dups a fixed-grid signature cannot
    // catch (that is WHY text dedup is shingle-based — dd02/dd03),
    // while a real DCT phash over decoded images aligns content
    // spatially and makes ≤3 the production cut. No all-pairs step
    // anywhere; band occupancy is 2^15 values per band. ASCII
    // restriction keeps byte features == char features so the oracle
    // recomputes the identical hash from text.
    "mm07_phash_neardup" -> { (s, d) =>
      val ascii = Tables.documents(s, d)
        .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      val codes = Dedup.barrier(
        stripePhash(Multimodal.asMedia(ascii))
          .select(col("media_id"), col("phash"),
            posexplode(array((0 until PhashBands).map(b =>
              shiftright(col("phash"), b * PhashBandBits)
                .bitwiseAND(PhashBandMask)): _*)))
          .withColumnRenamed("pos", "band")
          .withColumnRenamed("col", "bval"))
      val l = codes.select(col("band"), col("bval"),
        col("media_id").as("media_a"), col("phash").as("ph_a"))
      val r = codes.select(col("band"), col("bval"),
        col("media_id").as("media_b"), col("phash").as("ph_b"))
      l.join(r, Seq("band", "bval"))
        .filter(col("media_a") < col("media_b"))
        .select(col("media_a"), col("media_b"), col("ph_a"), col("ph_b"))
        .distinct()
        .withColumn("hamming", expr("bit_count(ph_a ^ ph_b)").cast("long"))
        .withColumn("is_dup", col("hamming") <= 3)
        .select(col("media_a"), col("media_b"), col("hamming"), col("is_dup"))
        .orderBy(col("media_a"), col("media_b"))
    },

    // --- dd18: fuzzy decontamination (MinHash vs the eval split) ------
    // dd14 catches VERBATIM eval leakage (exact 13-gram hit); real
    // decontamination also needs the fuzzy pass — a train doc that is
    // a near-duplicate of an eval doc without sharing one unbroken
    // 13-gram. Exactly the dd03 recipe pointed across the split:
    // MinHash band hashes on both sides, candidates from the
    // (band, band_hash) equi-join with the benchmark-sized eval side
    // BROADCAST (dd14's posture), then an exact shingle-Jaccard
    // verify of the shortlist — shs arrays rejoin from the barriered
    // signature table for survivors only (the dd08 lesson: no array
    // payloads through the candidate shuffle). Census per source:
    // train docs, flagged docs, the worst Jaccard seen. Short docs
    // stay in the denominator (dd14's rule) — only shingle
    // GENERATION filters on length.
    "dd18_fuzzy_contamination" -> { (s, d) =>
      val sh = Dedup.barrier(Tables.documents(s, d)
        .withColumn("toks", toks(col("text")))
        .filter(size(col("toks")) >= 3)
        .withColumn("is_eval",
          graft.functions.Hashing.hash64(col("doc_id").cast("string")) % 20 === 0)
        .select(col("doc_id"), col("is_eval"), Dedup.shingleHashes(col("toks")).as("shs")))
      val sig = sh.select(col("doc_id"), col("is_eval"),
        Dedup.minhashSig(col("shs")).as("_sig"))
      val banded = Dedup.barrierAlso(sig
        .select(col("doc_id"), col("is_eval"),
          posexplode(array(Dedup.bandHashCols(col("_sig")): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_hash"))
      val cand = banded.filter(!col("is_eval"))
        .select(col("band"), col("band_hash"), col("doc_id").as("train_doc"))
        .join(broadcast(banded.filter(col("is_eval"))
          .select(col("band"), col("band_hash"), col("doc_id").as("eval_doc"))),
          Seq("band", "band_hash"))
        .select(col("train_doc"), col("eval_doc")).distinct()
      val flagged = cand
        .join(sh.select(col("doc_id").as("train_doc"), col("shs").as("shs_a")), Seq("train_doc"))
        .join(broadcast(sh.filter(col("is_eval"))
          .select(col("doc_id").as("eval_doc"), col("shs").as("shs_b"))), Seq("eval_doc"))
        // |A∪B| = |A|+|B|−|A∩B| exactly: shs arrays are distinct
        .withColumn("_common", graft.functions.IntersectCountExpr(col("shs_a"), col("shs_b")))
        .withColumn("j_fx",
          expr("(_common * 1000000) div (size(shs_a) + size(shs_b) - _common)"))
        .filter(col("j_fx") >= FuzzyJfx)
        .groupBy(col("train_doc"))
        .agg(max(col("j_fx")).as("best_j_fx"))
      Tables.documents(s, d)
        .withColumn("is_eval",
          graft.functions.Hashing.hash64(col("doc_id").cast("string")) % 20 === 0)
        .filter(!col("is_eval"))
        .select(col("doc_id").as("train_doc"), col("source"))
        .join(flagged, Seq("train_doc"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_train_docs"),
          count(col("best_j_fx")).as("n_flagged"),
          coalesce(max(col("best_j_fx")), lit(0L)).as("max_j_fx"),
          Det.trunc4(count(col("best_j_fx")).cast("double") / count(lit(1)))
            .as("contamination_rate"))
        .orderBy(col("source"))
    })

  /** dd18: flag a train doc when its best eval-doc Jaccard clears
    * this fixed-point (·1e6) bar — the fuzzy analog of dd14's exact
    * 13-gram hit.
    */
  val FuzzyJfx = 500000L

  private def duckToks = Dedup.duckToks

  /** mm07 oracle: the stripe phash recomputed character-wise (ASCII ⇒
    * ord(char) == payload byte), then the dd07 band-join recipe.
    */
  private[operators] val duckPhash: String =
    s"""SELECT doc_id AS media_id,
       |  CAST(SUM((CAST(ssum AS BIGINT) % 16) << (4 * s)) AS BIGINT) AS phash
       |FROM (
       |  SELECT doc_id, s,
       |    list_sum(list_transform(range((s * n) // $PhashStripes,
       |        ((s + 1) * n) // $PhashStripes),
       |      i -> ord(substr(text, CAST(i + 1 AS INT), 1)))) AS ssum
       |  FROM (SELECT doc_id, text, strlen(text) AS n FROM documents
       |        WHERE length(text) > 0 AND regexp_matches(text, '^[\\x00-\\x7F]*$$'))
       |  CROSS JOIN (SELECT unnest(range($PhashStripes)) AS s) st)
       |GROUP BY doc_id""".stripMargin

  /** DuckDB CTE chain mirroring [[ruleFlags]]: `WITH t, f, flags`
    * where `flags` has (doc_id, lang, source, n_words, mwl_fx,
    * alpha_words, stop_hits, wc_ok, mwl_ok, alpha_ok, stop_ok, keep).
    * Shared by the tx19 and tx20 oracles.
    */
  private[graft] def duckRuleFlagsCtes: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, $duckToks AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(strlen(array_to_string(toks, '')) AS BIGINT) AS sum_len,
       |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS BIGINT) AS alpha_words,
       |    CAST(len(list_filter(toks, x -> list_contains(
       |      [${StopWords.map(w => s"'$w'").mkString(", ")}], lower(x))))
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

  def oracles: Map[String, String] = Map(
    "tx19_rule_filter" ->
      s"""$duckRuleFlagsCtes
         |SELECT doc_id, n_words, mwl_fx, alpha_words, stop_hits,
         |  wc_ok, mwl_ok, alpha_ok, stop_ok, keep
         |FROM flags ORDER BY doc_id""".stripMargin,

    "ev30_watermark_fit" ->
      s"""WITH e AS (
         |  SELECT event_id, epoch_us(ts) AS t FROM events),
         |w AS (
         |  SELECT t, max(t) OVER (ORDER BY event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t AS late_us
         |  FROM e),
         |x AS (
         |  SELECT late_us, CAST(delay_s AS BIGINT) AS delay_s
         |  FROM w CROSS JOIN
         |    (SELECT unnest([${WmDelaysS.mkString(", ")}]) AS delay_s) ds)
         |SELECT delay_s, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_late,
         |  ${Det.duckTrunc(
             "SUM(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END) * 1.0" +
               " / COUNT(*)", 4)} AS late_ratio
         |FROM x GROUP BY delay_s ORDER BY delay_s""".stripMargin,

    "q40_spend_lorenz" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |dec AS (
        |  SELECT cents, NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
        |  FROM spend),
        |bd AS (
        |  SELECT decile, COUNT(*) AS n_customers,
        |    CAST(SUM(cents) AS BIGINT) AS decile_cents
        |  FROM dec GROUP BY decile),
        |c AS (
        |  SELECT decile, n_customers, decile_cents,
        |    CAST(SUM(decile_cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cents,
        |    CAST(SUM(decile_cents) OVER () AS BIGINT) AS total_cents
        |  FROM bd)
        |SELECT decile, n_customers, decile_cents, cum_cents,
        |  CAST((CAST(cum_cents AS HUGEINT) * 1000000) // total_cents
        |    AS BIGINT) AS cum_share_fx
        |FROM c ORDER BY decile""".stripMargin,

    "mm07_phash_neardup" ->
      s"""WITH codes AS ($duckPhash),
         |banded AS (
         |  SELECT media_id, phash, b AS band,
         |    (phash >> (b * $PhashBandBits)) & $PhashBandMask AS bval
         |  FROM codes CROSS JOIN
         |    (SELECT unnest(range($PhashBands)) AS b) t)
         |SELECT media_a, media_b,
         |  CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming,
         |  bit_count(xor(ph_a, ph_b)) <= 3 AS is_dup FROM (
         |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         |    a.phash AS ph_a, b.phash AS ph_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bval = b.bval AND a.media_id < b.media_id)
         |ORDER BY media_a, media_b""".stripMargin,

    "dd18_fuzzy_contamination" -> {
      import graft.functions.Hashing
      val sigExprs = (0 until Dedup.MinhashK).map(k =>
        s"list_min(list_transform(shs, h -> (${Dedup.A(k)} * (h % 4294967296)" +
          s" + ${Dedup.B(k)}) % ${Dedup.P})) AS sig_$k")
        .mkString(",\n    ")
      val bandRows = (0 until Dedup.Bands).map { b =>
        val parts = (0 until Dedup.RowsPerBand)
          .map(r => s"CAST(sig_${b * Dedup.RowsPerBand + r} AS VARCHAR)")
          .mkString(" || ',' || ")
        s"SELECT doc_id, is_eval, $b AS band, ${Hashing.duckHash64(s"($parts)")}" +
          " AS band_hash FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH d AS (
         |  SELECT doc_id, source, text,
         |    ${Hashing.duckHash64("CAST(doc_id AS VARCHAR)")} % 20 = 0 AS is_eval
         |  FROM documents),
         |sh_t AS (
         |  SELECT doc_id, is_eval, ${Dedup.duckShs} AS shs FROM d
         |  WHERE len(${Dedup.duckToks}) >= 3),
         |sigs AS (
         |  SELECT doc_id, is_eval,
         |    $sigExprs
         |  FROM sh_t),
         |banded AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT t.doc_id AS train_doc, e.doc_id AS eval_doc
         |  FROM banded t JOIN banded e
         |    ON t.band = e.band AND t.band_hash = e.band_hash
         |  WHERE NOT t.is_eval AND e.is_eval),
         |flagged AS (
         |  SELECT train_doc, MAX(j_fx) AS best_j_fx FROM (
         |    SELECT c.train_doc,
         |      (len(list_intersect(a.shs, b.shs)) * 1000000)
         |        // len(list_distinct(list_concat(a.shs, b.shs))) AS j_fx
         |    FROM cand c
         |    JOIN sh_t a ON a.doc_id = c.train_doc
         |    JOIN sh_t b ON b.doc_id = c.eval_doc)
         |  WHERE j_fx >= $FuzzyJfx GROUP BY train_doc)
         |SELECT source, COUNT(*) AS n_train_docs,
         |  CAST(COUNT(best_j_fx) AS BIGINT) AS n_flagged,
         |  CAST(coalesce(MAX(best_j_fx), 0) AS BIGINT) AS max_j_fx,
         |  ${Det.duckTrunc("COUNT(best_j_fx) * 1.0 / COUNT(*)", 4)}
         |    AS contamination_rate
         |FROM d LEFT JOIN flagged ON d.doc_id = flagged.train_doc
         |WHERE NOT is_eval
         |GROUP BY source ORDER BY source""".stripMargin
    })
}
