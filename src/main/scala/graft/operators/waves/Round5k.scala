package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-5 eleventh wave: banding S-curve tuner (dd21), out-of-order
  * arrival audit (ev35), and character-diversity Gini census (tx22).
  *
  * Posture notes: dd21 prices every (bands × rows) MinHash layout
  * against the corpus's OWN candidate-pair similarity histogram —
  * fixed-point integer arithmetic end-to-end (powers restricted to
  * powers of two so s^r and (1−s^r)^b are repeated-squaring chains,
  * no libm pow, engine-exact); the expensive pair stage reuses dd02/
  * dd12's min-shingle bucket join and folds straight into a 20-bin
  * histogram, so the layout math runs on a 100-row broadcast-sized
  * table. ev35 is a per-key lag window in arrival order with a
  * deterministic hash-mod event-time jitter injected (the ev33
  * recipe — the raw feed is perfectly ordered, so the audit needs
  * real disorder to price). tx22 is a two-level (doc, char) →
  * doc → lang aggregate; Gini impurity (1 − Σp²) is the log-free
  * diversity measure, rational in the counts, so the census stays
  * integer-exact where an entropy would drag in libm.
  */
object Round5k extends Operators {

  private val Fx = 1000000L

  /** dd21: (bands, rowsPerBand) layouts priced; power-of-two on both
    * axes so the fixed-point exponentiations are squaring chains.
    */
  val Layouts: Seq[(Int, Int)] = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  /** dd21: similarity histogram bins (width 0.05) and the "true
    * duplicate" threshold bin (s >= 0.5).
    */
  val NBins = 20
  val TrueBin = 10

  /** ev35: 1-in-JitterMod events arrive with their event time shifted
    * back by up to MaxJitterUs (48 h — the synthetic feed's median
    * per-user inter-event gap is ~7.5 h, so a sub-hour jitter would
    * inject no observable disorder).
    */
  val JitterMod = 17L
  val MaxJitterUs = 172800000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd21: MinHash banding S-curve tuner --------------------------
    // The (b, r) banding dial decides recall AND candidate cost; this
    // prices every layout of the k=16 signature against the measured
    // pair-similarity histogram instead of a guessed distribution.
    // Candidate pairs come from the SAME min-shingle bucket join dd02/
    // dd12 use (exact integer Jaccard, fx scale), fold into 20 bins,
    // and the S-curve p = 1-(1-s^r)^b evaluates per (bin, layout) on
    // the 100-row cross of histogram × layouts — fixed-point squaring
    // chains only. Output per layout: true pairs in scope, expected
    // recall over them, and the expected false candidates admitted.
    "dd21_band_scurve" -> { (s, d) =>
      val base = Dedup.barrier(Dedup.docShingles(s, d)
        .withColumn("bucket", array_min(col("shs"))))
      val a = base.select(col("bucket"), col("doc_id").as("doc_a"), col("shs").as("sh_a"))
      val b = base.select(col("bucket"), col("doc_id").as("doc_b"), col("shs").as("sh_b"))
      val hist = a.join(b, Seq("bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("common", graft.functions.IntersectCountExpr(col("sh_a"), col("sh_b")))
        .withColumn("uni", (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("common"))
        .withColumn("bin", least(expr(s"((common * $Fx) div uni) div ${Fx / NBins}"),
          lit((NBins - 1).toLong)))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
      hist
        .select(col("bin"), col("n_pairs"), explode(typedLit(Layouts)).as("l"))
        .select(col("bin"), col("n_pairs"),
          col("l._1").as("b"), col("l._2").as("r"))
        .withColumn("s1", col("bin") * lit(Fx / NBins) + lit(Fx / NBins / 2))
        .withColumn("s2", expr(s"(s1*s1) div $Fx"))
        .withColumn("s4", expr(s"(s2*s2) div $Fx"))
        .withColumn("s8", expr(s"(s4*s4) div $Fx"))
        .withColumn("s16", expr(s"(s8*s8) div $Fx"))
        .withColumn("q1", lit(Fx) - expr(
          "CASE r WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 4 THEN s4 WHEN 8 THEN s8 ELSE s16 END"))
        .withColumn("q2", expr(s"(q1*q1) div $Fx"))
        .withColumn("q4", expr(s"(q2*q2) div $Fx"))
        .withColumn("q8", expr(s"(q4*q4) div $Fx"))
        .withColumn("q16", expr(s"(q8*q8) div $Fx"))
        .withColumn("p_fx", lit(Fx) - expr(
          "CASE b WHEN 1 THEN q1 WHEN 2 THEN q2 WHEN 4 THEN q4 WHEN 8 THEN q8 ELSE q16 END"))
        .groupBy(col("b"), col("r"))
        .agg(
          coalesce(sum(when(col("bin") >= TrueBin, col("n_pairs"))), lit(0L))
            .cast("long").as("n_true_pairs"),
          coalesce(sum(when(col("bin") >= TrueBin, col("n_pairs") * col("p_fx"))), lit(0L))
            .cast("long").as("true_mass"),
          coalesce(sum(when(col("bin") < TrueBin, col("n_pairs") * col("p_fx"))), lit(0L))
            .cast("long").as("false_mass"))
        .withColumn("recall_fx", expr("true_mass div greatest(n_true_pairs, 1)"))
        .withColumn("exp_false_cands", expr(s"false_mass div $Fx"))
        .select(col("b").as("bands"), col("r").as("rows_per_band"),
          col("n_true_pairs"), col("recall_fx"), col("exp_false_cands"))
        .orderBy(col("bands").desc)
    },

    // --- ev35: out-of-order arrival audit -----------------------------
    // Streaming correctness hinges on how far event time runs behind
    // arrival order per key — this census prices it: per consecutive
    // arrival pair within a user (arrival order = event_id, a total
    // order), an inversion is an event whose (jittered) event time
    // precedes its predecessor's; the per-type census reports the
    // inversion rate and worst backstep. The raw feed is perfectly
    // ordered, so a deterministic 1-in-17 hash-mod jitter (ev33's
    // injection recipe, mirrored in the oracle) supplies the
    // disorder. One lag window partitioned by user_id — nothing
    // global; read with ev30, which prices the watermark delay this
    // audit shows is needed.
    "ev35_order_inversions" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us0"),
          Hashing.hash64(col("event_id").cast("string")).as("h"))
        .withColumn("us", when(pmod(col("h"), lit(JitterMod)) === 0,
          col("us0") - pmod(col("h"), lit(MaxJitterUs))).otherwise(col("us0")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("us") < col("prev_us"), 1L).otherwise(0L))
            .cast("long").as("n_inversions"),
          max(when(col("us") < col("prev_us"), col("prev_us") - col("us"))
            .otherwise(lit(0L))).as("max_backstep_us"))
        .withColumn("inv_rate_fx", expr(s"(n_inversions * $Fx) div n_pairs"))
        .select(col("event_type"), col("n_pairs"), col("n_inversions"),
          col("max_backstep_us"), col("inv_rate_fx"))
        .orderBy(col("event_type"))
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
    })

  def oracles: Map[String, String] = Map(
    "dd21_band_scurve" ->
      s"""WITH sh_t AS (
         |  SELECT doc_id, shs, list_min(shs) AS bucket
         |  FROM (SELECT doc_id, ${Dedup.duckShs} AS shs FROM documents
         |        WHERE len(${Dedup.duckToks}) >= 3)),
         |pr AS (
         |  SELECT CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS common,
         |    CAST(len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))
         |      AS BIGINT) AS uni
         |  FROM sh_t a JOIN sh_t b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |h AS (
         |  SELECT least(((common * $Fx) // uni) // ${Fx / NBins},
         |    ${NBins - 1}) AS bin, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM pr GROUP BY 1),
         |l AS (SELECT * FROM (VALUES ${Layouts.map(p => s"(${p._1}, ${p._2})").mkString(", ")}) AS t(b, r)),
         |m AS (
         |  SELECT bin, n_pairs, b, r,
         |    (bin * ${Fx / NBins} + ${Fx / NBins / 2}) AS s1
         |  FROM h CROSS JOIN l),
         |c1 AS (SELECT *, (s1*s1) // $Fx AS s2 FROM m),
         |c2 AS (SELECT *, (s2*s2) // $Fx AS s4 FROM c1),
         |c3 AS (SELECT *, (s4*s4) // $Fx AS s8 FROM c2),
         |c4 AS (SELECT *, (s8*s8) // $Fx AS s16 FROM c3),
         |c5 AS (SELECT *, $Fx - (CASE r WHEN 1 THEN s1 WHEN 2 THEN s2
         |  WHEN 4 THEN s4 WHEN 8 THEN s8 ELSE s16 END) AS q1 FROM c4),
         |c6 AS (SELECT *, (q1*q1) // $Fx AS q2 FROM c5),
         |c7 AS (SELECT *, (q2*q2) // $Fx AS q4 FROM c6),
         |c8 AS (SELECT *, (q4*q4) // $Fx AS q8 FROM c7),
         |c9 AS (SELECT *, (q8*q8) // $Fx AS q16 FROM c8),
         |pp AS (SELECT bin, n_pairs, b, r, $Fx - (CASE b WHEN 1 THEN q1
         |  WHEN 2 THEN q2 WHEN 4 THEN q4 WHEN 8 THEN q8 ELSE q16 END) AS p_fx
         |  FROM c9)
         |SELECT b AS bands, r AS rows_per_band,
         |  CAST(COALESCE(SUM(CASE WHEN bin >= $TrueBin THEN n_pairs END), 0)
         |    AS BIGINT) AS n_true_pairs,
         |  CAST(COALESCE(SUM(CASE WHEN bin >= $TrueBin THEN n_pairs * p_fx END), 0)
         |    // greatest(COALESCE(SUM(CASE WHEN bin >= $TrueBin THEN n_pairs END), 0), 1)
         |    AS BIGINT) AS recall_fx,
         |  CAST(COALESCE(SUM(CASE WHEN bin < $TrueBin THEN n_pairs * p_fx END), 0)
         |    // $Fx AS BIGINT) AS exp_false_cands
         |FROM pp GROUP BY b, r ORDER BY bands DESC""".stripMargin,

    "ev35_order_inversions" -> {
      val h = Hashing.duckHash64("CAST(event_id AS VARCHAR)")
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CASE WHEN $h % $JitterMod = 0
         |      THEN epoch_us(ts) - ($h % $MaxJitterUs)
         |      ELSE epoch_us(ts) END AS us
         |  FROM events),
         |lg AS (
         |  SELECT event_type, us,
         |    LAG(us) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
         |  FROM e)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_inversions,
         |  CAST(MAX(CASE WHEN us < prev_us THEN prev_us - us ELSE 0 END)
         |    AS BIGINT) AS max_backstep_us,
         |  (CAST(SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // COUNT(*) AS inv_rate_fx
         |FROM lg WHERE prev_us IS NOT NULL
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    },

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
         |FROM g GROUP BY lang ORDER BY lang""".stripMargin)
}
