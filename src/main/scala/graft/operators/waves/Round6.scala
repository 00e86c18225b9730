package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 first wave: audience accounting (ev41), exact grouped
  * order statistics without sorting facts (q46), PII census (tx24),
  * and the deterministic corpus split manifest (pk12).
  *
  * Posture notes: ev41 derives first-seen via a user-partitioned
  * window over the (user, day) aggregate — no self-join, two keyed
  * shuffles total; q46 computes EXACT per-group quartiles by
  * value-frequency decomposition (the fact table folds to a
  * |groups|×|distinct values| table; the cumulative window runs
  * there), the third member of the no-global-sort family next to
  * ntileExact (q33) and the prefix-sum rank (tx21); tx24 is pure
  * per-row regex compute folded map-side; pk12 assigns splits by
  * deterministic hash64 so the manifest is reproducible on any
  * cluster layout.
  */
object Round6 extends Operators {

  private val Fx = 1000000L
  private val DayUs = 86400000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev41: daily new-vs-returning census --------------------------
    // Growth accounting: each active day splits into users seen for
    // the first time ever and returners. first_day is a MIN window
    // over the (user, day) daily aggregate partitioned by user — the
    // scalable replacement for the facts-vs-first-seen self-join.
    "ev41_new_returning" -> { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"),
          expr(Det.truncDiv("unix_micros(ts)", DayUs)).as("day"))
      val daily = e.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_ev"))
      daily
        .withColumn("first_day",
          min(col("day")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("day"))
        .agg(sum(col("n_ev")).cast("long").as("n_events"),
          count(lit(1)).as("n_active"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .cast("long").as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
        .withColumn("new_share_fx", expr(s"(n_new * $Fx) div n_active"))
        .select(col("day"), col("n_events"), col("n_active"), col("n_new"),
          col("n_returning"), col("new_share_fx"))
        .orderBy(col("day"))
    },

    // --- q46: exact grouped quartiles, no fact sort -------------------
    // Exact p25/p50/p75 per return flag via value-frequency
    // decomposition: the facts fold once to (flag, value) counts, the
    // cumulative window runs on that bounded table (|flags|×|values|),
    // and each quartile is "smallest value whose running count clears
    // ceil(p·n)" — all-integer, engine-exact, and no row of lineitem
    // ever crosses a sort. The alternative (percentile over facts) is
    // a per-group global sort; this is the 100 TB form.
    "q46_grouped_quartiles" -> { (s, d) =>
      val vf = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          floor(col("l_quantity")).cast("long").as("v"))
        .groupBy(col("flag"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      vf
        .withColumn("cum", sum(col("cnt"))
          .over(Window.partitionBy(col("flag")).orderBy(col("v"))))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("flag"))))
        .groupBy(col("flag"))
        .agg(max(col("n")).cast("long").as("n_rows"),
          min(when(col("cum") >= expr("(n + 3) div 4"), col("v"))).as("p25"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("p50"),
          min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("v"))).as("p75"))
        .orderBy(col("flag"))
    },

    // --- tx24: PII census --------------------------------------------
    // Corpus-release hygiene: count the redaction surface per source
    // (emails, dotted-quad IPs, long digit runs) and the share of
    // characters a scrub would replace. Pure per-row regex + one
    // map-side-combinable aggregate; patterns avoid engine-divergent
    // regex features (no backrefs, no lookaround) so Java and RE2
    // agree match-for-match.
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

    // --- pk12: deterministic split manifest ---------------------------
    // Every corpus build ships a train/val/test split that must be
    // reproducible on any cluster layout and any run: assignment is
    // hash64(doc_id) mod 100 (96/2/2), never random() or row order.
    // The census per (split, source) — docs, tokens, and each
    // source's share within its split — is the manifest reviewers
    // audit for stratification skew. One aggregate; the split is a
    // per-row expression.
    "pk12_split_manifest" -> { (s, d) =>
      val bucket = pmod(Hashing.hash64(col("doc_id").cast("string")), lit(100))
      val split = when(bucket < 96, "train").when(bucket < 98, "val")
        .otherwise("test")
      val base = Tables.documents(s, d)
        .select(split.as("split"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
      base
        .withColumn("split_docs",
          sum(col("n_docs")).over(Window.partitionBy(col("split"))).cast("long"))
        .withColumn("source_share_fx", expr(s"(n_docs * $Fx) div split_docs"))
        .select(col("split"), col("source"), col("n_docs"), col("n_tokens"),
          col("source_share_fx"))
        .orderBy(col("split"), col("source"))
    })

  def oracles: Map[String, String] = Map(
    "ev41_new_returning" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) // $DayUs AS day FROM events),
         |daily AS (
         |  SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_ev
         |  FROM e GROUP BY user_id, day),
         |fs AS (SELECT user_id, MIN(day) AS first_day FROM daily GROUP BY user_id)
         |SELECT day, CAST(SUM(n_ev) AS BIGINT) AS n_events,
         |  CAST(COUNT(*) AS BIGINT) AS n_active,
         |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |  CAST(COUNT(*) - SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_returning,
         |  (CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // COUNT(*) AS new_share_fx
         |FROM daily JOIN fs USING (user_id)
         |GROUP BY day ORDER BY day""".stripMargin,

    "q46_grouped_quartiles" ->
      s"""WITH vf AS (
         |  SELECT l_returnflag AS flag, CAST(floor(l_quantity) AS BIGINT) AS v,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM lineitem GROUP BY flag, v),
         |c AS (
         |  SELECT flag, v, cnt,
         |    CAST(SUM(cnt) OVER (PARTITION BY flag ORDER BY v) AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
         |  FROM vf)
         |SELECT flag, MAX(n) AS n_rows,
         |  MIN(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS p25,
         |  MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS p50,
         |  MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS p75
         |FROM c GROUP BY flag ORDER BY flag""".stripMargin,

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

    "pk12_split_manifest" -> {
      val h = Hashing.duckHash64("CAST(doc_id AS VARCHAR)")
      s"""WITH b AS (
         |  SELECT CASE WHEN (($h) % 100 + 100) % 100 < 96 THEN 'train'
         |              WHEN (($h) % 100 + 100) % 100 < 98 THEN 'val'
         |              ELSE 'test' END AS split,
         |    source, len(${Dedup.duckToks}) AS n_tokens
         |  FROM documents),
         |g AS (
         |  SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |  FROM b GROUP BY split, source)
         |SELECT split, source, n_docs, n_tokens,
         |  (n_docs * $Fx) // CAST(SUM(n_docs) OVER (PARTITION BY split) AS BIGINT)
         |    AS source_share_fx
         |FROM g ORDER BY split, source""".stripMargin
    })
}
