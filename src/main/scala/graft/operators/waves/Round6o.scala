package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 fifteenth wave: physical-layout data skipping (q50),
  * boilerplate prefix/suffix census (tx28), and the dedup source-mix
  * shift audit (dd29).
  *
  * Posture notes: q50 measures the file-skipping yield of a Z-ORDER
  * layout against a time-sorted layout from per-file min/max zone
  * maps — the decision tool for laying out a 100 TB table; the zone
  * maps are bounded grouped aggregates (≤256 files/layout), so the
  * non-equi predicate probe runs on a few hundred rows. tx28/dd29
  * are hash-groupBy censuses on fingerprint keys with bounded group
  * tables.
  */
object Round6o extends Operators {

  private val Fx = 1000000L

  /** q50 bucket resolution per dimension (8 bits). */
  private val ZBits = 8
  private val ZBuckets = 1 << ZBits // 256

  /** Bit-interleave (Morton / Z-order) of two ZBits-bit bucket ids,
    * as a SQL fragment valid in BOTH engines (shiftright/& arithmetic
    * only): x occupies odd bit positions, y even.
    */
  private def zInterleave(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i + 1)} + (($y >> $i) & 1) * ${1L << (2 * i)})"
    }.mkString(" + ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q50: Z-order vs time-sort data skipping -----------------------
    // At 100 TB the scan cost of a selective query is decided by the
    // FILE LAYOUT: a time-sorted table answers date ranges from few
    // files but reads everything for a customer filter; a Z-order
    // layout (bit-interleaved custkey × day buckets) serves BOTH
    // dimensions at ~sqrt selectivity. This prices the choice from
    // data, not folklore: rows map to files under each layout (file
    // id = date bucket resp. Morton-code prefix), per-file zone maps
    // (min/max per dimension) come from one grouped aggregate, and
    // each predicate counts the files its box intersects. Bounds are
    // a 1-row broadcast; zone-map tables are ≤256 rows/layout.
    "q50_zorder_skipping" -> { (s, d) =>
      import s.implicits._
      val o = Tables.orders(s, d)
        // o_orderdate's parquet encoding varies by testdata round
        // (TIMESTAMP vs TIMESTAMP_NTZ); the cast is exact under the
        // pinned UTC session and a no-op when already zoned
        .select(col("o_custkey").as("ck"),
          expr("unix_micros(cast(o_orderdate as timestamp))").as("us"))
      val b = o.agg(min(col("ck")).as("minc"), max(col("ck")).as("maxc"),
        min(col("us")).as("minus"), max(col("us")).as("maxus"))
      val bucketed = o.crossJoin(broadcast(b))
        .withColumn("du", expr("(us - minus) div 86400000000"))
        .withColumn("dmax", expr("(maxus - minus) div 86400000000"))
        .withColumn("xb", expr(s"((ck - minc) * $ZBuckets) div (maxc - minc + 1)"))
        .withColumn("yb", expr(s"(du * $ZBuckets) div (dmax + 1)"))
      val withFiles = bucketed
        .withColumn("file_time", col("yb"))
        .withColumn("file_z", expr(s"(${zInterleave("xb", "yb")}) div $ZBuckets"))
      def zoneMap(fileCol: String, layout: String) = withFiles
        .groupBy(col(fileCol).as("file_id"))
        .agg(min(col("xb")).as("min_x"), max(col("xb")).as("max_x"),
          min(col("yb")).as("min_y"), max(col("yb")).as("max_y"))
        .withColumn("layout", lit(layout))
      val zones = zoneMap("file_time", "1_time_sorted")
        .unionByName(zoneMap("file_z", "2_zorder"))
      // predicate boxes: one 1/16 slice per dimension, and both
      val preds = Seq(
        ("cust_slice", 0L, 15L, 0L, 255L),
        ("date_slice", 0L, 255L, 0L, 15L),
        ("both", 0L, 15L, 0L, 15L))
        .toDF("pred", "xlo", "xhi", "ylo", "yhi")
      zones.join(broadcast(preds),
          col("min_x") <= col("xhi") && col("max_x") >= col("xlo") &&
            col("min_y") <= col("yhi") && col("max_y") >= col("ylo"), "right")
        .groupBy(col("layout"), col("pred"))
        .agg(count(col("file_id")).cast("long").as("files_touched"))
        .join(zones.groupBy(col("layout")).agg(count(lit(1)).cast("long").as("files_total")),
          Seq("layout"))
        .withColumn("skip_fx",
          expr(s"((files_total - files_touched) * $Fx) div files_total"))
        .select(col("layout"), col("pred"), col("files_total"),
          col("files_touched"), col("skip_fx"))
        .orderBy(col("layout"), col("pred"))
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
      val toks = split(trim(col("text")), "\\s+")
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

    // --- dd29: dedup source-mix shift ----------------------------------
    // Dedup is not mix-neutral: sources that syndicate lose mass to
    // the min-doc_id keeper rule, so the post-dedup corpus mix
    // silently drifts from the curated pre-dedup mix. Per source:
    // docs before, keepers after (dd01's exact fingerprint, keeper =
    // min doc_id per group), fixed-point share of corpus before and
    // after, and the signed shift. One fingerprint aggregate keyed
    // (fp) for keepers + one per-source fold; corpus totals are a
    // 1-row broadcast.
    "dd29_dedup_mix_shift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), Hashing.hash64(col("text")).as("fp"))
      val keepers = docs.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"))
      val keeperSrc = docs.join(keepers,
          col("doc_id") === col("keep_id") && docs("fp") === keepers("fp"))
        .select(col("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_keepers"))
      val pre = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = pre.agg(sum(col("n_docs")).as("tot_pre"))
      val totK = keeperSrc.agg(sum(col("n_keepers")).as("tot_post"))
      pre.join(keeperSrc, Seq("source"), "left")
        .withColumn("n_keepers", coalesce(col("n_keepers"), lit(0L)))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(totK))
        .withColumn("pre_share_fx", expr(s"(n_docs * $Fx) div tot_pre"))
        .withColumn("post_share_fx", expr(s"(n_keepers * $Fx) div tot_post"))
        .withColumn("shift_fx", col("post_share_fx") - col("pre_share_fx"))
        .select(col("source"), col("n_docs").cast("long").as("n_docs"),
          col("n_keepers").cast("long").as("n_keepers"),
          col("pre_share_fx"), col("post_share_fx"), col("shift_fx"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    "q50_zorder_skipping" ->
      s"""WITH o AS (
         |  SELECT o_custkey AS ck, epoch_us(o_orderdate) AS us FROM orders),
         |b AS (
         |  SELECT MIN(ck) AS minc, MAX(ck) AS maxc,
         |    MIN(us) AS minus, MAX(us) AS maxus FROM o),
         |bu AS (
         |  SELECT ((ck - minc) * $ZBuckets) // (maxc - minc + 1) AS xb,
         |    (((us - minus) // 86400000000) * $ZBuckets)
         |      // (((maxus - minus) // 86400000000) + 1) AS yb
         |  FROM o CROSS JOIN b),
         |wf AS (
         |  SELECT xb, yb, yb AS file_time,
         |    (${zInterleave("xb", "yb")}) // $ZBuckets AS file_z
         |  FROM bu),
         |zt AS (
         |  SELECT '1_time_sorted' AS layout, file_time AS file_id,
         |    MIN(xb) AS min_x, MAX(xb) AS max_x, MIN(yb) AS min_y, MAX(yb) AS max_y
         |  FROM wf GROUP BY file_time
         |  UNION ALL
         |  SELECT '2_zorder' AS layout, file_z AS file_id,
         |    MIN(xb) AS min_x, MAX(xb) AS max_x, MIN(yb) AS min_y, MAX(yb) AS max_y
         |  FROM wf GROUP BY file_z),
         |preds AS (
         |  SELECT * FROM (VALUES
         |    ('cust_slice', 0, 15, 0, 255),
         |    ('date_slice', 0, 255, 0, 15),
         |    ('both', 0, 15, 0, 15)) AS t(pred, xlo, xhi, ylo, yhi)),
         |touched AS (
         |  SELECT zt.layout, preds.pred,
         |    CAST(COUNT(zt.file_id) AS BIGINT) AS files_touched
         |  FROM preds LEFT JOIN zt
         |    ON zt.min_x <= preds.xhi AND zt.max_x >= preds.xlo
         |   AND zt.min_y <= preds.yhi AND zt.max_y >= preds.ylo
         |  GROUP BY zt.layout, preds.pred),
         |totals AS (
         |  SELECT layout, CAST(COUNT(*) AS BIGINT) AS files_total
         |  FROM zt GROUP BY layout)
         |SELECT touched.layout, pred, files_total, files_touched,
         |  ((files_total - files_touched) * $Fx) // files_total AS skip_fx
         |FROM touched JOIN totals ON touched.layout = totals.layout
         |ORDER BY touched.layout, pred""".stripMargin,

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

    "dd29_dedup_mix_shift" -> {
      val fp = Hashing.duckHash64("text")
      s"""WITH d AS (
         |  SELECT doc_id, source, $fp AS fp FROM documents),
         |k AS (SELECT fp, MIN(doc_id) AS keep_id FROM d GROUP BY fp),
         |ks AS (
         |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_keepers
         |  FROM d JOIN k ON d.doc_id = k.keep_id AND d.fp = k.fp
         |  GROUP BY d.source),
         |pre AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM d GROUP BY source),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_pre FROM pre),
         |tk AS (SELECT CAST(SUM(n_keepers) AS BIGINT) AS tot_post FROM ks)
         |SELECT pre.source, n_docs,
         |  CAST(COALESCE(n_keepers, 0) AS BIGINT) AS n_keepers,
         |  (n_docs * $Fx) // tot_pre AS pre_share_fx,
         |  (CAST(COALESCE(n_keepers, 0) AS BIGINT) * $Fx) // tot_post
         |    AS post_share_fx,
         |  (CAST(COALESCE(n_keepers, 0) AS BIGINT) * $Fx) // tot_post
         |    - (n_docs * $Fx) // tot_pre AS shift_fx
         |FROM pre LEFT JOIN ks ON pre.source = ks.source
         |CROSS JOIN t CROSS JOIN tk
         |ORDER BY pre.source""".stripMargin
    })
}
