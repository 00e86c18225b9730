package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 fiftieth wave: robust spread via MAD (q71) and cascade
  * byte savings (mm13).
  *
  * Posture notes: q71 is two histogram-CDF passes over bounded
  * frames (values fold to per-(group, value) counts once; the
  * deviation histogram derives from the same bounded table joined to
  * the |groups|-row medians). mm13 reuses mm12's cascade decisions
  * with byte weights — the joins and banding are identical, only the
  * aggregate changes.
  */
object Round6ax extends Operators {

  private val Fx = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q71: median absolute deviation ----------------------------------
    // Stddev lies under heavy tails; MAD doesn't: per priority, the
    // exact median unit price and the exact median absolute
    // deviation from it — both via the histogram-CDF recipe, so
    // neither pass sorts rows. The robust-statistics primitive every
    // monitoring threshold should use instead of ±kσ.
    "q71_mad_robust" -> { (s, d) =>
      val vals = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT) div " +
            "greatest(CAST(floor(l_quantity) AS BIGINT), 1)").as("v"))
      val hist = Dedup.barrier(vals.groupBy(col("priority"), col("v"))
        .agg(count(lit(1)).cast("long").as("cnt")))
      def medianOf(h: DataFrame, valCol: String): DataFrame = {
        val wCum = Window.partitionBy(col("priority")).orderBy(col(valCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("priority"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        h.withColumn("cum", sum(col("cnt")).over(wCum).cast("long"))
          .withColumn("n", sum(col("cnt")).over(wAll).cast("long"))
          .groupBy(col("priority"))
          .agg(min(when(col("cum") * 2 >= col("n"), col(valCol))).as("med"),
            max(col("n")).as("n"))
      }
      val med = medianOf(hist, "v")
        .select(col("priority"), col("med").as("median_cents"),
          col("n").as("n_lines"))
      // NOT broadcast(med), measured (r13): forcing the 5-row median
      // frame into broadcast-build jobs read a converged 1.25x SLOWER
      // (2.51 -> 3.15 s at sf0.1, controls flat) than letting AQE
      // handle the 5-key exchange — the window pipeline behind med
      // serializes ahead of the probe side under an explicit
      // broadcast, while the hist exchange it saves is small in
      // absolute terms. ss40's orphan-join lesson does NOT transfer
      // when the build side carries the heavy lineage.
      val devHist = hist.join(med, Seq("priority"))
        .withColumn("dev", abs(col("v") - col("median_cents")))
        .groupBy(col("priority"), col("dev"))
        .agg(sum(col("cnt")).cast("long").as("cnt"))
      medianOf(devHist, "dev")
        .select(col("priority"), col("med").as("mad_cents"))
        .join(med, Seq("priority"))
        .withColumn("mad_share_fx",
          expr(s"(mad_cents * $Fx) div greatest(median_cents, 1)"))
        .select(col("priority"), col("n_lines"), col("median_cents"),
          col("mad_cents"), col("mad_share_fx"))
        .orderBy(col("priority"))
    },

    // --- mm13: cascade byte savings --------------------------------------
    // mm12 counts ITEMS; storage planning needs BYTES: per source,
    // bytes ingested, bytes dropped by the exact stage, bytes
    // dropped by the near stage, bytes kept, and the storage ratio —
    // the number that prices the dedup pipeline against the S3 bill.
    "mm13_cascade_bytes" -> { (s, d) =>
      val ascii = Tables.documents(s, d)
        .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      val media = Multimodal.asMedia(ascii)
      val dig = Dedup.barrier(media
        .withColumn("digest", md5(col("payload")))
        .select(col("media_id"), col("source"), col("byte_len"), col("digest")))
      val keep1 = dig.groupBy(col("digest")).agg(min(col("media_id")).as("keep_id"))
      val tagged = dig.join(keep1, Seq("digest"))
        .withColumn("exact_dup", col("media_id") =!= col("keep_id"))
      val survivors = tagged.filter(!col("exact_dup"))
        .select(col("media_id"))
      val codes = Round5d.stripePhash(media)
        .join(survivors, Seq("media_id"))
        .select(col("media_id"), col("phash"),
          posexplode(array((0 until Round5d.PhashBands).map(b =>
            shiftright(col("phash"), b * Round5d.PhashBandBits)
              .bitwiseAND(Round5d.PhashBandMask)): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bval")
      val nearRemoved = codes.select(col("band"), col("bval"),
          col("media_id").as("media_a"), col("phash").as("ph_a"))
        .join(codes.select(col("band"), col("bval"),
          col("media_id").as("media_b"), col("phash").as("ph_b")),
          Seq("band", "bval"))
        .filter(col("media_a") < col("media_b"))
        .select(col("media_a"), col("media_b"), col("ph_a"), col("ph_b"))
        .distinct()
        .filter(expr("bit_count(ph_a ^ ph_b)") <= 3)
        .select(col("media_b").as("media_id")).distinct()
        .withColumn("near_dup", lit(1L))
      tagged.join(nearRemoved, Seq("media_id"), "left")
        .withColumn("near_dup", coalesce(col("near_dup"), lit(0L)))
        .groupBy(col("source"))
        .agg(sum(col("byte_len")).cast("long").as("bytes_in"),
          sum(when(col("exact_dup"), col("byte_len")).otherwise(0L))
            .cast("long").as("bytes_exact_dropped"),
          sum(when(!col("exact_dup") && col("near_dup") === 1L,
            col("byte_len")).otherwise(0L)).cast("long")
            .as("bytes_near_dropped"))
        .withColumn("bytes_kept",
          col("bytes_in") - col("bytes_exact_dropped") - col("bytes_near_dropped"))
        // decimal staging (r13 sf1 audit class): per-source byte sums
        // cross the int64 Fx-multiply cliff at ~10^12 bytes — run the
        // share in DECIMAL(20,0) like q40/q74's money sums
        .withColumn("keep_fx",
          expr(s"(CAST(bytes_kept AS DECIMAL(20,0)) * $Fx) div bytes_in"))
        .select(col("source"), col("bytes_in"), col("bytes_exact_dropped"),
          col("bytes_near_dropped"), col("bytes_kept"), col("keep_fx"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    "q71_mad_robust" ->
      s"""WITH vals AS (
         |  SELECT o_orderpriority AS priority,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT)
         |      // greatest(CAST(floor(l_quantity) AS BIGINT), 1) AS v
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |hist AS (
         |  SELECT priority, v, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM vals GROUP BY 1, 2),
         |m1 AS (
         |  SELECT priority,
         |    MIN(CASE WHEN cum * 2 >= n THEN v END) AS median_cents,
         |    MAX(n) AS n_lines
         |  FROM (
         |    SELECT priority, v, cnt,
         |      SUM(cnt) OVER (PARTITION BY priority ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |      SUM(cnt) OVER (PARTITION BY priority) AS n
         |    FROM hist)
         |  GROUP BY 1),
         |dh AS (
         |  SELECT h.priority, abs(h.v - m1.median_cents) AS dev,
         |    CAST(SUM(h.cnt) AS BIGINT) AS cnt
         |  FROM hist h JOIN m1 USING (priority) GROUP BY 1, 2),
         |m2 AS (
         |  SELECT priority,
         |    MIN(CASE WHEN cum * 2 >= n THEN dev END) AS mad_cents
         |  FROM (
         |    SELECT priority, dev, cnt,
         |      SUM(cnt) OVER (PARTITION BY priority ORDER BY dev
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |      SUM(cnt) OVER (PARTITION BY priority) AS n
         |    FROM dh)
         |  GROUP BY 1)
         |SELECT m1.priority, CAST(n_lines AS BIGINT) AS n_lines,
         |  median_cents, mad_cents,
         |  (mad_cents * $Fx) // greatest(median_cents, 1) AS mad_share_fx
         |FROM m1 JOIN m2 USING (priority) ORDER BY m1.priority""".stripMargin,

    "mm13_cascade_bytes" ->
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, source, md5(text) AS digest,
         |    CAST(strlen(text) AS BIGINT) AS byte_len
         |  FROM documents
         |  WHERE length(text) > 0 AND regexp_matches(text, '^[\\x00-\\x7F]*$$')),
         |k1 AS (SELECT digest, MIN(media_id) AS keep_id FROM m GROUP BY 1),
         |tagged AS (
         |  SELECT m.media_id, m.source, m.byte_len,
         |    m.media_id <> k1.keep_id AS exact_dup
         |  FROM m JOIN k1 USING (digest)),
         |codes AS (${Round5d.duckPhash}),
         |scodes AS (
         |  SELECT c.media_id, c.phash FROM codes c
         |  JOIN tagged t ON t.media_id = c.media_id AND NOT t.exact_dup),
         |banded AS (
         |  SELECT media_id, phash, b AS band,
         |    (phash >> (b * ${Round5d.PhashBandBits})) & ${Round5d.PhashBandMask} AS bval
         |  FROM scodes CROSS JOIN
         |    (SELECT unnest(range(${Round5d.PhashBands})) AS b) t),
         |nr AS (
         |  SELECT DISTINCT media_b AS media_id FROM (
         |    SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         |      a.phash AS ph_a, b.phash AS ph_b
         |    FROM banded a JOIN banded b
         |      ON a.band = b.band AND a.bval = b.bval AND a.media_id < b.media_id)
         |  WHERE bit_count(xor(ph_a, ph_b)) <= 3)
         |SELECT t.source,
         |  CAST(SUM(t.byte_len) AS BIGINT) AS bytes_in,
         |  CAST(SUM(CASE WHEN t.exact_dup THEN t.byte_len ELSE 0 END) AS BIGINT)
         |    AS bytes_exact_dropped,
         |  CAST(SUM(CASE WHEN NOT t.exact_dup AND nr.media_id IS NOT NULL
         |    THEN t.byte_len ELSE 0 END) AS BIGINT) AS bytes_near_dropped,
         |  CAST(SUM(CASE WHEN NOT t.exact_dup AND nr.media_id IS NULL
         |    THEN t.byte_len ELSE 0 END) AS BIGINT) AS bytes_kept,
         |  CAST((CAST(SUM(CASE WHEN NOT t.exact_dup AND nr.media_id IS NULL
         |    THEN t.byte_len ELSE 0 END) AS HUGEINT) * $Fx)
         |    // CAST(SUM(t.byte_len) AS BIGINT) AS BIGINT) AS keep_fx
         |FROM tagged t LEFT JOIN nr ON nr.media_id = t.media_id
         |GROUP BY t.source ORDER BY t.source""".stripMargin)
}
