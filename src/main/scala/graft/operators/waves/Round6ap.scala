package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 forty-second wave: duplicate provenance octaves (dd34)
  * and daily-autocorrelation seasonality (q66).
  *
  * Posture notes: dd34 folds per fingerprint group (hash groupBy —
  * dd01's shuffle) to (min, max) ids and censuses the bounded octave
  * table; no pair enumeration at all. q66 folds facts to per-day
  * counts once and self-joins the bounded day table on day+lag.
  */
object Round6ap extends Operators {

  private val Fx = 1000000L

  /** q66: autocorrelation lags (days). */
  private val MaxLag = 14

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd34: duplicate provenance octaves ------------------------------
    // WHERE near-duplicates sit in ingestion order is provenance:
    // clone groups whose ids are near each other are crawler
    // re-fetch churn; groups spanning the corpus are true
    // syndication. The grouping key is tx28's 8-token opening-run
    // fingerprint (the boilerplate signal that actually collides).
    // Per octave of the group's id span (0 = adjacent): groups,
    // copies, and removable mass — read before choosing between a
    // within-batch dedup and a full-corpus one. Group fold only
    // (min/max id per fingerprint), never pairs.
    "dd34_dup_provenance" -> { (s, d) =>
      val groups = Tables.documents(s, d)
        .select(col("doc_id"),
          Hashing.hash64(concat_ws(" ",
            slice(TextAnalysis.tokens(col("text")), 1, 8))).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
          count(lit(1)).cast("long").as("n_copies"))
        .filter(col("n_copies") >= 2L)
        .withColumn("span", col("hi") - col("lo"))
        .withColumn("octave",
          floor(log2(col("span").cast("double"))).cast("long"))
      groups.groupBy(col("octave"))
        .agg(count(lit(1)).cast("long").as("n_groups"),
          sum(col("n_copies")).cast("long").as("n_copies"),
          sum(col("n_copies") - 1L).cast("long").as("n_removable"))
        .orderBy(col("octave"))
    },

    // --- q66: daily autocorrelation --------------------------------------
    // The seasonality detector behind q44's hour profile: daily
    // order counts autocorrelated at lags 1..14 — the lag-7 spike IS
    // the weekly cycle, measured instead of assumed. Facts fold to
    // the bounded day table once; each lag is an equi-join on
    // day + lag over that table; the correlation arithmetic runs on
    // engine-identical doubles (sums of integer counts) with trunc4.
    "q66_daily_autocorr" -> { (s, d) =>
      val days = Dedup.barrier(Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("n")))
      val stats = days.agg(
        count(lit(1)).cast("long").as("n_days"),
        sum(col("n")).cast("long").as("s"),
        sum(col("n") * col("n")).cast("long").as("ss"))
      val lags = { import s.implicits._
        (1 to MaxLag).map(_.toLong).toDF("lag") }
      val pairs = days.select(col("day"), col("n").as("x"))
        .crossJoin(broadcast(lags))
        .join(days.select(col("day").as("day2"), col("n").as("y")),
          expr("date_add(day, CAST(lag AS INT)) = day2"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("x") * col("y")).cast("long").as("sxy"),
          sum(col("x")).cast("long").as("sx"), sum(col("y")).cast("long").as("sy"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("y") * col("y")).cast("long").as("syy"))
      pairs
        .withColumn("autocorr4", Det.trunc4(
          (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
             sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy"))
               .cast("double")))))
        .select(col("lag"), col("n_pairs"), col("autocorr4"))
        .orderBy(col("lag"))
    })

  def oracles: Map[String, String] = Map(
    "dd34_dup_provenance" -> {
      val fp = Hashing.duckHash64(
        s"array_to_string(${Dedup.duckToks}[1:8], ' ')")
      s"""WITH g AS (
         |  SELECT $fp AS fp, MIN(doc_id) AS lo, MAX(doc_id) AS hi,
         |    CAST(COUNT(*) AS BIGINT) AS n_copies
         |  FROM documents GROUP BY 1 HAVING COUNT(*) >= 2),
         |o AS (
         |  SELECT CAST(floor(log2(CAST(hi - lo AS DOUBLE))) AS BIGINT)
         |    AS octave, n_copies
         |  FROM g)
         |SELECT octave, CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(SUM(n_copies) AS BIGINT) AS n_copies,
         |  CAST(SUM(n_copies - 1) AS BIGINT) AS n_removable
         |FROM o GROUP BY 1 ORDER BY octave""".stripMargin
    },

    "q66_daily_autocorr" ->
      s"""WITH days AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM orders GROUP BY 1),
         |p AS (
         |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(a.n * b.n) AS BIGINT) AS sxy,
         |    CAST(SUM(a.n) AS BIGINT) AS sx, CAST(SUM(b.n) AS BIGINT) AS sy,
         |    CAST(SUM(a.n * a.n) AS BIGINT) AS sxx,
         |    CAST(SUM(b.n * b.n) AS BIGINT) AS syy
         |  FROM days a
         |  CROSS JOIN (SELECT unnest(range(1, ${MaxLag + 1})) AS lag) l
         |  JOIN days b ON a.day + CAST(l.lag AS INT) = b.day
         |  GROUP BY 1)
         |SELECT lag, n_pairs,
         |  ${Det.duckTrunc(
            "CAST(n_pairs * sxy - sx * sy AS DOUBLE) / " +
            "(sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) * " +
            "sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))", 4)} AS autocorr4
         |FROM p ORDER BY lag""".stripMargin)
}
