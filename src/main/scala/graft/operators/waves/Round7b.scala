package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-7 second wave: the LSH-banding planner (dd38), the customer
  * gains/lift table (q74), and the stopword quality profile (tx35).
  *
  * Posture notes: dd38 re-bands ONE barriered signature table under
  * each candidate geometry and folds each to a buckets-sized
  * occupancy aggregate (no pair materialization anywhere — the cost
  * metric IS Σ occ·(occ−1)/2); q74 windows only the per-customer
  * aggregate and the 10-row decile frame; tx35 is one explode +
  * groupBy with a literal stopword set.
  */
object Round7b extends Operators {

  private val Fx = 1000000L

  /** dd38: candidate (bands, rows-per-band) splits of the k=16
    * MinHash signature — the OR-of-ANDs dial.
    */
  val Allocations: Seq[(Int, Int)] = Seq((16, 1), (8, 2), (4, 4), (2, 8))

  /** The S-curve grid: capture probability is evaluated at these
    * Jaccard values (fixed-point).
    */
  val JGridFx: Seq[Long] = Seq(300000L, 500000L, 700000L, 900000L)

  /** 1 − (1 − J^r)^b in EXACT truncating fixed-point — the same
    * integer arithmetic either engine would produce, so the value is
    * a shared literal, not a float-parity risk. acc updates truncate
    * through the Fx domain each multiply, matching `div`/`//`.
    */
  def captureFx(jFx: Long, b: Int, r: Int): Long = {
    val jr = (1 to r).foldLeft(Fx)((acc, _) => acc * jFx / Fx)
    val miss = Fx - jr
    val missAll = (1 to b).foldLeft(Fx)((acc, _) => acc * miss / Fx)
    Fx - missAll
  }

  /** tx35: a fixed high-frequency English stopword set (literal —
    * the profile must be deterministic and oracle-shared).
    */
  val Stopwords: Seq[String] = Seq(
    "the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "at")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd38: banding-allocation planner --------------------------------
    // dd21 plots the S-curve for the SHIPPED (4,4) geometry; this is
    // the planner that PICKS a geometry: for every (b, r) split of
    // the same 16 minhashes it pairs the analytic capture
    // probabilities (exact fixed-point literals — integer arithmetic,
    // no float parity risk) with the MEASURED corpus cost of that
    // geometry: bucket count, hottest bucket, and Σ occ·(occ−1)/2
    // collision pairs — the LSH join's actual work term. One
    // barriered signature table, re-banded b ways per allocation,
    // each folded to a buckets-sized aggregate; pairs are never
    // materialized. More bands = higher capture at low J but
    // strictly more collision work: this table is the dial, priced
    // on the real corpus.
    "dd38_band_allocation" -> { (s, d) =>
      val base = Dedup.barrier(Dedup.docShingles(s, d)
        .select(col("doc_id"), Dedup.minhashSig(col("shs")).as("sig")))
      val perAlloc = Allocations.map { case (b, r) =>
        val bandCols = (0 until b).map { j =>
          Hashing.hash64(concat_ws(",",
            (0 until r).map(i =>
              element_at(col("sig"), j * r + i + 1).cast("string")): _*))
        }
        val occ = base
          .select(col("doc_id"), posexplode(array(bandCols: _*)))
          .groupBy(col("pos").as("band"), col("col").as("band_hash"))
          .agg(count(lit(1)).as("occ"))
        val agg = occ.agg(
          count(lit(1)).cast("long").as("n_buckets"),
          max(col("occ")).cast("long").as("max_occ"),
          sum(expr("occ * (occ - 1) div 2")).cast("long").as("collision_pairs"))
        val withCurve = JGridFx.zipWithIndex.foldLeft(
          agg.withColumn("bands", lit(b)).withColumn("rows_per_band", lit(r))) {
          case (df, (jfx, i)) =>
            df.withColumn(s"p${jfx / 10000}_fx", lit(captureFx(jfx, b, r)))
        }
        withCurve.select(col("bands"), col("rows_per_band"),
          col("p30_fx"), col("p50_fx"), col("p70_fx"), col("p90_fx"),
          col("n_buckets"), col("max_occ"), col("collision_pairs"))
      }
      perAlloc.reduce(_ unionByName _).orderBy(col("rows_per_band"))
    },

    // --- q74: customer gains/lift table ----------------------------------
    // The campaign-targeting page: customers ranked by total spend,
    // cut into exact integer deciles (q54's rank arithmetic — no
    // NTILE parity risk), each decile's spend share, cumulative
    // gains, and lift vs uniform. Windows run over the per-customer
    // aggregate and then the 10-row decile frame only.
    "q74_gains_table" -> { (s, d) =>
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val n1 = spend.agg(count(lit(1)).cast("long").as("n"))
      val ranked = spend.crossJoin(broadcast(n1))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("cents").desc, col("o_custkey"))).cast("long"))
        .withColumn("decile", expr("((rn - 1) * 10) div n").cast("int"))
      val byDecile = ranked.groupBy(col("decile"))
        .agg(count(lit(1)).cast("long").as("n_customers"),
          sum(col("cents")).cast("long").as("spend_cents"))
      val total = byDecile.agg(sum(col("spend_cents")).cast("long").as("total_cents"))
      byDecile.crossJoin(broadcast(total))
        // decimal staging (r13 sf1 audit): spend sums are corpus-
        // proportional, so the Fx multiply overflows int64 at 10x data
        // (measured at sf1) — run it in DECIMAL(20,0), mirror with
        // HUGEINT in the oracle; `div` keeps the BIGINT share.
        .withColumn("share_fx",
          expr(s"(CAST(spend_cents AS DECIMAL(20,0)) * $Fx) div total_cents"))
        .withColumn("cum_share_fx",
          expr(s"(CAST(sum(spend_cents) over (order by decile rows between unbounded preceding and current row) AS DECIMAL(20,0)) * $Fx) div total_cents"))
        .withColumn("lift_fx", col("share_fx") * 10L)
        .select(col("decile"), col("n_customers"), col("spend_cents"),
          col("share_fx"), col("cum_share_fx"), col("lift_fx"))
        .orderBy(col("decile"))
    },

    // --- tx35: stopword quality profile ----------------------------------
    // The cheapest language-quality signal there is: natural prose
    // carries a stable mass of closed-class words; templated or
    // synthetic text does not. Per source: token mass, stopword
    // share, and coverage of the 20-word set — one explode + two
    // bounded aggregates.
    "tx35_stopword_profile" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .withColumn("lt", lower(col("tok")))
        .withColumn("is_stop", col("lt").isin(Stopwords: _*))
      toks.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(when(col("is_stop"), 1L).otherwise(0L)).cast("long")
            .as("n_stop_tokens"),
          countDistinct(when(col("is_stop"), col("lt"))).cast("long")
            .as("n_stop_distinct"))
        .withColumn("stop_share_fx", expr(s"(n_stop_tokens * $Fx) div n_tokens"))
        .withColumn("coverage_fx",
          expr(s"(n_stop_distinct * $Fx) div ${Stopwords.size}"))
        .select(col("source"), col("n_tokens"), col("n_stop_tokens"),
          col("n_stop_distinct"), col("stop_share_fx"), col("coverage_fx"))
        .orderBy(col("source"))
    })

  def oracles: Map[String, String] = Map(
    "dd38_band_allocation" -> {
      val arms = Allocations.map { case (b, r) =>
        val bandRows = (0 until b).map { j =>
          val parts = (0 until r).map(i => s"CAST(sig_${j * r + i} AS VARCHAR)")
            .mkString(" || ',' || ")
          s"SELECT $j AS band, ${Hashing.duckHash64(s"($parts)")} AS band_hash FROM sigs"
        }.mkString("\n    UNION ALL\n    ")
        val ps = JGridFx.map(jfx =>
          s"CAST(${captureFx(jfx, b, r)} AS BIGINT) AS p${jfx / 10000}_fx")
          .mkString(", ")
        s"""SELECT $b AS bands, $r AS rows_per_band, $ps,
           |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
           |  CAST(MAX(occ) AS BIGINT) AS max_occ,
           |  CAST(SUM(occ * (occ - 1) // 2) AS BIGINT) AS collision_pairs
           |FROM (
           |  SELECT band, band_hash, COUNT(*) AS occ FROM (
           |    $bandRows)
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${Dedup.duckShTSigsCtes}
         |$arms
         |ORDER BY rows_per_band""".stripMargin
    },

    "q74_gains_table" ->
      s"""WITH spend AS (
         |  SELECT o_custkey,
         |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |      AS cents
         |  FROM orders GROUP BY 1),
         |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spend),
         |ranked AS (
         |  SELECT cents,
         |    CAST(((row_number() OVER (ORDER BY cents DESC, o_custkey) - 1)
         |      * 10) // n AS INT) AS decile
         |  FROM spend CROSS JOIN n1),
         |d AS (
         |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         |    CAST(SUM(cents) AS BIGINT) AS spend_cents
         |  FROM ranked GROUP BY 1),
         |t AS (SELECT CAST(SUM(spend_cents) AS BIGINT) AS total_cents FROM d)
         |SELECT decile, n_customers, spend_cents,
         |  CAST((CAST(spend_cents AS HUGEINT) * $Fx) // total_cents
         |    AS BIGINT) AS share_fx,
         |  CAST((CAST(SUM(spend_cents) OVER (ORDER BY decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
         |    * $Fx) // total_cents AS BIGINT) AS cum_share_fx,
         |  CAST((CAST(spend_cents AS HUGEINT) * $Fx) // total_cents * 10
         |    AS BIGINT) AS lift_fx
         |FROM d CROSS JOIN t ORDER BY decile""".stripMargin,

    "tx35_stopword_profile" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
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
         |    * $Fx) // ${Stopwords.size} AS coverage_fx
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
