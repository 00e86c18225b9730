package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-6 forty-seventh wave: near-dup transitivity audit (dd36)
  * and CUSUM changepoint detection (q69).
  *
  * Posture notes: dd36's wedges come from one self equi-join of the
  * slim confirmed-dup edge list on the shared endpoint (bounded by
  * the dup graph's degree, which banding keeps sparse) and close
  * with one more slim join — arrays never travel. q69 is all
  * integer: cusum_k = n·prefix_k − k·total needs no division, and
  * every window runs over the bounded day table.
  */
object Round6au extends Operators {

  private val Fx = 1000000L

  /** dd36: exact-Jaccard duplicate line (dd32's). */
  private val DupJfx = 500000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd36: near-dup transitivity audit -------------------------------
    // "Near-duplicate" is not transitive, and how badly it fails IS
    // the design argument for dd06's connected-component clustering:
    // every open wedge (a~b, b~c, a̸~c) is a pair that pairwise
    // dedup and cluster dedup treat differently. Census: confirmed
    // dup edges, wedges, closed triangles, and the closure share —
    // low closure = chains, where CC merges aggressively and the
    // keeper policy (dd10/dd30) matters most.
    "dd36_transitivity" -> { (s, d) =>
      val shingled = Dedup.barrier(Dedup.docShingles(s, d))
      val banded = Dedup.barrierAlso(Dedup.bandedSignaturesOf(shingled))  // r13 opt: read the barriered shingle cache, not a second md5 lineage
      val cand = banded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_a"))
        .join(banded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_b")), Seq("band", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      val edges = Dedup.barrierAlso(cand
        .join(shingled.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")),
          Seq("doc_a"))
        .join(shingled.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")),
          Seq("doc_b"))
        .withColumn("common",
          graft.functions.IntersectCountExpr(col("sh_a"), col("sh_b"))
            .cast("long"))
        .filter(expr(s"(common * $Fx) div (size(sh_a) + size(sh_b) - common)")
          >= DupJfx)
        .select(col("doc_a"), col("doc_b")))
      // undirected adjacency: each edge in both directions
      val adj = edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionByName(edges.select(col("doc_b").as("u"), col("doc_a").as("v")))
      // wedges centered at u: unordered neighbor pairs (a < c)
      val wedges = adj.select(col("u"), col("v").as("a"))
        .join(adj.select(col("u"), col("v").as("c")), Seq("u"))
        .filter(col("a") < col("c"))
        .select(col("a"), col("c"))
      val closed = wedges
        .join(edges.select(col("doc_a").as("a"), col("doc_b").as("c"))
          .withColumn("e", lit(1L)), Seq("a", "c"), "left")
      val edgeCount = edges.agg(count(lit(1)).cast("long").as("n_edges"))
      closed.agg(
          count(lit(1)).cast("long").as("n_wedges"),
          sum(coalesce(col("e"), lit(0L))).cast("long").as("n_closed"))
        .crossJoin(broadcast(edgeCount))
        .withColumn("closure_fx",
          expr(s"(n_closed * $Fx) div greatest(n_wedges, 1)"))
        .select(col("n_edges"), col("n_wedges"), col("n_closed"),
          col("closure_fx"))
    },

    // --- q69: CUSUM changepoint ------------------------------------------
    // The classic mean-shift detector, exact: over daily order
    // counts, cusum_k = n·prefix_k − k·total (integer — no mean
    // division), and the day with the maximum |cusum| is the
    // changepoint candidate with its normalized magnitude. Output
    // per day over the bounded day table; one flagged row.
    "q69_cusum_changepoint" -> { (s, d) =>
      // day is emitted as yyyy-MM-dd TEXT, not DATE: DuckDB hands
      // pandas datetime64 for DATE while Spark parquet yields date
      // objects — a dtype-parity hazard class (see q44/pk17); strings
      // hash identically on both sides.
      val days = Tables.orders(s, d)
        .groupBy(date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).cast("long").as("x"))
      val w = Window.orderBy(col("day"))
      val totals = days.agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("t"))
      val cusum = days
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("prefix", sum(col("x")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
        .crossJoin(broadcast(totals))
        .withColumn("cusum", col("n") * col("prefix") - col("k") * col("t"))
      val peak = cusum.agg(max(abs(col("cusum"))).as("peak_abs"))
      cusum.crossJoin(broadcast(peak))
        .withColumn("is_changepoint", abs(col("cusum")) === col("peak_abs"))
        .select(col("day"), col("x"), col("cusum"), col("is_changepoint"))
        .orderBy(col("day"))
    })

  def oracles: Map[String, String] = Map(
    "dd36_transitivity" ->
      s"""WITH ${Dedup.duckBandedCtes},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN sh_t sa ON sa.doc_id = c.doc_a
         |  JOIN sh_t sb ON sb.doc_id = c.doc_b
         |  WHERE (len(list_intersect(sa.shs, sb.shs)) * $Fx) //
         |    (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))
         |    >= $DupJfx),
         |adj AS (
         |  SELECT doc_a AS u, doc_b AS v FROM edges
         |  UNION ALL
         |  SELECT doc_b AS u, doc_a AS v FROM edges),
         |wedges AS (
         |  SELECT x.v AS a, y.v AS c
         |  FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v),
         |cl AS (
         |  SELECT w.a, w.c, e.doc_a IS NOT NULL AS closed
         |  FROM wedges w LEFT JOIN edges e
         |    ON w.a = e.doc_a AND w.c = e.doc_b),
         |ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
         |SELECT n_edges,
         |  CAST(COUNT(*) AS BIGINT) AS n_wedges,
         |  CAST(SUM(CASE WHEN closed THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
         |  (CAST(SUM(CASE WHEN closed THEN 1 ELSE 0 END) AS BIGINT) * $Fx)
         |    // greatest(CAST(COUNT(*) AS BIGINT), 1) AS closure_fx
         |FROM cl CROSS JOIN ec GROUP BY n_edges""".stripMargin,

    "q69_cusum_changepoint" ->
      s"""WITH days AS (
         |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
         |    CAST(COUNT(*) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(x) AS BIGINT) AS t FROM days),
         |c AS (
         |  SELECT day, x,
         |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
         |    CAST(SUM(x) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS prefix
         |  FROM days),
         |cs AS (
         |  SELECT day, x, n * prefix - k * t.t AS cusum
         |  FROM c CROSS JOIN t),
         |p AS (SELECT MAX(abs(cusum)) AS peak_abs FROM cs)
         |SELECT day, x, cusum, abs(cusum) = peak_abs AS is_changepoint
         |FROM cs CROSS JOIN p ORDER BY day""".stripMargin)
}
