package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 twenty-seventh wave: bounded-round bipartite PageRank
  * (q56) and Merkle range-digest snapshot reconciliation (q57).
  *
  * Posture notes: q56 is the Pregel-style iterative pattern done as
  * unrolled equi-join rounds — every round is one join on the edge
  * key + one aggregate, rank tables stay entity-sized, and the edge
  * table materializes once behind a barrier so the rounds never
  * re-run the fact join. No collect, no driver loop: the round count
  * is a compile-time constant (the production shape for bounded
  * label/mass propagation; unbounded variants belong to the
  * checkpointed loop in [[Components]]). q57 folds each snapshot to
  * 256 (bucket, count, digest) rows — anti-entropy reconciliation
  * reads two 256-row summaries, never the fact tables, exactly how a
  * 100 TB table pair is diffed without a row-level join.
  */
object Round6aa extends Operators {

  private val Fx = 1000000L

  /** q56 damping (percent) and unrolled round count. */
  private val DampPct = 85L
  private val Rounds = 2
  private val TopN = 20

  /** q57 Merkle geometry: buckets and the digest modulus (largest
    * prime < 2^31 — sums of per-row residues stay far from BIGINT
    * overflow even at 100 TB row counts per bucket).
    */
  private val MBuckets = 256L
  private val MDigest = Merkle.DigestMod

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- q56: bipartite PageRank, bounded rounds -------------------------
    // Supplier importance by mass propagation over the customer ↔
    // supplier trade graph (edge weight = lineitems shipped): ranks
    // alternate cust → supp → cust for 2 full rounds with 0.85
    // damping, all in integer fixed point so both engines agree
    // bit-for-bit. The census that a raw volume ranking misses:
    // a supplier fed by well-connected customers outranks one with
    // the same volume from one captive buyer.
    "q56_supplier_pagerank" -> { (s, d) =>
      // edges materialize ONCE (barrier) — the four propagation
      // rounds reread the cached entity-sized table instead of
      // re-running the fact join (ReuseExchange does not canonicalize
      // across the differently-keyed downstream exchanges; measured
      // 28 scans → 2 with the barrier)
      val edges = Dedup.barrier(Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .agg(count(lit(1)).cast("long").as("w")))
      Graph.propagateBipartite(edges, "cust", "supp", Rounds, Fx, DampPct)
        .select(col("supp").as("l_suppkey"), col("rank_fx"))
        .orderBy(col("rank_fx").desc, col("l_suppkey"))
        .limit(TopN)
    },

    // --- q57: Merkle range-digest snapshot diff --------------------------
    // Anti-entropy reconciliation of two snapshots (orders as of t1
    // vs t2) without a row-level compare: each snapshot folds to 256
    // hash-range summaries (row count + order-independent content
    // digest over key and payload), and only ranges whose summaries
    // disagree need re-sync. Output: every bucket with both
    // summaries, the dirty flag, and the row delta — the repair
    // worklist, 256 rows whatever the table size.
    "q57_merkle_diff" -> { (s, d) =>
      def snapshot(cut: String, nCol: String, dCol: String): DataFrame =
        Merkle.summarize(
          Tables.orders(s, d)
            .filter(col("o_orderdate") <= lit(cut).cast("timestamp")),
          col("o_orderkey"),
          Seq(col("o_orderstatus"),
            floor(col("o_totalprice") * 100).cast("long")),
          MBuckets, nCol, dCol)
      Merkle.diff(
          snapshot("1998-12-31", "n_t1", "digest_t1"),
          snapshot("1999-12-31", "n_t2", "digest_t2"))
        .select(col("bucket"), col("n_t1"), col("n_t2"),
          col("digest_t1"), col("digest_t2"), col("dirty"), col("rows_delta"))
        .orderBy(col("bucket"))
    })

  def oracles: Map[String, String] = Map(
    "q56_supplier_pagerank" -> {
      val base = (100L - DampPct) * Fx / 100L
      s"""WITH edges AS (
         |  SELECT o_custkey AS cust, l_suppkey AS supp,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |outc AS (SELECT cust, CAST(SUM(w) AS BIGINT) AS out_c FROM edges GROUP BY 1),
         |outs AS (SELECT supp, CAST(SUM(w) AS BIGINT) AS out_s FROM edges GROUP BY 1),
         |r0 AS (SELECT DISTINCT cust, CAST($Fx AS BIGINT) AS rank_c FROM edges),
         |s1 AS (
         |  SELECT supp, $base + ($DampPct * CAST(SUM((rank_c * w) // out_c) AS BIGINT)) // 100 AS rank_s
         |  FROM edges JOIN r0 USING (cust) JOIN outc USING (cust) GROUP BY supp),
         |c1 AS (
         |  SELECT cust, $base + ($DampPct * CAST(SUM((rank_s * w) // out_s) AS BIGINT)) // 100 AS rank_c
         |  FROM edges JOIN s1 USING (supp) JOIN outs USING (supp) GROUP BY cust),
         |s2 AS (
         |  SELECT supp, $base + ($DampPct * CAST(SUM((rank_c * w) // out_c) AS BIGINT)) // 100 AS rank_s
         |  FROM edges JOIN c1 USING (cust) JOIN outc USING (cust) GROUP BY supp)
         |SELECT supp AS l_suppkey, rank_s AS rank_fx FROM s2
         |ORDER BY rank_fx DESC, l_suppkey LIMIT $TopN""".stripMargin
    },

    "q57_merkle_diff" -> {
      def snap(cut: String): String =
        s"""SELECT ${Hashing.duckHash64("CAST(o_orderkey AS VARCHAR)")} % $MBuckets AS bucket,
           |    CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(CAST(SUM(${Hashing.duckHash64(
                  "concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus, " +
                  "CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR))")} % $MDigest)
           |      AS BIGINT) % $MDigest AS BIGINT) AS digest
           |  FROM orders WHERE o_orderdate <= TIMESTAMP '$cut'
           |  GROUP BY 1""".stripMargin
      s"""WITH t1 AS (
         |  ${snap("1998-12-31")}),
         |t2 AS (
         |  ${snap("1999-12-31")})
         |SELECT t2.bucket,
         |  COALESCE(t1.n, 0) AS n_t1, t2.n AS n_t2,
         |  COALESCE(t1.digest, 0) AS digest_t1, t2.digest AS digest_t2,
         |  (COALESCE(t1.n, 0) <> t2.n
         |    OR COALESCE(t1.digest, 0) <> t2.digest) AS dirty,
         |  t2.n - COALESCE(t1.n, 0) AS rows_delta
         |FROM t2 LEFT JOIN t1 ON t2.bucket = t1.bucket
         |ORDER BY t2.bucket""".stripMargin
    })
}
