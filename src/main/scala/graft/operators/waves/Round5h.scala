package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-5 eighth wave: journey-path mining (ev34), exact
  * discrete-domain latency percentiles (q43), and the MinHash-k
  * accuracy sweep (dd19).
  *
  * Posture notes: ev34's per-user window partitions by user and the
  * path census is a hash aggregate (top-K plans as TakeOrdered);
  * q43 decomposes exact percentiles over a BOUNDED integer domain —
  * facts fold once to a (priority × days) histogram and every window
  * runs on that bounded frame (never a fact-table sort; the recipe
  * global order statistics use when the domain is enumerable); dd19
  * is dd12's estimator-vs-exact harness swept over signature prefixes
  * (bounded ×|Ks| explode) in pure integer arithmetic.
  */
object Round5h extends Operators {

  /** ev34: journey prefix length and how many paths to report. */
  val PathLen = 3
  val PathTopK = 25

  /** dd19: signature prefix lengths the sweep prices (full = dd12's
    * MinhashK). */
  val SweepKs: Seq[Int] = Seq(4, 8, 16)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev34: user journey paths -------------------------------------
    // The "common paths" product report: each user's first PathLen
    // event types (by (ts, event_id) — a total order, engine-proof)
    // concatenate into a journey prefix; the census counts users per
    // path with a fixed-point share. The per-user window partitions
    // by user_id; the path table is ≤ |types|^PathLen rows; top-K
    // plans as TakeOrderedAndProject.
    "ev34_journey_paths" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      def step(n: Int) = max(when(col("rn") === n, col("event_type")))
      val paths = Tables.events(s, d)
        .withColumn("rn", row_number().over(wu))
        .filter(col("rn") <= PathLen)
        .groupBy(col("user_id"))
        .agg(concat_ws(">", (1 to PathLen).map(step): _*).as("path"))
      val total = paths.agg(count(lit(1)).as("n_users_total"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(total))
        .withColumn("share_fx", expr("(n_users * 1000000) div n_users_total"))
        .select(col("path"), col("n_users"), col("share_fx"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(PathTopK)
    },

    // --- q43: order-to-ship latency percentiles -----------------------
    // Exact p50/p95 of the order→ship latency per priority, WITHOUT
    // sorting the fact table: latency lives on a bounded integer
    // domain (days), so the facts fold once into a (priority × days)
    // histogram, the cumulative window runs over that bounded frame,
    // and the percentile is the smallest day whose cumulative count
    // clears ceil(n·p/100) — integer cross-multiplied (100·cum ≥ n·p)
    // so no division ever happens. The mean is fixed-point micro-days.
    "q43_ship_latency" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val hist = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long").as("days"))
        .groupBy(col("priority"), col("days"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("priority")).orderBy(col("days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("priority"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      hist
        .withColumn("cum", sum(col("cnt")).over(wCum).cast("long"))
        .withColumn("n", sum(col("cnt")).over(wAll).cast("long"))
        .groupBy(col("priority"))
        .agg(max(col("n")).as("n_lines"),
          min(when(col("cum") * 100 >= col("n") * 50, col("days"))).as("p50_days"),
          min(when(col("cum") * 100 >= col("n") * 95, col("days"))).as("p95_days"),
          max(col("days")).as("max_days"),
          (sum(col("days") * col("cnt")) * 1000000).cast("long").as("day_mass_fx"))
        .withColumn("avg_days_fx", expr("day_mass_fx div n_lines"))
        .select(col("priority"), col("n_lines"), col("p50_days"),
          col("p95_days"), col("max_days"), col("avg_days_fx"))
        .orderBy(col("priority"))
    },

    // --- dd19: MinHash-k accuracy sweep -------------------------------
    // dd12 measures the shipped k=16 estimator; this prices the DIAL:
    // for each prefix length k, the estimate error vs exact Jaccard
    // across the same candidate pairs — mean and worst case, in pure
    // integer fixed-point (|matches·union − inter·k|·1e6 div (k·union)
    // — no float summation order anywhere). The pair frame reuses
    // dd02/dd12's shared shingle machinery; the sweep is a bounded
    // ×|Ks| explode. Choosing k is a storage/accuracy trade — this
    // 3-row table is the evidence.
    "dd19_minhash_k_sweep" -> { (s, d) =>
      val base = Dedup.barrier(Dedup.docShingles(s, d)
        .withColumn("sig", Dedup.minhashSig(col("shs")))
        .withColumn("bucket", array_min(col("shs"))))
      val a = base.select(col("bucket"), col("doc_id").as("doc_a"),
        col("shs").as("sh_a"), col("sig").as("sig_a"))
      val b = base.select(col("bucket"), col("doc_id").as("doc_b"),
        col("shs").as("sh_b"), col("sig").as("sig_b"))
      a.join(b, Seq("bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("inter", graft.functions.IntersectCountExpr(col("sh_a"), col("sh_b")))
        .withColumn("uni", (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("inter"))
        .withColumn("eq", zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"), col("eq"),
          explode(typedLit(SweepKs)).as("k"))
        .withColumn("matches",
          aggregate(slice(col("eq"), lit(1), col("k")), lit(0L), (acc, x) => acc + x))
        .withColumn("err_fx", expr(
          "(abs(matches * uni - inter * k) * 1000000) div (k * uni)"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          (sum(col("err_fx"))).cast("long").as("err_mass_fx"),
          max(col("err_fx")).as("max_err_fx"))
        .withColumn("mean_err_fx", expr("err_mass_fx div n_pairs"))
        .select(col("k"), col("n_pairs"), col("mean_err_fx"), col("max_err_fx"))
        .orderBy(col("k"))
    })

  def oracles: Map[String, String] = Map(
    "ev34_journey_paths" -> {
      val steps = (1 to PathLen).map(n =>
        s"max(CASE WHEN rn = $n THEN event_type END)").mkString(", ")
      s"""WITH r AS (
         |  SELECT user_id, event_type,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |p AS (
         |  SELECT user_id, concat_ws('>', $steps) AS path
         |  FROM r WHERE rn <= $PathLen GROUP BY user_id),
         |t AS (SELECT COUNT(*) AS n_users_total FROM p)
         |SELECT path, COUNT(*) AS n_users,
         |  (COUNT(*) * 1000000) // n_users_total AS share_fx
         |FROM p CROSS JOIN t GROUP BY path, n_users_total
         |ORDER BY n_users DESC, path LIMIT $PathTopK""".stripMargin
    },

    "q43_ship_latency" ->
      """WITH h AS (
        |  SELECT o_orderpriority AS priority,
        |    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
        |      AS days,
        |    COUNT(*) AS cnt
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT priority, days, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY priority ORDER BY days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(SUM(cnt) OVER (PARTITION BY priority) AS BIGINT) AS n
        |  FROM h)
        |SELECT priority, MAX(n) AS n_lines,
        |  MIN(CASE WHEN cum * 100 >= n * 50 THEN days END) AS p50_days,
        |  MIN(CASE WHEN cum * 100 >= n * 95 THEN days END) AS p95_days,
        |  MAX(days) AS max_days,
        |  CAST(SUM(days * cnt) * 1000000 AS BIGINT) // MAX(n) AS avg_days_fx
        |FROM c GROUP BY priority ORDER BY priority""".stripMargin,

    "dd19_minhash_k_sweep" -> {
      import Dedup.{A, B, MinhashK, P}
      val sigList = (0 until MinhashK).map(k =>
        s"list_min(list_transform(shs, h -> (${A(k)} * (h % 4294967296) + ${B(k)}) % $P))")
        .mkString("[", ", ", "]")
      s"""WITH sh_t AS (
         |  SELECT doc_id, shs, $sigList AS sig, list_min(shs) AS bucket
         |  FROM (SELECT doc_id, ${Dedup.duckShs} AS shs FROM documents
         |        WHERE len(${Dedup.duckToks}) >= 3)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS inter,
         |    CAST(len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))
         |      AS BIGINT) AS uni,
         |    list_transform(range($MinhashK),
         |      i -> CASE WHEN a.sig[i+1] = b.sig[i+1] THEN 1 ELSE 0 END) AS eq
         |  FROM sh_t a JOIN sh_t b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |swept AS (
         |  SELECT doc_a, doc_b, inter, uni, CAST(k AS INTEGER) AS k,
         |    CAST(list_sum(list_slice(eq, 1, k)) AS BIGINT) AS matches
         |  FROM pairs CROSS JOIN
         |    (SELECT unnest([${SweepKs.mkString(", ")}]) AS k) ks)
         |SELECT k, COUNT(*) AS n_pairs,
         |  CAST(SUM((abs(matches * uni - inter * k) * 1000000) // (k * uni))
         |    AS BIGINT) // COUNT(*) AS mean_err_fx,
         |  CAST(MAX((abs(matches * uni - inter * k) * 1000000) // (k * uni))
         |    AS BIGINT) AS max_err_fx
         |FROM swept GROUP BY k ORDER BY k""".stripMargin
    })
}
