package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.{Hashing, Det}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import Operators.{Fx, Fx4}

/** Core analytics operators over the TPC-H-ish tables.
  *
  * These are the general query shapes the engine must support at
  * 100 TB: grouped aggregation, multi-way joins (broadcast for dims),
  * semi/anti joins, windows, rollups, top-k. Each query has a DuckDB
  * oracle twin in [[oracles]] — aliases, ordering, and numeric
  * handling are mirrored exactly (see SURVEY.md §6):
  * per-row double arithmetic is bit-deterministic in both engines, so
  * sums go through a per-row DECIMAL cast (exact, order-independent)
  * and are only then cast back to double.
  *
  * Scale notes: dims (region/nation/customer/supplier/part) are
  * broadcast explicitly; fact-side aggregations are single-shuffle
  * with map-side partials; windows partition on high-cardinality keys.
  *
  * Every `q` operator and its oracle live in this object.
  */
object CoreAnalytics extends Operators {

  private def decSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(18,6)")).cast("double")

  /** q39: rolling window width in days (MAU-over-7 a.k.a. WAU). */
  val MauDays = 7

  /** q41: how many top affinity pairs to report. */
  val BasketTopK = 20

  /** q42: the compared periods (both full years in the test data). */
  val BridgeY0 = 1999

  val BridgeY1 = 2000

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

  /** q51's candidate hash dimensions. */
  private val Dims = Seq(64L, 256L, 1024L)

  /** q55 sketch geometry: d hash rows × w buckets. */
  private val CmsD = 4

  private val CmsW = 512L

  /** q55 heavy-hitter report size. */
  private val TopN = 20

  /** The d (seed, bucket) rows for one key column, as an explodable
    * struct array — literal seeds so [[Hashing.hash64Seeded]] parity
    * with the oracle fragment holds.
    */
  /** DuckDB twin of [[Sketch.cmsRows]] over a CTE named `src` carrying
    * `k`-keyed rows: one UNION ALL arm per seed.
    */
  private def duckCmsUnion(src: String, extraCols: String): String =
    (0 until CmsD).map { sd =>
      s"""SELECT $extraCols, $sd AS seed,
         |    ${Hashing.duckHash64Seeded("k", sd)} % $CmsW AS bucket
         |  FROM $src""".stripMargin
    }.mkString("\n  UNION ALL\n  ")

  /** q56 damping (percent) and unrolled round count. */
  private val DampPct = 85L

  private val Rounds = 2

  /** q57 Merkle geometry: buckets and the digest modulus (largest
    * prime < 2^31 — sums of per-row residues stay far from BIGINT
    * overflow even at 100 TB row counts per bucket).
    */
  private val MBuckets = 256L

  private val MDigest = Merkle.DigestMod

  /** q58: reconciliation tolerance (cents) for the truncating
    * integer recomputation.
    */
  private val TolCents = 100L

  /** floor(log10(1 + 1/d) · Fx) for d = 1..9 — the Benford expected
    * shares as fixed-point literals.
    */
  private val BenfordFx: Map[Int, Long] =
    (1 to 9).map(d => d -> math.floor(math.log10(1.0 + 1.0 / d) * Fx).toLong).toMap

  /** q60: quarter cutoffs for the transaction (arrival order) and
    * valid (event time) axes — chosen inside the events table's
    * 2024 range so every cell is non-degenerate.
    */
  private val TxQuarters: Seq[Int] = Seq(1, 2, 3, 4)

  /** The estimate divides in a 2^30 domain: (k−1)·2^60/h_k would
    * overflow BIGINT (63·2^60 > 2^63), so both engines compute
    * (k−1)·2^30 // (h_k // 2^30) — identical truncation, identical
    * result, negligible extra quantization for a ±13% sketch.
    */
  private val HalfSpace = 1L << 30

  /** q62: attribution lookback (seconds). */
  private val LookbackS = 7L * 86400L

  /** q63: target partition count for the range plan. */
  private val NParts = 32

  /** q66: autocorrelation lags (days). */
  private val MaxLag = 14

  /** Shared census measures over a (source, text) frame, signed. */
  private def contrib(docs: DataFrame, sign: Int): DataFrame =
    docs.select(col("source"),
      lit(sign.toLong).as("d_docs"),
      (lit(sign) * size(TextAnalysis.tokens(col("text")))).cast("long").as("d_tokens"),
      (lit(sign) * octet_length(col("text"))).cast("long").as("d_bytes"))

  /** q76: sketch size (matches q61's bottom-k). */
  val KmvK = 64

  private val OpenTheta = Long.MaxValue

  /** q77: edge keep-modulus (p = 1/8 → estimate scales by 8³). */
  private val SampleMod = 8L

  /** q78: bits per bitmap word (≤ 62 keeps shifts overflow-free). */
  private val WordBits = 62L

  /** q79: decay cap in weeks (Fx >> 13 = 1, never rounds to zero). */
  private val MaxWeeks = 13

  private val Buckets = 16

  /** Probe ranges in cents over o_totalprice. */
  private val Probes = Seq(
    (1000000L, 5000000L), // $10k – $50k
    (5000000L, 15000000L), // $50k – $150k
    (15000000L, 30000000L), // $150k – $300k
    (0L, 60000000L)) // everything

  /** Salt dial stops: replication factors a skew-join actually pays
    * (the dim side duplicates S×, so the smallest working S wins). */
  val SaltDial = Seq(1L, 4L, 16L, 64L)

  /** Task slots the salted key must fit (local profile; on a cluster,
    * total shuffle parallelism) and the headroom multiplier over the
    * mean partition load a single task may carry. */
  val TaskSlots = 32L

  val SkewHeadroomX = 2L

  /** q81 rule over q37's skew census (event_type, n_keys, n_rows,
    * max_rows): the SMALLEST salt whose hottest key, split S ways,
    * fits within SkewHeadroomX× the mean per-slot load — q27 showed
    * salting works, this decides the factor. No stop fitting means
    * even 64-way splitting leaves a straggler: take the largest stop
    * (AQE skew-join territory — the flag IS the finding).
    */
  def saltAutopick(census: DataFrame): DataFrame = {
    val j = census
      .withColumn("salt", explode(array(SaltDial.map(lit): _*)))
      .withColumn("budget_rows",
        expr(s"$SkewHeadroomX * ((n_rows + ${TaskSlots - 1}) div $TaskSlots)"))
      .withColumn("salted_max", expr("(max_rows + salt - 1) div salt"))
      .withColumn("within_budget",
        when(col("salted_max") <= col("budget_rows"), 1L)
          .otherwise(0L).cast("long"))
    val wt = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    j.withColumn("chosen_salt",
        coalesce(
          min(when(col("within_budget") === 1L, col("salt"))).over(wt),
          max(col("salt")).over(wt)))
      .withColumn("chosen",
        when(col("salt") === col("chosen_salt"), 1L)
          .otherwise(0L).cast("long"))
      .select(col("event_type"), col("salt"), col("n_keys"), col("n_rows"),
        col("max_rows"), col("budget_rows"), col("salted_max"),
        col("within_budget"), col("chosen"))
  }

  /** Shuffle-partition dial stops: the values a deployment actually
    * tries (192 is the one the sf10 ladder landed on). */
  val PartitionDial = Seq(32L, 64L, 128L, 192L, 256L)

  /** Per-partition byte target: Spark's own AQE advisory partition
    * size default (64 MiB) — the sort/spill headroom the ladder's
    * OOM cliff was about. */
  val PartitionTargetBytes = 64L * 1048576L

  /** q82 rule over a per-table byte census (tbl, n_rows, est_bytes):
    * the SMALLEST dial stop covering max(TaskSlots, ceil(largest
    * table / 64 MiB)) — fewer partitions than slots idles cores,
    * more than needed pays scheduler + tiny-file overhead; the
    * largest stop (flagged) when even 256 can't keep partitions
    * under target. Prices RAW table bytes: expansion-heavy operators
    * (the dd11 shingle sort that hit the original cliff) multiply by
    * their expansion factor on top — dd45 prices that lane.
    *
    * NEGATIVE RESULT (r12, measured — do not redo): a 2× "AQE
    * overshoot" factor on the byte-target count looked justified when
    * single-sample sf10 legs showed 128 parts 1.4× slower than 192 —
    * but those samples were measuring the decaying first-run
    * transient after same-JVM census work, not the dial. The clean
    * min-of-2 A/B: 128 parts 215.5 s vs 192 parts 241.2 s (same-dial
    * sample spread ±50%: 215–367 s) — the exact-target pick is at
    * least as fast, and any sf10 perf claim needs converged minima,
    * never a first post-work sample.
    */
  def partitionAutopick(census: DataFrame): DataFrame = {
    val m = census.agg(max(col("est_bytes")).cast("long").as("max_bytes"))
      .withColumn("needed_parts",
        greatest(lit(TaskSlots),
          expr(s"(max_bytes + ${PartitionTargetBytes - 1}) div $PartitionTargetBytes")))
    val j = m.withColumn("parts", explode(array(PartitionDial.map(lit): _*)))
      .withColumn("within_stop",
        when(col("parts") >= col("needed_parts"), 1L)
          .otherwise(0L).cast("long"))
    // global pick over the 5-row dial frame (census folds to 1 row)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    j.withColumn("chosen_parts",
        coalesce(
          min(when(col("within_stop") === 1L, col("parts"))).over(all),
          max(col("parts")).over(all)))
      .withColumn("chosen",
        when(col("parts") === col("chosen_parts"), 1L)
          .otherwise(0L).cast("long"))
      .select(col("parts"), col("max_bytes"), col("needed_parts"),
        col("within_stop"), col("chosen"))
  }

  /** In-memory byte estimate per fact table: 8 bytes per fixed-width
    * column (ints/doubles/timestamps) + LENGTH of each string column
    * — the same arithmetic both engines can run exactly. One 1-row
    * aggregate per table, unioned (4 rows total).
    */
  private[operators] def tableByteCensus(s: SparkSession, d: String): DataFrame = {
    def est(df: DataFrame, tbl: String, fixed: Int,
        strs: Seq[String]): DataFrame = {
      // NULL strings cost 0 bytes but must not null the whole row
      // expression — without the coalesce a sparse column (events.props
      // on a null-heavy corpus) silently drops the row's FIXED bytes
      // from SUM too, undersizing the q82 pick (ADVICE r11).
      val rowBytes = strs.map(c => coalesce(length(col(c)).cast("long"), lit(0L)))
        .foldLeft(lit(fixed.toLong))(_ + _)
      df.agg(count(lit(1)).cast("long").as("n_rows"),
          sum(rowBytes).cast("long").as("est_bytes"))
        .select(lit(tbl).as("tbl"), col("n_rows"), col("est_bytes"))
    }
    est(Tables.lineitem(s, d), "lineitem", 72,
        Seq("l_returnflag", "l_linestatus"))
      .unionByName(est(Tables.orders(s, d), "orders", 32,
        Seq("o_orderstatus", "o_orderpriority")))
      .unionByName(est(Tables.events(s, d), "events", 32,
        Seq("event_type", "props")))
      .unionByName(est(Tables.documents(s, d), "documents", 16,
        Seq("text", "lang", "source")))
  }

  private[operators] def skewCensus(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_keys"),
        sum(col("c")).cast("long").as("n_rows"),
        max(col("c")).cast("long").as("max_rows"))

  /** A value histogram's CDF: per `key`, the running sum `cum` of
    * `weight` in `value` order and the total `tot`, both long — exact
    * integer quantile picks read `cum * 100 >= tot * p`.
    */
  private def withCdf(hist: DataFrame, key: String, value: String, weight: String,
      cum: String, tot: String): DataFrame = {
    val wCum = Window.partitionBy(col(key)).orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(key))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn(cum, sum(col(weight)).over(wCum).cast("long"))
      .withColumn(tot, sum(col(weight)).over(wAll).cast("long"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    "q02_filter_project" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * col("l_discount")).as("disc_revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    "q03_revenue_by_nation" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("r_name"), col("n_name"))
    },

    "q04_order_priority" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    "q05_top_customers" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.groupBy(col("o_custkey")).agg(decSum(col("o_totalprice")).as("revenue"))
        .join(broadcast(c), col("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    },

    "q06_window_rank" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },

    "q07_rollup" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), decSum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },

    "q08_distinct_agg" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    "q09_antijoin" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    "q10_running_window" -> { (s, d) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_suppkey") <= 3)
        .withColumn("running_qty", sum(col("l_quantity").cast("decimal(18,6)")).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },

    "q11_conditional_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          decSum(when(col("l_returnflag") === "R", col("l_quantity")).otherwise(lit(0.0))).as("qty_returned"),
          decSum(when(col("l_returnflag") === "A", col("l_quantity")).otherwise(lit(0.0))).as("qty_a"),
          decSum(when(col("l_returnflag") === "N", col("l_quantity")).otherwise(lit(0.0))).as("qty_n"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("l_linestatus"))
    },

    "q12_multijoin_pushdown" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_size") < 15 && col("p_type") === "ECONOMY")
      val su = Tables.supplier(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
        .groupBy(col("s_name"), col("p_brand"))
        .agg(
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("s_name"), col("p_brand"))
    },

    // HLL-sketch distinct counts — the 100 TB path for q08-style
    // exact distincts, as a register-exact RELATIONAL HyperLogLog
    // (Sketch.hllDistinct) on the cross-engine hash: unlike the
    // native approx_count_distinct sketch (engine-private bytes,
    // rows-only checkable), every register and the estimate itself
    // replay bit-for-bit in the DuckDB oracle. The exact distinct
    // and the signed fixed-point error ride alongside, so the gate
    // also value-checks the estimator's accuracy at every SF (raw
    // regime: lineitem orderkeys per returnflag ≥ 2m from sf0.001
    // up). The native-HLL envelope stays spec-asserted
    // (QueriesSmokeSpec) — this query gates the sketch MATH.
    "q13_approx_distinct" -> { (s, d) =>
      // one distinct-key shuffle feeds BOTH the sketch and the exact
      // truth column (registers are max-idempotent, so hashing after
      // the distinct is exact); barriered — the two consumers are
      // column-pruned twins AQE cannot dedupe, so without the
      // materialization the fact scan + distinct would run twice
      val keys = Dedup.barrier(Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey")).distinct())
      val est = Sketch.hllDistinct(
        keys.select(col("l_returnflag"),
          Hashing.hash64(col("l_orderkey").cast("string")).as("hv")),
        Seq(col("l_returnflag")), col("hv"))
        .withColumnRenamed("est", "hll_orders")
      val exact = keys.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("exact_orders"))
      est.join(exact, Seq("l_returnflag"))
        // decimal staging: corpus-proportional counts × 10^6 (q40's
        // overflow class) — exact 128-bit multiply, div keeps BIGINT
        .withColumn("err_fx", expr(
          "(CAST(hll_orders - exact_orders AS DECIMAL(20,0)) * 1000000)" +
            " div exact_orders"))
        .select(col("l_returnflag"), col("n_buckets"), col("hll_orders"),
          col("exact_orders"), col("err_fx"))
        .orderBy(col("l_returnflag"))
    },

    // window-function suite: lead/lag/ntile/percent_rank in one pass
    "q14_window_suite" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("quartile"),
          graft.functions.Det.trunc4(percent_rank().over(w)).as("pr"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // exact interpolated percentiles per group (same linear
    // interpolation as DuckDB quantile_cont)
    "q15_percentiles" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          graft.functions.Det.trunc4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
          graft.functions.Det.trunc4(expr("percentile(o_totalprice, 0.9)")).as("p90"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // CUBE aggregation over priority × status
    "q16_cube" -> { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    },

    // calendar bucketing: day-of-week × hour activity grid
    "q17_datetime" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("dow"), col("hr"))
    },

    // set algebra: (clickers ∩ purchasers) \ errorers
    "q18_set_ops" -> { (s, d) =>
      val ev = Tables.events(s, d)
      def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
      users("click").intersect(users("purchase"))
        .except(users("error"))
        .orderBy(col("user_id"))
    },

    // pivot: order counts per priority × status matrix
    "q19_pivot" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot(col("o_orderstatus"), Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
        .orderBy(col("o_orderpriority"))
    },

    // unpivot/melt: wide → long over the quantity columns
    "q20_unpivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("qty"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("price"))
        .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
          "measure", "val")
        .orderBy(col("l_returnflag"), col("measure"))
    },

    // full outer join with null-side handling
    "q21_outer_join" -> { (s, d) =>
      val cn = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_customers"))
      val sn = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_suppliers"))
      cn.join(sn, col("nk") === col("nk2"), "full_outer")
        .select(
          coalesce(col("nk"), col("nk2")).as("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .orderBy(col("nationkey"))
    },

    // SQL-text entry with a correlated scalar subquery: orders above
    // their own customer's average price
    "q22_sql_text" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("g_orders")
      s.sql(
        """SELECT o_custkey, COUNT(*) AS n_above
          |FROM g_orders o
          |WHERE o_totalprice >
          |      (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
          |                * 1.5 / COUNT(*)
          |       FROM g_orders o2
          |       WHERE o2.o_custkey = o.o_custkey)
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
    },

    // moment statistics from decimal-exact sums (order-independent
    // variance/stddev: sqrt((Σx² − (Σx)²/n)/(n−1)) over exact Σ)
    "q23_stats_moments" -> { (s, d) =>
      val x = col("o_totalprice")
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(x.cast("decimal(18,6)")).cast("double").as("sum_x"),
          sum((x * x).cast("decimal(28,6)")).cast("double").as("sum_x2"))
        .select(
          col("o_orderpriority"), col("n"),
          graft.functions.Det.trunc4(col("sum_x") / col("n")).as("mean"),
          graft.functions.Det.trunc4(
            sqrt((col("sum_x2") - col("sum_x") * col("sum_x") / col("n")) / (col("n") - 1))).as("stddev"))
        .orderBy(col("o_orderpriority"))
    },

    // --- q24: GROUPING SETS ------------------------------------------
    "q24_grouping_sets" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("g_orders_gs")
      s.sql(
        """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
          |       COALESCE(o_orderstatus, 'ALL') AS status,
          |       COUNT(*) AS n_orders,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
          |FROM g_orders_gs
          |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
          |ORDER BY priority, status""".stripMargin)
    },

    // --- q25: correlation/covariance from decimal-exact moments ------
    "q25_corr_moments" -> { (s, d) =>
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      // BigDecimal partial sums are the hot loop — scatter the 3
      // needed columns so the partial agg runs on every core
      graft.core.Par.scatter(Tables.lineitem(s, d)
          .select(col("l_returnflag"), x, y))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x.cast("decimal(18,6)")).cast("double").as("sx"),
          sum(y.cast("decimal(18,6)")).cast("double").as("sy"),
          sum((x * x).cast("decimal(28,6)")).cast("double").as("sx2"),
          sum((y * y).cast("decimal(30,6)")).cast("double").as("sy2"),
          sum((x * y).cast("decimal(28,6)")).cast("double").as("sxy"))
        .select(
          col("l_returnflag"), col("n"),
          Det.trunc4(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sx2") - col("sx") * col("sx")) *
                 (col("n") * col("sy2") - col("sy") * col("sy")))).as("corr"),
          Det.trunc4(
            (col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1)).as("covar"))
        .orderBy(col("l_returnflag"))
    },

    // --- q26: deterministic hash sampling ----------------------------
    // The 100 TB subsampling primitive: a stable hash of the row key
    // modulo 100 picks a reproducible p% sample with no RNG state, no
    // seed coordination across executors, and pushdown-friendly shape.
    "q26_hash_sample" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(pmod(Hashing.hash64(concat_ws(":",
          col("l_orderkey").cast("string"), col("l_linenumber").cast("string"))), lit(100)) < 5)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // --- q27: salted skew join under the oracle ----------------------
    // Result-identical to the plain equi-join (the oracle IS the plain
    // join): the hot left key is split across 8 salt partitions, the
    // dim side replicated 8 ways — the static fallback when one
    // contract emits most events and AQE's runtime split isn't enough.
    // q81 reports the per-type salt a corpus needs.
    "q27_salted_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val c = Tables.customer(s, d)
      Skew.saltedJoin(ev, c, "user_id", "c_custkey", col("event_id"), 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("c_mktsegment"))
    },

    // --- q28: bounded-heap top-k aggregator under the oracle ---------
    // The O(k)-per-group typed Aggregator (map-side partials ship at
    // most k pairs per group) gated against the window-rank oracle.
    "q28_topk_agg" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(TopK.topk(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rn"),
          col("col._2").as("o_orderkey"), col("col._1").as("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },

    // --- q29: RANGE-frame window (value-range moving aggregate) ------
    // A 7-day trailing revenue window per customer — RANGE frames
    // bound by an interval, not row counts (q10 covers ROWS frames).
    "q29_range_window" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-7L * 86400, 0)
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 50)
        .withColumn("trailing_7d",
          sum(col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("trailing_7d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // --- q30: cohort retention (weekly) ------------------------------
    // Signup-cohort × weeks-since activity matrix: cohort = week of a
    // user's first event; n_users = distinct users from that cohort
    // active k weeks later. Two shuffles on user_id (first-event agg,
    // cohort join — co-partitioned), then the small matrix agg.
    "q30_cohort_retention" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      // week distance via CALENDAR-day diff of the week-truncated
      // dates (always an exact multiple of 7) — an epoch-seconds
      // diff / 604800 would mis-bucket across DST transitions on
      // non-UTC sessions
      ev.join(cohort, Seq("user_id"))
        .withColumn("weeks_since",
          (datediff(date_trunc("week", col("ts")).cast("date"),
            col("cohort_week").cast("date")) / 7).cast("long"))
        .groupBy(col("cohort_week"), col("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    },

    // --- q31: equi-width histogram (data profiling) ------------------
    // 20 × 25k buckets over order totals with a share-of-total column;
    // the one-pass profiling shape (group on a computed bucket key,
    // window total over the 20-row result — the window shuffles 20
    // rows, not the fact table).
    "q31_histogram" -> { (s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          least(floor(col("o_totalprice") / 25000.0), lit(19.0)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("pct", Det.trunc4(col("n_orders").cast("double") /
          sum(col("n_orders")).over(Window.partitionBy())))
        .select(col("bucket"),
          (col("bucket") * 25000).cast("double").as("lo"),
          ((col("bucket") + 1) * 25000).cast("double").as("hi"),
          col("n_orders"), col("pct"))
        .orderBy(col("bucket"))
    },

    // --- q32: stratified sampling ------------------------------------
    // Per-stratum deterministic hash sampling (q26's primitive with
    // per-group allocation): BUILDING keeps 10%, other segments 5% —
    // the class-balancing subsample a training pipeline draws.
    // Reproducible across engines and cluster sizes: membership is a
    // pure hash of the key, no RNG state, no sort.
    "q32_stratified_sample" -> { (s, d) =>
      val rate = when(col("c_mktsegment") === "BUILDING", 10L).otherwise(5L)
      Tables.customer(s, d)
        .withColumn("keep",
          (pmod(Hashing.hash64(col("c_custkey").cast("string")), lit(100)) < rate)
            .cast("int"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_total"), sum(col("keep")).as("n_sampled"))
        .select(col("c_mktsegment"), col("n_total"), col("n_sampled"),
          Det.trunc4(col("n_sampled").cast("double") / col("n_total"))
            .as("sample_rate"))
        .orderBy(col("c_mktsegment"))
    },

    // --- q33: RFM segmentation ---------------------------------------
    // Recency/frequency/monetary quintile scoring — the classic
    // customer-segmentation (and data-freshness-tiering) shape. The
    // fact table folds to one row per customer FIRST; the reference
    // date comes from an aggregate (broadcast 1-row, never a global
    // window), and each quintile is Rank.ntileExact — approx_percentile
    // range buckets + local rank + offset lift, reproducing the
    // oracle's exact NTILE with no single-partition sort at any size.
    // Ties break on custkey so both engines bucket identically.
    "q33_rfm_segments" -> { (s, d) =>
      val perCust = Dedup.barrier(Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary")))
      val tip = perCust.agg(max(col("last_order")).as("tip_date"))
      val rBase = perCust.crossJoin(broadcast(tip))
        .select(col("o_custkey"),
          datediff(col("tip_date"), col("last_order")).as("r_days"))
      // the three quintiles are INDEPENDENT rankings of the same keyed
      // frame — score each one directly off the persisted perCust (so
      // ntileExact's bounds/offset aggregates scan the cache, never a
      // stacked plan) and join on the customer key: three
      // co-partitioned shuffles instead of a 3-deep recompute pyramid
      def scored(in: DataFrame, keyName: String, out: String): DataFrame =
        Rank.ntileExact(in, 5, out, col(keyName), Seq(col("o_custkey")))
          .select(col("o_custkey"), col(out))
      scored(rBase, "r_days", "r_score")
        .join(scored(perCust.select(col("o_custkey"), col("frequency")),
          "frequency", "f_score"), "o_custkey")
        .join(scored(perCust.select(col("o_custkey"), col("monetary")),
          "monetary", "m_score"), "o_custkey")
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    },

    // --- q34: rolling z-score anomaly census -------------------------
    // Per-type trailing-24-hour-bucket mean/variance, 3-sigma outlier
    // flag. TWO-LEVEL: events fold to hourly (n, Σv, Σv²) partials
    // first (map-side combinable), the trailing-24-bucket window runs
    // over the HOUR frame (time-bounded — it grows with calendar
    // hours, not data volume), and events rejoin their hour's baseline
    // by (type, hour) equi-join. A per-event RANGE window would make
    // Spark re-aggregate the whole frame per row — O(rows × window
    // density), measured 22 s at sf0.1 and quadratic-shaped at 100 TB;
    // the bucketed form is one pass over events + a window over hours.
    // All arithmetic is integer (value in micro-units; the sigma test
    // cross-multiplied to (v·N − S)² > 9·(N·Q − S²) in decimal(38,0)/
    // HUGEINT) so no float summation order can drift between engines.
    "q34_anomaly_zscore" -> { (s, d) =>
      val dec = "decimal(38,0)"
      val e = Tables.events(s, d).select(col("event_type"),
        expr("unix_micros(ts)").as("t"),
        floor(col("value") * lit(1000000.0)).cast("long").as("v"))
        // integer `div` matches the oracle's `//` exactly for any
        // sign — BOTH truncate toward zero (measured on this DuckDB;
        // see Det.truncDiv's scaladoc — the earlier one-sided pmod
        // floor guard here was the construction that could diverge on
        // pre-epoch timestamps); double division could misround
        // exactly at an hour boundary, so stay on the integer domain
        .withColumn("hr", expr("t div 3600000000"))
      val hourly = e.groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("n_h"), sum(col("v")).as("s_h"),
          sum(col("v").cast(dec) * col("v").cast(dec)).as("q_h"))
      val win = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rangeBetween(-23, 0)
      val stats = hourly
        .withColumn("n", sum(col("n_h")).over(win))
        .withColumn("s", sum(col("s_h")).over(win))
        .withColumn("q", sum(col("q_h")).over(win))
        .select(col("event_type"), col("hr"), col("n"), col("s"), col("q"))
      val vD = col("v").cast(dec); val nD = col("n").cast(dec); val sD = col("s").cast(dec)
      val lhs = vD * nD - sD
      val eligible = col("n") >= 30
      val anomaly = eligible && lhs * lhs > lit(9).cast(dec) * (nD * col("q") - sD * sD)
      e.join(stats, Seq("event_type", "hr"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(eligible, 1L).otherwise(0L)).as("n_eligible"),
          sum(when(anomaly, 1L).otherwise(0L)).as("n_anomalies"))
        .withColumn("anomaly_rate",
          // null (not NaN) when no window reached min-n: ANSI mode
          // treats the 0-divisor as an error, and the oracle's CASE
          // yields NULL — match it
          when(col("n_eligible") > 0,
            Det.trunc4(col("n_anomalies").cast("double") / col("n_eligible"))))
        .orderBy(col("event_type"))
    },

    // --- q35: inter-arrival histogram --------------------------------
    // Traffic-shape census: per-type event gaps in log2 buckets
    // (bucket = bit length of the microsecond gap — pure integer
    // arithmetic via bin(), no libm log whose last-ulp could diverge
    // between engines). Deterministic total order (t, event_id) so
    // both engines pick the same predecessor under timestamp ties.
    // Per-key sorted lag + one aggregation; nothing global.
    "q35_inter_arrival" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("t"), col("event_id"))
      graft.core.Tables.events(s, d)
        .select(col("event_id"), col("event_type"), expr("unix_micros(ts)").as("t"))
        .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
        .filter(col("gap").isNotNull)
        .withColumn("bucket",
          when(col("gap") === 0, 0).otherwise(length(bin(col("gap")))).cast("long"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap")).as("min_gap_us"), max(col("gap")).as("max_gap_us"))
        .orderBy(col("event_type"), col("bucket"))
    },

    // --- q36: last-touch revenue attribution -------------------------
    // Marketing-style attribution over the event stream: each
    // purchase credits its user's LATEST preceding non-purchase event
    // within 24 h (else 'direct'), censused by attributed touch type
    // in exact micro-units. The as-of lookup is the library's own
    // AsOf.joinAsOf (one shuffle, no pair explosion), carrying the
    // touch's type AND time so the attribution window is checked on
    // the carried row — DuckDB's native ASOF JOIN is the oracle.
    "q36_last_touch" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), expr("unix_micros(ts)").as("t"),
          floor(col("value") * lit(1000000.0)).cast("long").as("v_us"))
      // one touch row per (user, microsecond): joinAsOf's last() pick
      // among equal-tt rows and DuckDB ASOF's tie pick are BOTH
      // unspecified, so same-instant touches must collapse to one
      // deterministic winner (max type string) before either join
      val touches = ev.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"), expr("unix_micros(ts)").as("tt"))
        .agg(max(col("event_type")).as("touch"))
      AsOf.joinAsOf(purchases, touches, "user_id", "t", "tt", Seq("touch", "tt"))
        .withColumn("attributed",
          when(col("asof_tt").isNotNull &&
            col("asof_tt") >= col("t") - lit(86400000000L), col("asof_touch"))
            .otherwise(lit("direct")))
        .groupBy(col("attributed"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("v_us")).as("value_us"))
        .orderBy(col("attributed"))
    },

    // --- q37: per-key skew profile -----------------------------------
    // The salting decision input (q27's Skew.saltedJoin picks a salt
    // factor; THIS measures whether one is needed): per event_type,
    // how concentrated are rows on the heaviest keys? Reports the
    // heaviest key's share and the share of the top 1% of keys —
    // straggler predictors for any user_id-keyed shuffle. The window
    // ranks the (type, key) COUNT table, which is keys-sized, not
    // fact-sized; ties rank deterministically (count desc, key asc).
    "q37_key_skew" -> { (s, d) =>
      val perKey = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("c").desc, col("user_id"))
      perKey
        .withColumn("rk", row_number().over(w))
        // key census per type rides a second window over the same
        // partition (no extra shuffle — same partitioning), so the
        // top-1% cutoff ceil(nk/100) is exact integer arithmetic
        .withColumn("nk",
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_rows"),
          sum(when(col("rk") <= greatest(expr("(nk + 99) div 100"), lit(1L)),
            col("c")).otherwise(0L)).as("top1pct_rows"))
        .select(col("event_type"), col("n_keys"), col("n_rows"), col("max_rows"),
          col("top1pct_rows"),
          Det.trunc4(col("max_rows").cast("double") / col("n_rows")).as("max_frac"),
          Det.trunc4(col("top1pct_rows").cast("double") / col("n_rows")).as("top1pct_frac"))
        .orderBy(col("event_type"))
    },

    // --- q38: incremental-aggregate merge equivalence -----------------
    // At 100 TB nothing recomputes daily metrics from scratch: the
    // pipeline persists per-(day, key) PARTIALS and merges them. This
    // operator IS that two-level plan — partials per (day, type), then
    // an algebraic merge (counts/decimal-sums add, min/max fold) — and
    // its oracle is the DIRECT single-pass aggregate, so the gate
    // PROVES merged == direct for every published stat (the q23
    // decimal-moments recipe keeps the float sums engine-exact).
    // n_partials doubles as the census of incremental units. Day
    // bucketing is truncating integer division (Det.truncDiv) —
    // parity-exact against the oracle's `//` for any sign because
    // BOTH engines truncate toward zero (see Det.truncDiv scaladoc).
    "q38_incr_merge" -> { (s, d) =>
      val dayUs = 86400000000L
      val partials = Tables.events(s, d)
        .withColumn("day", expr(graft.functions.Det.truncDiv("unix_micros(ts)", dayUs)))
        .withColumn("v", col("value").cast("decimal(18,6)"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("pn"),
          sum(col("v")).as("psum"),
          sum((col("value") * col("value")).cast("decimal(28,6)")).as("psum2"),
          min(col("value")).as("pmin"), max(col("value")).as("pmax"))
      partials.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_partials"),
          sum(col("pn")).as("n_events"),
          sum(col("psum")).cast("double").as("sum_v"),
          sum(col("psum2")).cast("double").as("sum_v2"),
          min(col("pmin")).as("min_value"), max(col("pmax")).as("max_value"))
        .select(col("event_type"), col("n_partials"), col("n_events"),
          col("sum_v").as("sum_value"),
          Det.trunc4(col("sum_v") / col("n_events")).as("mean_value"),
          Det.trunc4((col("sum_v2") - col("sum_v") * col("sum_v") / col("n_events"))
            / col("n_events")).as("var_value"),
          col("min_value"), col("max_value"))
        .orderBy(col("event_type"))
    },

    // --- q39: rolling 7-day active users -----------------------------
    // The engagement census every event pipeline reports: per day, the
    // distinct users seen in the trailing MauDays window, plus that
    // day's DAU and the DAU/WAU stickiness ratio. Sliding DISTINCT
    // does not decompose into per-day partials, and a COUNT(DISTINCT)
    // OVER RANGE window serializes on a single global sort — so the
    // scalable shape is contribute-then-group: each (user, day) pair
    // fans out to the MauDays target days it keeps the user active
    // in (bounded ×7 explode — no join, no window), then ONE
    // hash-aggregate counts distinct users per target day. DAU rides
    // along as the off==0 slice of the same explode. The only
    // broadcast is the 1-row max-day bound that trims the phantom
    // tail days past the observed range.
    "q39_rolling_mau" -> { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"),
          expr(graft.functions.Det.truncDiv("unix_micros(ts)", EventPipeline.DayUs)).as("day"))
        .distinct()
      val mx = ud.agg(max(col("day")).as("max_day"))
      ud.select(col("user_id"), col("day"),
          explode(sequence(lit(0), lit(MauDays - 1))).as("off"))
        .withColumn("tday", col("day") + col("off"))
        .crossJoin(broadcast(mx))
        .filter(col("tday") <= col("max_day"))
        .groupBy(col("tday").as("day"))
        .agg(
          countDistinct(when(col("off") === 0, col("user_id"))).as("dau"),
          countDistinct(col("user_id")).as("mau7"))
        .withColumn("stickiness", Det.trunc4(col("dau").cast("double") / col("mau7")))
        .orderBy(col("day"))
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

    // --- q41: market-basket affinity ----------------------------------
    // Parts co-ordered in the same basket, with support and lift —
    // the co-occurrence census behind "frequently bought together".
    // Pair generation is a self-equi-join of the distinct
    // (order, part) item table ON THE ORDER KEY: one shuffle
    // co-partitions both sides, and each order contributes at most
    // C(basket,2) pairs — bounded by basket size, never O(n²) in the
    // corpus. Lift is exact fixed-point:
    // (pairs·n_orders·1e6) div (cnt_a·cnt_b) — the 1-row order count
    // is the only broadcast. Top-K by support plans as
    // TakeOrderedAndProject, not a global sort.
    //
    // Posture notes: q41's pair generation explodes within an order key
    // (bounded by basket size — max 13 distinct parts in the test data,
    // C(13,2) pairs worst case — never a corpus-level cross join), ev31's
    // lag window partitions by user, pk06 is the ev30/q39 bounded-fanout
    // recipe (×|candidate lengths|). Ratios are fixed-point integers so
    // the oracle hash-matches without float tolerance.
    "q41_basket_affinity" -> { (s, d) =>
      val items = Dedup.barrier(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct())
      val nOrders = items.select(col("okey")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val partCnt = items.groupBy(col("part")).agg(count(lit(1)).as("cnt"))
      val pairs = items.select(col("okey"), col("part").as("part_a"))
        .join(items.select(col("okey"), col("part").as("part_b")), Seq("okey"))
        .filter(col("part_a") < col("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_pairs"))
      pairs
        .join(partCnt.select(col("part").as("part_a"), col("cnt").as("cnt_a")), Seq("part_a"))
        .join(partCnt.select(col("part").as("part_b"), col("cnt").as("cnt_b")), Seq("part_b"))
        .crossJoin(broadcast(nOrders))
        .withColumn("lift_fx",
          expr("(n_pairs * n_orders * 1000000) div (cnt_a * cnt_b)"))
        .select(col("part_a"), col("part_b"), col("n_pairs"),
          col("cnt_a"), col("cnt_b"), col("lift_fx"))
        .orderBy(col("n_pairs").desc, col("part_a"), col("part_b"))
        .limit(BasketTopK)
    },

    // --- q42: period-over-period revenue bridge -----------------------
    // The FP&A decomposition of a revenue delta into volume effect
    // ((q1−q0)·p0) and price effect (q1·(p1−p0)) per nation, with the
    // integer-rounding residual published so the bridge provably
    // closes. One scan with conditional aggregation — the two periods
    // never self-join; dims broadcast. Money stays decimal(18,6) until
    // the exact ×1e6 fixed-point cast; unit prices are integer `div`
    // micro-units, so both engines bridge bit-identically.
    "q42_revenue_bridge" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      def revFx(y: Int) = (sum(when(col("yr") === y, col("rev")))
        * lit(1000000)).cast("long")
      def qtyL(y: Int) = sum(when(col("yr") === y, col("qty"))).cast("long")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .filter(year(col("o_orderdate")).isin(BridgeY0, BridgeY1))
        .withColumn("yr", year(col("o_orderdate")))
        .withColumn("rev", (col("l_extendedprice")
          * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
        .withColumn("qty", col("l_quantity").cast("decimal(18,2)"))
        .groupBy(col("n_name"))
        .agg(revFx(BridgeY0).as("rev0_fx"), revFx(BridgeY1).as("rev1_fx"),
          qtyL(BridgeY0).as("qty0"), qtyL(BridgeY1).as("qty1"))
        .filter(col("qty0") > 0 && col("qty1") > 0)
        .withColumn("price0_fx", expr("rev0_fx div qty0"))
        .withColumn("price1_fx", expr("rev1_fx div qty1"))
        .withColumn("vol_eff_fx", (col("qty1") - col("qty0")) * col("price0_fx"))
        .withColumn("price_eff_fx", col("qty1") * (col("price1_fx") - col("price0_fx")))
        .withColumn("resid_fx",
          col("rev1_fx") - col("rev0_fx") - col("vol_eff_fx") - col("price_eff_fx"))
        .select(col("n_name"), col("rev0_fx"), col("rev1_fx"),
          col("qty0"), col("qty1"), col("price0_fx"), col("price1_fx"),
          col("vol_eff_fx"), col("price_eff_fx"), col("resid_fx"))
        .orderBy(col("n_name"))
    },

    // --- q43: order-to-ship latency percentiles -----------------------
    // Exact p50/p95 of the order→ship latency per priority, WITHOUT
    // sorting the fact table: latency lives on a bounded integer
    // domain (days), so the facts fold once into a (priority × days)
    // histogram, the cumulative window runs over that bounded frame,
    // and the percentile is the smallest day whose cumulative count
    // clears ceil(n·p/100) — integer cross-multiplied (100·cum ≥ n·p)
    // so no division ever happens. The mean is fixed-point micro-days.
    //
    // q43 decomposes exact percentiles over a BOUNDED integer domain —
    // facts fold once to a (priority × days) histogram and every
    // window runs on that bounded frame (never a fact-table sort; the
    // recipe global order statistics use when the domain is
    // enumerable)
    "q43_ship_latency" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val hist = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long").as("days"))
        .groupBy(col("priority"), col("days"))
        .agg(count(lit(1)).as("cnt"))
      withCdf(hist, "priority", "days", "cnt", "cum", "n")
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

    // --- q44: weekly seasonality profile ------------------------------
    // Capacity planning reads demand as a (day-of-week × hour) grid
    // per event type. Both keys derive from epoch microseconds
    // (1970-01-01 was a Thursday → +4, 0=Sunday), so the grid is
    // integer arithmetic end-to-end. One hash aggregate over events;
    // the share window runs on the bounded |types|×168 cell table.
    //
    // q44's day-of-week/hour come from epoch-microsecond integer
    // arithmetic, not calendar functions, because Spark (1=Sunday) and
    // DuckDB (0=Sunday) disagree on the convention. All three are
    // single hash-aggregates over the facts with windows/broadcasts
    // only on bounded group tables (buckets, types×168 cells, rank
    // octaves).
    "q44_hour_seasonality" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
      Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
        .withColumn("dow", expr(
          s"((${graft.functions.Det.truncDiv("us", 86400000000L)} + 4) % 7 + 7) % 7").cast("int"))
        .withColumn("hour", expr("(((us % 86400000000) + 86400000000) % 86400000000) div 3600000000").cast("int"))
        .groupBy(col("event_type"), col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(w))
        .withColumn("share_fx", expr(s"(n * $Fx) div total"))
        .select(col("event_type"), col("dow"), col("hour"), col("n"), col("share_fx"))
        .orderBy(col("event_type"), col("dow"), col("hour"))
    },

    // --- q45: cohort LTV curves ---------------------------------------
    //
    // Posture notes: q30 counts cohort retention; q45 prices it —
    // cumulative revenue per signup cohort by month offset, per
    // cohort member. The only fact-table work is one min-aggregate
    // (first order per customer) and one co-partitioned equi-join of
    // orders to their customer's cohort; the LTV curve itself (running
    // sum, per-member division) lives on the bounded cohorts×offsets
    // table. Money stays integer cents end-to-end (floor(price·100) —
    // the deterministic fixed-point treatment every gated money column
    // uses), month indexes are year·12+month integer arithmetic.
    "q45_ltv_cohorts" -> { (s, d) =>
      val om = expr("year(o_orderdate) * 12 + month(o_orderdate)")
      val orders = Tables.orders(s, d)
        .select(col("o_custkey"), om.as("m"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cohorts = orders.groupBy(col("o_custkey"))
        .agg(min(col("m")).as("cohort_m"))
      val sizes = cohorts.groupBy(col("cohort_m"))
        .agg(count(lit(1)).as("cohort_size"))
      val cells = orders.join(cohorts, Seq("o_custkey"))
        .withColumn("offset", (col("m") - col("cohort_m")).cast("int"))
        .groupBy(col("cohort_m"), col("offset"))
        .agg(countDistinct(col("o_custkey")).as("n_active"),
          sum(col("cents")).cast("long").as("rev_cents"))
      val wc = Window.partitionBy(col("cohort_m")).orderBy(col("offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cum_rev_cents", sum(col("rev_cents")).over(wc).cast("long"))
        .join(broadcast(sizes), Seq("cohort_m"))
        .withColumn("ltv_cents", expr("cum_rev_cents div cohort_size"))
        .select(col("cohort_m"), col("offset"), col("n_active"),
          col("rev_cents"), col("cum_rev_cents"), col("cohort_size"),
          col("ltv_cents"))
        .orderBy(col("cohort_m"), col("offset"))
    },

    // --- q46: exact grouped quartiles, no fact sort -------------------
    // Exact p25/p50/p75 per return flag via value-frequency
    // decomposition: the facts fold once to (flag, value) counts, the
    // cumulative window runs on that bounded table (|flags|×|values|),
    // and each quartile is "smallest value whose running count clears
    // ceil(p·n)" — all-integer, engine-exact, and no row of lineitem
    // ever crosses a sort. The alternative (percentile over facts) is
    // a per-group global sort; this is the 100 TB form.
    //
    // q46 computes EXACT per-group quartiles by value-frequency
    // decomposition (the fact table folds to a |groups|×|distinct
    // values| table; the cumulative window runs there), the third
    // member of the no-global-sort family next to ntileExact (q33) and
    // the prefix-sum rank (tx21)
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

    // --- q47: order-backlog ageing census -----------------------------
    // Operational backlog health: orders not yet finalized
    // (status O/P), bucketed by age at the data tip in 90-day bands,
    // censused per priority — the queue-depth dashboard a fulfilment
    // org actually runs. One pass over orders; the tip date is a
    // 1-row broadcast aggregate; age arithmetic is datediff on DATE
    // (UTC both engines).
    //
    // q47 is one conditional aggregate with a 1-row broadcast tip
    // date.
    "q47_order_backlog" -> { (s, d) =>
      val tip = Tables.orders(s, d).agg(max(col("o_orderdate")).as("tip"))
      Tables.orders(s, d)
        .filter(col("o_orderstatus") =!= "F")
        .crossJoin(broadcast(tip))
        .withColumn("age_d", datediff(col("tip"), col("o_orderdate")).cast("long"))
        .withColumn("age_band", expr("(age_d div 90) * 90"))
        .groupBy(col("o_orderpriority").as("priority"), col("age_band"))
        .agg(count(lit(1)).as("n_open"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("open_value"))
        .orderBy(col("priority"), col("age_band"))
    },

    // --- q48: foreign-key orphan audit --------------------------------
    // The warehouse data-quality gate nobody skips at 100 TB: for
    // each declared FK edge, child rows, distinct child keys, orphan
    // child keys (no parent), parent keys never referenced, and the
    // fixed-point referential coverage. One full-outer equi-join per
    // edge on deduplicated key frames, folded to a 1-row census —
    // ss17's recipe applied to orders→customer and lineitem→orders.
    //
    // Posture notes: q48 is ss17's full-outer census generalized to
    // the TPC-H foreign keys — both sides shuffle on the key domain,
    // no broadcast assumption on either
    "q48_referential_audit" -> { (s, d) =>
      def audit(rel: String, child: DataFrame, childKey: String,
          parent: DataFrame, parentKey: String): DataFrame = {
        val ck = child.groupBy(col(childKey).as("k"))
          .agg(count(lit(1)).as("child_rows"))
        val pk = parent.select(col(parentKey).as("k")).distinct()
          .withColumn("has_parent", lit(1L))
        ck.join(pk, Seq("k"), "full_outer")
          .agg(
            coalesce(sum(col("child_rows")), lit(0L)).cast("long").as("child_rows"),
            coalesce(sum(when(col("child_rows").isNotNull, 1L)), lit(0L))
              .cast("long").as("child_keys"),
            coalesce(sum(when(col("has_parent").isNull, 1L)), lit(0L))
              .cast("long").as("orphan_keys"),
            coalesce(sum(when(col("child_rows").isNull, 1L)), lit(0L))
              .cast("long").as("unreferenced_parents"),
            coalesce(sum(col("has_parent")), lit(0L)).cast("long").as("parent_keys"))
          .withColumn("relation", lit(rel))
      }
      audit("lineitem->orders",
          Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey")
        .unionByName(audit("orders->customer",
          Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .withColumn("coverage_fx",
          expr(s"((child_keys - orphan_keys) * $Fx) div greatest(child_keys, 1)"))
        .select(col("relation"), col("child_rows"), col("child_keys"),
          col("orphan_keys"), col("parent_keys"), col("unreferenced_parents"),
          col("coverage_fx"))
        .orderBy(col("relation"))
    },

    // --- q49: snapshot-to-snapshot entity diff -------------------------
    // Incremental corpus/warehouse builds ship deltas, and the first
    // operational question after a refresh is "what changed at the
    // entity level": per customer, the order count and spend at
    // cutoff t1 vs cutoff t2, classified new / grown / unchanged.
    // Both snapshots are ONE aggregate over the fact table (the t1
    // snapshot is a filtered re-aggregation, not a second scan
    // lineage — Catalyst collapses the shared scan), full-outer
    // joined on the entity key: co-partitioned, no fact-table
    // re-join, census output.
    //
    // q49 is two cutoff aggregates co-partitioned on the entity key
    // (one shuffle each, full-outer on the group tables)
    "q49_snapshot_diff" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"),
          col("o_totalprice").cast("decimal(18,6)").as("price"))
      def snap(cut: String) = o
        .filter(col("o_orderdate") <= lit(cut).cast("timestamp"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("spend"))
      val t1 = snap("1996-12-31")
      val t2 = snap("1997-12-31")
      val diff = t1.as("a").join(t2.as("b"), Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("a.n"), lit(0L)).as("n1"),
          coalesce(col("b.n"), lit(0L)).as("n2"),
          coalesce(col("a.spend"), lit(0).cast("decimal(18,6)")).as("s1"),
          coalesce(col("b.spend"), lit(0).cast("decimal(18,6)")).as("s2"))
        .withColumn("seg",
          when(col("n1") === 0 && col("n2") > 0, "1_new")
            .when(col("n2") > col("n1"), "2_grown")
            .otherwise("3_unchanged"))
      diff.groupBy(col("seg"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("n2") - col("n1")).cast("long").as("orders_added"),
          sum(col("s2") - col("s1")).cast("double").as("spend_added"))
        .orderBy(col("seg"))
    },

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
    //
    // Posture notes: q50 measures the file-skipping yield of a Z-ORDER
    // layout against a time-sorted layout from per-file min/max zone
    // maps — the decision tool for laying out a 100 TB table; the zone
    // maps are bounded grouped aggregates (≤256 files/layout), so the
    // non-equi predicate probe runs on a few hundred rows. tx28/dd29
    // are hash-groupBy censuses on fingerprint keys with bounded group
    // tables.
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

    // --- q51: feature-hashing dimension sizer --------------------------
    // The hashing trick maps unbounded categorical vocabularies into
    // a fixed feature dimension; too small and distinct features
    // collide into the same weight. Per candidate dimension m: the
    // feature vocabulary (id + low-card categoricals), buckets
    // occupied, features sharing a bucket, and the collision share —
    // measured, not the birthday-bound estimate. One distinct
    // aggregate for the vocabulary, then a bucket fold per m.
    "q51_feature_hashing" -> { (s, d) =>
      val feats = Tables.orders(s, d)
        .select(explode(array(
          concat(lit("cust="), col("o_custkey").cast("string")),
          concat(lit("status="), col("o_orderstatus")),
          concat(lit("prio="), col("o_orderpriority")))).as("feat"))
        .distinct()
      Dims.map { m =>
        feats
          .select(pmod(Hashing.hash64(col("feat")), lit(m)).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).cast("long").as("n_buckets_used"),
            sum(col("n")).cast("long").as("n_features"),
            sum(when(col("n") > 1, col("n")).otherwise(0L))
              .cast("long").as("collided_features"))
          .withColumn("dim", lit(m))
      }.reduce(_ unionByName _)
        .withColumn("fill_fx", expr(s"(n_buckets_used * $Fx) div dim"))
        .withColumn("collision_share_fx",
          expr(s"(collided_features * $Fx) div n_features"))
        .select(col("dim"), col("n_features"), col("n_buckets_used"),
          col("collided_features"), col("fill_fx"), col("collision_share_fx"))
        .orderBy(col("dim"))
    },

    // --- q52: SCD Type-2 validity intervals ----------------------------
    // ev22 materializes type-1 (latest wins); warehouses also need
    // type 2: the full validity history. Each change of a user's
    // event_type opens an interval [valid_from, valid_to) closed by
    // the next change (the last interval per user stays open).
    // Census per state: intervals opened, still-open count, and the
    // closed intervals' total dwell seconds — the state-residency
    // profile. Change detection and interval closing are lag/lead
    // windows on the user key; ties break on event_id (offset
    // order), ev22's convention.
    //
    // Posture notes: q52 is two windows partitioned by the entity key
    // (user) — the standard changes-to-intervals build, no global
    // state
    "q52_scd2_intervals" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      val iv = e
        .withColumn("valid_to_us", lead(col("us"), 1).over(byUser))
      iv.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_intervals"),
          sum(when(col("valid_to_us").isNull, 1L).otherwise(0L))
            .cast("long").as("n_open"),
          coalesce(sum(expr("(valid_to_us - us) div 1000000")), lit(0L))
            .cast("long").as("closed_dwell_sec"))
        .orderBy(col("event_type"))
    },

    // --- q53: join-explosion pre-flight --------------------------------
    // A many-to-many join's output size is sum over keys of
    // n_left(k)·n_right(k) — and one hot key can dwarf the rest.
    // Before running user-keyed events⋈events joins (ev17's shape),
    // this prices that sum EXACTLY from the two per-key count tables
    // (clicks × purchases per user): total output rows, the heaviest
    // key's share, and the share carried by the top percentile
    // bucket (ANSI NTILE(100), computed scalably by Rank.ntileExact —
    // no keys-sized global sort window). The salting/skew-join
    // decision input: the join-output analog of q37's row-count skew.
    //
    // q53 folds both join sides to per-key counts first, so the
    // "explosion" is priced on the key tables (distinct keys), never
    // by running the join.
    "q53_join_explosion" -> { (s, d) =>
      val e = Tables.events(s, d)
      def perKey(t: String, as: String) = e.filter(col("event_type") === t)
        .groupBy(col("user_id")).agg(count(lit(1)).as(as))
      val keys = perKey("click", "n_l").join(perKey("purchase", "n_r"), Seq("user_id"))
        .withColumn("out_rows", col("n_l") * col("n_r"))
      val tiled = Rank.ntileExact(keys, 100, "pctile",
        col("out_rows"), Seq(col("user_id")))
      tiled.agg(count(lit(1)).cast("long").as("n_keys"),
          sum(col("out_rows")).cast("long").as("total_out"),
          max(col("out_rows")).cast("long").as("max_key_out"),
          sum(when(col("pctile") === 100, col("out_rows")).otherwise(0L))
            .cast("long").as("top1pct_out"))
        .withColumn("max_share_fx", expr(s"(max_key_out * $Fx) div total_out"))
        .withColumn("top1pct_share_fx", expr(s"(top1pct_out * $Fx) div total_out"))
        .select(col("n_keys"), col("total_out"), col("max_key_out"),
          col("top1pct_out"), col("max_share_fx"), col("top1pct_share_fx"))
    },

    // --- q54: spend-decile transition matrix ---------------------------
    // Mobility analysis: each customer's spend decile at cutoff t1 vs
    // t2 (new customers enter as decile 0), censused as the bounded
    // (from, to) transition matrix — who moved up, who churned into
    // the tail. Deciles come from Rank.ntileExact (exact ANSI NTILE,
    // no customer-cardinality global sort); the two decile frames
    // join co-partitioned on the customer key.
    "q54_decile_transition" -> { (s, d) =>
      // money in integer cents end to end (q40's convention): floor
      // on the double is engine-identical, and the ntile key stays a
      // long
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      def deciles(cut: String, out: String) = Rank.ntileExact(
        o.filter(col("o_orderdate") <= lit(cut).cast("timestamp"))
          .groupBy(col("o_custkey")).agg(sum(col("cents")).as("spend")),
        10, out, col("spend"), Seq(col("o_custkey")))
        .select(col("o_custkey"), col(out))
      val t1 = deciles("1996-12-31", "d1")
      val t2 = deciles("1997-12-31", "d2")
      t2.join(t1, Seq("o_custkey"), "left")
        .withColumn("decile_from", coalesce(col("d1"), lit(0)).cast("int"))
        .withColumn("decile_to", col("d2").cast("int"))
        .groupBy(col("decile_from"), col("decile_to"))
        .agg(count(lit(1)).cast("long").as("n_customers"))
        .orderBy(col("decile_from"), col("decile_to"))
    },

    // --- q55: count-min sketch error census ------------------------------
    // The streaming-safe heavy-hitter answer at 100 TB is a sketch,
    // not a groupBy: d=4 x w=512 counters bound memory regardless of
    // key cardinality, and estimates only ever OVERcount. This op
    // prices that trade on real data: build the sketch, take the true
    // top-20 part keys, and report estimate vs truth per key — the
    // page that says whether w is big enough for this key skew.
    //
    // Posture notes: q55 folds the fact table ONCE to per-key counts
    // (the only fact shuffle), then builds the d×w sketch from that
    // vocab-sized table — at 100 TB the sketch is 2,048 counters
    // whatever the input size, the textbook sublinear summary. tx31 is
    // two equi-aggregations (per-doc gram counts; min-doc per distinct
    // gram hash) — no global sort, deciles come from broadcast id
    // bounds. pk17 is a hash-bucket fold to |shards| rows then
    // |workers| rows; both bounded.
    "q55_countmin_sketch" -> { (s, d) =>
      val keyed = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .withColumn("k", col("l_partkey").cast("string"))
      val sketch = Sketch.countMin(keyed, col("k"), col("cnt"), CmsD, CmsW)
      val top = keyed
        .orderBy(col("cnt").desc, col("l_partkey"))
        .limit(TopN)
      Sketch.cmsEstimate(sketch,
          top.select(col("l_partkey"), col("cnt").as("true_cnt"), col("k")),
          col("k"), CmsD, CmsW)
        .withColumn("over_cnt", col("est") - col("true_cnt"))
        .select(col("l_partkey"), col("true_cnt"), col("est").as("est_cnt"),
          col("over_cnt"))
        .orderBy(col("true_cnt").desc, col("l_partkey"))
    },

    // --- q56: bipartite PageRank, bounded rounds -------------------------
    // Supplier importance by mass propagation over the customer ↔
    // supplier trade graph (edge weight = lineitems shipped): ranks
    // alternate cust → supp → cust for 2 full rounds with 0.85
    // damping, all in integer fixed point so both engines agree
    // bit-for-bit. The census that a raw volume ranking misses:
    // a supplier fed by well-connected customers outranks one with
    // the same volume from one captive buyer.
    //
    // Posture notes: q56 is the Pregel-style iterative pattern done as
    // unrolled equi-join rounds — every round is one join on the edge
    // key + one aggregate, rank tables stay entity-sized, and the edge
    // table materializes once behind a barrier so the rounds never re-
    // run the fact join. No collect, no driver loop: the round count
    // is a compile-time constant (the production shape for bounded
    // label/mass propagation; unbounded variants belong to the
    // checkpointed loop in [[Components]]). q57 folds each snapshot to
    // 256 (bucket, count, digest) rows — anti-entropy reconciliation
    // reads two 256-row summaries, never the fact tables, exactly how
    // a 100 TB table pair is diffed without a row-level join.
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
    },

    // --- q58: order-ledger reconciliation --------------------------------
    // The financial-close audit: recompute each order's total from
    // its lineitems (extendedprice net of discount plus tax, all in
    // integer cents and basis points — truncating, deterministic on
    // both engines) and reconcile against the order header. Per
    // status: orders, headerless matches within the tolerance,
    // mismatches, and the total absolute drift — the report that
    // finds a broken pricing pipeline before the auditor does.
    "q58_order_reconciliation" -> { (s, d) =>
      val recomputed = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          expr("""(CAST(floor(l_extendedprice * 100) AS BIGINT)
                 | * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))
                 | div 10000
                 | * (10000 + CAST(floor(l_tax * 10000) AS BIGINT))
                 | div 10000)""".stripMargin).as("net_cents"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("net_cents")).cast("long").as("recomputed_cents"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("header_cents"))
        .join(recomputed, col("o_orderkey") === col("l_orderkey"), "left")
        .withColumn("recomputed_cents", coalesce(col("recomputed_cents"), lit(0L)))
        .withColumn("drift_cents", abs(col("recomputed_cents") - col("header_cents")))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(when(col("drift_cents") <= TolCents, 1L).otherwise(0L)).cast("long")
            .as("n_matched"),
          sum(when(col("drift_cents") > TolCents, 1L).otherwise(0L)).cast("long")
            .as("n_mismatched"),
          sum(col("drift_cents")).cast("long").as("total_drift_cents"))
        .withColumn("match_fx", expr(s"(n_matched * $Fx) div n_orders"))
        .select(col("o_orderstatus"), col("n_orders"), col("n_matched"),
          col("n_mismatched"), col("total_drift_cents"), col("match_fx"))
        .orderBy(col("o_orderstatus"))
    },

    // --- q59: Benford first-digit fraud census ---------------------------
    // Naturally-occurring money amounts follow Benford's law; ledgers
    // cooked by humans don't. Per leading digit of the order total
    // (in cents): observed count and share vs the Benford
    // expectation, and the absolute deviation — the screen an
    // auditor runs before sampling anything.
    //
    // Posture note: one narrow fact scan folded to a 9-row digit
    // census; the Benford expectations are PLAN-TIME literals (computed
    // once on the driver and spliced into both engines' plans
    // identically), so no runtime float crosses an engine boundary.
    "q59_benford_census" -> { (s, d) =>
      val expected = typedLit((1 to 9).map(i => BenfordFx(i)))
      val census = Tables.orders(s, d)
        .select(substring(floor(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
      val totals = census.agg(sum(col("n_orders")).cast("long").as("total"))
      census.crossJoin(broadcast(totals))
        .withColumn("obs_fx", expr(s"(n_orders * $Fx) div total"))
        .withColumn("benford_fx", element_at(expected, col("digit")))
        .withColumn("dev_fx", abs(col("obs_fx") - col("benford_fx")))
        .select(col("digit"), col("n_orders"), col("obs_fx"),
          col("benford_fx"), col("dev_fx"))
        .orderBy(col("digit"))
    },

    // --- q60: bitemporal as-of grid --------------------------------------
    // The two-clock reconstruction behind every backfill audit: "as
    // of what we KNEW at transaction time T, what was each user's
    // state at valid time V?" Transaction order = event_id (arrival),
    // valid order = ts. For each (T quarter, V quarter) cell: users
    // with a reconstructed state and their value mass. Late-arriving
    // corrections show up as cells where T < V's own quarter differs
    // from the diagonal — the bitemporal drift a single-clock system
    // cannot even express.
    //
    // Posture notes: q60's grid is a compile-time 4×4 of quarter
    // cutoffs — the fact table explodes by at most 16 (bounded
    // fanout), then one aggregate per (user, cell) keyed window-free
    // maximum; never a per-cell pass over the facts. tx32 is the
    // token-frequency fold every tx op shares, cut per language —
    // vocab-sized shuffle, bounded output.
    "q60_bitemporal_grid" -> { (s, d) =>
      // scatter (r13 opt): the 16-cell grid join is a
      // BroadcastNestedLoopJoin with a 16x fanout + per-cell max_by
      // fold, and it inherits the events scan's ONE partition
      // (Probe stage census: a 1.25 s single-task stage = most of the query)
      val ev = graft.core.Par.scatter(Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          expr("unix_micros(ts)").as("us")))
      val bounds = ev.agg(
        min(col("us")).as("vlo"), max(col("us")).as("vhi"),
        min(col("event_id")).as("tlo"), max(col("event_id")).as("thi"))
      // quarter cutoff = lo + q*(span)/4, exclusive upper quarters
      val grid = broadcast(bounds.select(explode(typedLit(TxQuarters)).as("tq"),
          col("tlo"), col("thi"), col("vlo"), col("vhi"))
        .select(col("tq"), explode(typedLit(TxQuarters)).as("vq"),
          expr("tlo + (tq * (thi - tlo)) div 4").as("t_cut"),
          expr("vlo + (vq * (vhi - vlo)) div 4").as("v_cut"))
        .select(col("tq"), col("vq"), col("t_cut"), col("v_cut")))
      ev.join(grid,
          col("event_id") <= col("t_cut") && col("us") <= col("v_cut"))
        .groupBy(col("tq"), col("vq"), col("user_id"))
        .agg(max_by(col("value"), struct(col("us"), col("event_id"))).as("state"))
        .groupBy(col("tq"), col("vq"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("state").cast("decimal(18,6)")).cast("double").as("state_mass"))
        .orderBy(col("tq"), col("vq"))
    },

    // --- q61: KMV bottom-k distinct sketch -------------------------------
    // The mergeable distinct-count sketch that IS exactly checkable:
    // per event type, keep the k=64 smallest user hashes; the
    // estimate (k−1)·2^60 / h_k is deterministic integer arithmetic,
    // so the oracle gates the whole sketch bit-for-bit (q13's HLL
    // can only be rows-checked). Reported against the true distinct
    // count with the signed fixed-point error.
    "q61_kmv_distinct" -> { (s, d) =>
      val hashed = Tables.events(s, d)
        .select(col("event_type"),
          Hashing.hash64(col("user_id").cast("string")).as("h"))
        .distinct()
      // below k the sketch keeps every distinct hash, so n_kept IS
      // the true count — Sketch.kmvDistinct's exact-branch value
      val kth = Sketch.kmvDistinct(hashed, Seq(col("event_type")), col("h"), KmvK)
      val truth = hashed.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_true"))
      truth.join(kth, Seq("event_type"))
        // err can be negative: plain `div` matches DuckDB `//` for
        // any sign — both truncate (see Det.truncDiv's scaladoc)
        .withColumn("err_fx", expr(s"((est - n_true) * $Fx) div n_true"))
        .select(col("event_type"), col("n_true"), col("h_k"), col("est"),
          col("err_fx"))
        .orderBy(col("event_type"))
    },

    // --- q62: linear multi-touch attribution -----------------------------
    // Last-touch (q36) gives the final click all the credit; linear
    // attribution splits each conversion's value equally across
    // every click in the 7-day lookback. Census: credited cents per
    // click hour-of-day — WHEN the touches that actually convert
    // happen, the budget-pacing page. Touchless conversions are
    // censused separately as the "no_touch" row (hour = -1).
    "q62_linear_attribution" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          expr("unix_micros(ts)").as("p_us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), expr("unix_micros(ts)").as("c_us"))
      val touched = purchases.join(clicks, Seq("user_id"), "left")
        .withColumn("is_touch",
          col("c_us").isNotNull && col("c_us") < col("p_us") &&
            col("c_us") >= col("p_us") - lit(LookbackS * 1000000L))
      val perConv = touched
        .groupBy(col("p_id"), col("cents"))
        .agg(sum(when(col("is_touch"), 1L).otherwise(0L)).cast("long").as("n_touches"))
      val credits = touched.filter(col("is_touch"))
        .join(perConv.select(col("p_id"), col("n_touches")), Seq("p_id"))
        // symmetric ((h % 24) + 24) % 24 guard on BOTH engine sides
        // (ADVICE r6): truncating div + truncating % in both engines,
        // so the hour key is parity-exact even for pre-epoch micros
        .withColumn("hour",
          expr(s"(((${Det.truncDiv("c_us", 3600000000L)}) % 24 + 24) % 24)").cast("int"))
        .withColumn("credit_cents", expr("cents div n_touches"))
        .groupBy(col("hour"))
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum(col("credit_cents")).cast("long").as("credited_cents"))
      val noTouch = perConv.filter(col("n_touches") === 0L)
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum(col("cents")).cast("long").as("credited_cents"))
        .select(lit(-1).cast("int").as("hour"), col("n_touches"),
          col("credited_cents"))
      credits.unionByName(noTouch)
        .filter(col("n_touches") > 0L)
        .orderBy(col("hour"))
    },

    // --- q63: exact range-partition planner ------------------------------
    // The boundary table a 100 TB global sort needs, computed
    // WITHOUT sorting: tile the sort key into 32 exact-NTILE ranges
    // (Rank.ntileExact — two-level, no single-task window), fold
    // each tile to (lo, hi, rows), and report the skew against the
    // ideal 1/32 — what Spark's RangePartitioner estimates by
    // sampling, here exact and deterministic.
    "q63_range_plan" -> { (s, d) =>
      val keyed = Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100).cast("long").as("k"),
          col("l_orderkey"), col("l_linenumber"))
      val tiled = Rank.ntileExact(keyed, NParts, "part", col("k"),
        Seq(col("l_orderkey"), col("l_linenumber")))
      val parts = tiled.groupBy(col("part"))
        .agg(min(col("k")).as("lo_cents"), max(col("k")).as("hi_cents"),
          count(lit(1)).cast("long").as("n_rows"))
      val total = parts.agg(sum(col("n_rows")).cast("long").as("n_total"))
      parts.crossJoin(broadcast(total))
        .withColumn("skew_fx", expr(s"(n_rows * $NParts * $Fx) div n_total"))
        .select(col("part").cast("int").as("part"), col("lo_cents"),
          col("hi_cents"), col("n_rows"), col("skew_fx"))
        .orderBy(col("part"))
    },

    // --- q64: inventory depletion ledger ---------------------------------
    // The running-balance ledger read as a census: each part starts
    // with half its total demand in stock; shipments draw it down in
    // (shipdate, orderkey, linenumber) order; the month where the
    // running draw crosses the initial stock is that part's
    // depletion event. Per ship month: lines, quantity, and parts
    // depleted — the restocking wave a fulfilment planner reads.
    //
    // Posture notes: q64's running sums are partitioned by part key
    // (never global) and the census folds to months. ev62 computes
    // EXACT peak concurrency with the two-level prefix-sum recipe
    // (ev30's): per-hour delta partials, a prefix window over the
    // bounded hour table, then within-hour running sums carry in the
    // hour's offset — no global-order window anywhere.
    "q64_depletion_ledger" -> { (s, d) =>
      val lines = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).cast("long").as("qty"),
          col("l_shipdate"))
      val initial = lines.groupBy(col("l_partkey"))
        .agg((sum(col("qty")) / lit(2)).cast("long").as("stock0"))
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val run = lines.join(initial, Seq("l_partkey"))
        .withColumn("drawn", sum(col("qty")).over(w))
        .withColumn("depletes",
          col("drawn") > col("stock0") &&
            (col("drawn") - col("qty")) <= col("stock0"))
      run.groupBy(date_trunc("month", col("l_shipdate")).as("month"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("qty")).cast("long").as("qty_shipped"),
          sum(when(col("depletes"), 1L).otherwise(0L)).cast("long")
            .as("n_depletions"))
        .orderBy(col("month"))
    },

    // --- q65: cardinality-estimation error census ------------------------
    // Every optimizer misplan starts with a bad cardinality
    // estimate. For the three standard FK edges, the textbook
    // |A|·|B| / max(d_A, d_B) estimate vs the measured join count,
    // as a signed fixed-point ratio — the page that says which edge
    // statistics the planner can trust. (On clean FK data the
    // estimator is near-exact; the interesting number is how far
    // real data drifts from that.)
    //
    // Posture notes: q65 folds each join edge to a 1-row stats
    // aggregate (counts + distincts) and evaluates the textbook
    // estimator against the measured join count — three bounded arms
    // unioned. ss30 derives from ss11's 3-row sweep output with one
    // window over that aggregate frame.
    "q65_cardinality_error" -> { (s, d) =>
      def edge(name: String, a: DataFrame, ka: String,
          b: DataFrame, kb: String): DataFrame = {
        val stats = a.agg(count(lit(1)).cast("long").as("n_a"),
            countDistinct(col(ka)).cast("long").as("d_a"))
          .crossJoin(b.agg(count(lit(1)).cast("long").as("n_b"),
            countDistinct(col(kb)).cast("long").as("d_b")))
        val actual = a.join(b, a(ka) === b(kb))
          .agg(count(lit(1)).cast("long").as("actual_rows"))
        stats.crossJoin(actual)
          .withColumn("est_rows", expr("(n_a * n_b) div greatest(d_a, d_b)"))
          .select(lit(name).as("edge"), col("n_a"), col("n_b"),
            col("d_a"), col("d_b"), col("est_rows"), col("actual_rows"))
          .withColumn("err_fx", expr(s"(est_rows * $Fx) div actual_rows"))
      }
      val e1 = edge("orders-customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey")
      val e2 = edge("lineitem-orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey")
      val e3 = edge("lineitem-part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey")
      e1.unionByName(e2).unionByName(e3).orderBy(col("edge"))
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
    },

    // --- q67: OLS trend slopes per group ---------------------------------
    // The regression primitive as a census: per order priority, the
    // least-squares slope of daily order counts over the day index
    // (orders/day of drift) and r² — trend detection in closed form
    // from sum partials, no iteration, engine-identical double
    // arithmetic under trunc4.
    "q67_trend_slope" -> { (s, d) =>
      val daily = Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          expr(Det.truncDiv("unix_micros(cast(o_orderdate as timestamp))", 86400000000L)).as("day"))
        .groupBy(col("priority"), col("day"))
        .agg(count(lit(1)).cast("long").as("y"))
      val base = daily.agg(min(col("day")).as("d0"))
      daily.crossJoin(broadcast(base))
        .withColumn("x", col("day") - col("d0"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).cast("long").as("n_days"),
          sum(col("x")).cast("long").as("sx"),
          sum(col("y")).cast("long").as("sy"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("x") * col("y")).cast("long").as("sxy"),
          sum(col("y") * col("y")).cast("long").as("syy"))
        .withColumn("slope4", Det.trunc4(
          (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double")))
        // square in DOUBLE: the covariance can reach ~1e10 and its
        // BIGINT square would overflow (DuckDB raises)
        .withColumn("r2_4", Det.trunc4(
          ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") *
           (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double")) /
            ((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") *
             (col("n_days") * col("syy") - col("sy") * col("sy")).cast("double"))))
        .select(col("priority"), col("n_days"), col("slope4"), col("r2_4"))
        .orderBy(col("priority"))
    },

    // --- q68: A/B lift evaluation ----------------------------------------
    // The experimentation primitive: users hash-split 50/50 into
    // control/treatment (stable bucketing — the same user always
    // lands in the same arm), per arm the users, converters (any
    // purchase), conversion share, and mean purchase value; the
    // treatment row carries the measured lift vs control in fixed
    // point. With no real treatment in the data the lift reads ~0 —
    // which is exactly the A/A-test calibration an experimentation
    // stack must pass before anyone trusts its A/B numbers.
    //
    // Posture note: assignment is a deterministic user-hash split (the
    // production bucketing recipe — stable across sessions and
    // re-runs), the evaluation is two user-keyed folds, and the lift
    // arithmetic runs on the 2-row arm table.
    "q68_ab_lift" -> { (s, d) =>
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"),
          sum(when(col("event_type") === "purchase",
            floor(col("value") * 100).cast("long")).otherwise(0L))
            .as("purchase_cents"))
        .withColumn("arm",
          when(pmod(Hashing.hash64(col("user_id").cast("string")), lit(2L)) === 0,
            "control").otherwise("treatment"))
      val arms = users.groupBy(col("arm"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("converted")).cast("long").as("n_converters"),
          sum(col("purchase_cents")).cast("long").as("cents"))
        .withColumn("conv_fx", expr(s"(n_converters * $Fx) div n_users"))
        .withColumn("cents_per_user", expr("cents div n_users"))
      val ctl = arms.filter(col("arm") === "control")
        .select(col("conv_fx").as("ctl_conv_fx"),
          col("cents_per_user").as("ctl_cpu"))
      arms.crossJoin(broadcast(ctl))
        // lifts can be negative: plain `div` matches DuckDB `//`
        // exactly — both truncate toward zero (measured; see
        // Det.truncDiv's scaladoc)
        .withColumn("conv_lift_fx",
          when(col("arm") === "treatment",
            expr(s"((conv_fx - ctl_conv_fx) * $Fx) div ctl_conv_fx")))
        .withColumn("value_lift_fx",
          when(col("arm") === "treatment",
            expr(s"((cents_per_user - ctl_cpu) * $Fx) div ctl_cpu")))
        .select(col("arm"), col("n_users"), col("n_converters"),
          col("conv_fx"), col("cents_per_user"),
          col("conv_lift_fx"), col("value_lift_fx"))
        .orderBy(col("arm"))
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
    },

    // --- q70: weighted quantiles -----------------------------------------
    // Unweighted percentiles answer "the median line item"; weighted
    // ones answer "the median SHIPPED UNIT" — per priority, the
    // quantity-weighted p50/p90 of unit price (cents), read against
    // the unweighted p50 to see how volume skews pricing. The
    // mass-weighted quantile is the primitive inventory/pricing
    // analytics actually needs.
    //
    // Posture note: q43's histogram-CDF recipe with WEIGHTED mass —
    // facts fold to the (group, value) histogram once, the CDF windows
    // run over that bounded frame, and the quantile is the first value
    // whose cumulative weight crosses the line. No row-level sort, no
    // per-quantile pass.
    "q70_weighted_quantiles" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT) div " +
            "greatest(CAST(floor(l_quantity) AS BIGINT), 1)").as("unit_cents"),
          floor(col("l_quantity")).cast("long").as("qty"))
      val hist = li.groupBy(col("priority"), col("unit_cents"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("qty")).cast("long").as("w"))
      withCdf(withCdf(hist, "priority", "unit_cents", "w", "cum_w", "tw"),
          "priority", "unit_cents", "n_lines", "cum_n", "tn")
        .groupBy(col("priority"))
        .agg(max(col("tn")).as("n_lines"), max(col("tw")).as("total_units"),
          min(when(col("cum_w") * 100 >= col("tw") * 50, col("unit_cents")))
            .as("w_p50_cents"),
          min(when(col("cum_w") * 100 >= col("tw") * 90, col("unit_cents")))
            .as("w_p90_cents"),
          min(when(col("cum_n") * 100 >= col("tn") * 50, col("unit_cents")))
            .as("u_p50_cents"))
        .select(col("priority"), col("n_lines"), col("total_units"),
          col("w_p50_cents"), col("w_p90_cents"), col("u_p50_cents"))
        .orderBy(col("priority"))
    },

    // --- q71: median absolute deviation ----------------------------------
    // Stddev lies under heavy tails; MAD doesn't: per priority, the
    // exact median unit price and the exact median absolute
    // deviation from it — both via the histogram-CDF recipe, so
    // neither pass sorts rows. The robust-statistics primitive every
    // monitoring threshold should use instead of ±kσ.
    //
    // Posture notes: q71 is two histogram-CDF passes over bounded
    // frames (values fold to per-(group, value) counts once; the
    // deviation histogram derives from the same bounded table joined
    // to the |groups|-row medians). mm13 reuses mm12's cascade
    // decisions with byte weights — the joins and banding are
    // identical, only the aggregate changes.
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

    // --- q72: repurchase cycle by spend quartile -------------------------
    // The retail heartbeat: per customer-spend quartile, the exact
    // p50/p90 days between consecutive orders — do the biggest
    // customers also come back fastest? Gaps from customer-
    // partitioned windows; quartiles from Rank.ntileExact (integer
    // cents); percentiles from the histogram-CDF recipe.
    "q72_repurchase_cycle" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          expr(Det.truncDiv("unix_micros(cast(o_orderdate as timestamp))",
            86400000000L)).as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val wc = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day"), col("o_orderkey"))
      val gaps = o
        .withColumn("gap_d", col("day") - lag(col("day"), 1).over(wc))
        .filter(col("gap_d").isNotNull)
      val spend = o.groupBy(col("o_custkey"))
        .agg(sum(col("cents")).as("spend"))
      val tiled = Rank.ntileExact(spend, 4, "quartile", col("spend"),
        Seq(col("o_custkey"))).select(col("o_custkey"), col("quartile"))
      val hist = gaps.join(tiled, Seq("o_custkey"))
        .groupBy(col("quartile"), col("gap_d"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      withCdf(hist, "quartile", "gap_d", "cnt", "cum", "n")
        .groupBy(col("quartile").cast("int").as("quartile"))
        .agg(max(col("n")).as("n_gaps"),
          min(when(col("cum") * 2 >= col("n"), col("gap_d"))).as("p50_days"),
          min(when(col("cum") * 10 >= col("n") * 9, col("gap_d"))).as("p90_days"))
        .orderBy(col("quartile"))
    },

    // --- q73: two-sample Kolmogorov–Smirnov ------------------------------
    // Did the daily-order-count distribution CHANGE between the
    // first and second half of the history? The KS statistic — max
    // |F1(v) − F2(v)| over the value domain — computed exactly on
    // integer counts, with the 95% critical line
    // 1.358·√((n1+n2)/(n1·n2)) and the reject flag. The
    // distribution-shift test q66's autocorrelation and ev58's TVD
    // complement: nonparametric, sensitive anywhere in the CDF.
    //
    // Posture notes: q73's empirical CDFs live on the bounded
    // distinct- value table (full-outer join of the two halves' value
    // histograms, prefix sums over that table); the statistic is one
    // aggregate. ev70 derives alert runs from ev61's bounded hourly
    // frame with lag windows — per candidate debounce, episodes merge
    // when the quiet gap is shorter than the debounce.
    "q73_ks_test" -> { (s, d) =>
      val days = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("x"))
      val bounds = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val tagged = days.crossJoin(broadcast(bounds))
        .withColumn("half",
          when(datediff(col("day"), col("lo")) * 2 <=
            datediff(col("hi"), col("lo")), 1L).otherwise(2L))
      val hist = tagged.groupBy(col("x"))
        .agg(sum(when(col("half") === 1L, 1L).otherwise(0L)).cast("long").as("c1"),
          sum(when(col("half") === 2L, 1L).otherwise(0L)).cast("long").as("c2"))
      val w = Window.orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totals = hist.agg(sum(col("c1")).cast("long").as("n1"),
        sum(col("c2")).cast("long").as("n2"))
      val cdf = hist
        .withColumn("f1", sum(col("c1")).over(w).cast("long"))
        .withColumn("f2", sum(col("c2")).over(w).cast("long"))
        .crossJoin(broadcast(totals))
        .withColumn("d_fx",
          abs(expr(s"(f1 * $Fx) div n1") - expr(s"(f2 * $Fx) div n2")))
      cdf.groupBy(col("n1"), col("n2"))
        .agg(max(col("d_fx")).cast("long").as("ks_fx"))
        .withColumn("crit_fx", floor(
          lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
            (col("n1") * col("n2")).cast("double")) * Fx).cast("long"))
        .withColumn("reject_95", col("ks_fx") > col("crit_fx"))
        .select(col("n1"), col("n2"), col("ks_fx"), col("crit_fx"),
          col("reject_95"))
    },

    // --- q74: customer gains/lift table ----------------------------------
    // The campaign-targeting page: customers ranked by total spend,
    // cut into exact integer deciles (q54's rank arithmetic — no
    // NTILE parity risk), each decile's spend share, cumulative
    // gains, and lift vs uniform. Windows run over the per-customer
    // aggregate and then the 10-row decile frame only.
    //
    // q74 windows only the per-customer aggregate and the 10-row
    // decile frame
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

    // --- q75: delta-maintained census equals the direct recompute --------
    // v1's census is the standing view; the delta rows are ONLY the
    // docs the snapshot split changed: removed (%7==0, subtract),
    // added (%7==6, add), modified (%5==2 carried, old text out + new
    // text in). The oracle recomputes v2 from scratch.
    //
    // Posture note: at 100 TB you cannot re-scan the corpus because 3%
    // of it changed — you maintain the downstream aggregates by applying
    // the DELTA (IVM: additive census += added, −= removed, modified =
    // old-out + new-in). q75 maintains the per-source census across the
    // round-8 snapshot split that way, and the DuckDB oracle computes
    // the v2 census DIRECTLY — Spark and the oracle run DIFFERENT
    // algorithms, so a hash match is an actual equivalence proof of the
    // delta path, not a reimplementation check. The delta side touches
    // only changed docs: at real scale that's the difference between a
    // full-corpus scan and a 3% scan.
    "q75_delta_view_maintenance" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      val v1 = Dedup.snapshotV1(docs)
      val mod7 = pmod(col("doc_id"), lit(7))
      val mod5 = pmod(col("doc_id"), lit(5))
      val base = contrib(v1, 1)
      val removed = contrib(v1.filter(mod7 === 0), -1)
      val added = contrib(Dedup.snapshotV2(docs).filter(mod7 === 6), 1)
      val modOld = contrib(v1.filter(mod7 =!= 0 && mod5 === 2), -1)
      val modNew = contrib(
        Dedup.snapshotV2(docs).filter(mod7 =!= 6 && mod5 === 2), 1)
      base.unionByName(removed).unionByName(added)
        .unionByName(modOld).unionByName(modNew)
        .groupBy(col("source"))
        .agg(sum(col("d_docs")).cast("long").as("n_docs"),
          sum(col("d_tokens")).cast("long").as("n_tokens"),
          sum(col("d_bytes")).cast("long").as("total_bytes"))
        .filter(col("n_docs") > 0)
        .orderBy(col("source"))
    },

    // --- q76: KMV sketch set operations -------------------------------
    // Distinct users on even vs odd epoch-days (two disjoint event
    // partitions, as per-shard sketches would be built). Union = KMV
    // over the merged kept sets (the standard bottom-k merge);
    // intersection two ways: theta (common kept hashes below
    // θ = min(θ_A, θ_B), scaled by 2^60/θ) and inclusion–exclusion.
    // A sketch with n_kept < k kept EVERYTHING, so its θ is the open
    // interval (exact branch). All arithmetic is the q61 integer
    // 2^30-split division — bit-exact on both engines.
    "q76_kmv_setops" -> { (s, d) =>
      val hashed = Dedup.barrier(Tables.events(s, d)
        .select(expr("((unix_micros(ts) div 86400000000) % 2 + 2) % 2").as("cohort"),
          Hashing.hash64(col("user_id").cast("string")).as("h"))
        .distinct())
      val truth = hashed.groupBy(col("h"))
        .agg(max(when(col("cohort") === 0, 1L).otherwise(0L)).as("in_a"),
          max(when(col("cohort") === 1, 1L).otherwise(0L)).as("in_b"))
        .agg(sum(col("in_a")).cast("long").as("n_true_a"),
          sum(col("in_b")).cast("long").as("n_true_b"),
          count(lit(1)).cast("long").as("n_true_union"),
          sum(col("in_a") * col("in_b")).cast("long").as("n_true_inter"))
      val kept = Dedup.barrierAlso(Rank.topKByKey(hashed, Seq(col("cohort")),
        Seq(col("h").asc), KmvK, saltOn = col("h")).drop("rk"))
      def kmvEst(hk: String, n: String) =
        when(col(n) < KmvK, col(n)).otherwise(expr(
          s"${(KmvK - 1).toLong * HalfSpace} div greatest($hk div $HalfSpace, 1)"))
          .cast("long")
      val summ = kept.groupBy(col("cohort"))
        .agg(max(col("h")).as("h_k"), count(lit(1)).cast("long").as("n_kept"))
        .withColumn("est", kmvEst("h_k", "n_kept"))
        .withColumn("theta",
          when(col("n_kept") < KmvK, lit(OpenTheta)).otherwise(col("h_k")))
      val s2 = summ.agg(
        max(when(col("cohort") === 0, col("est"))).cast("long").as("est_a"),
        max(when(col("cohort") === 1, col("est"))).cast("long").as("est_b"),
        min(col("theta")).as("theta"))
      // union sketch: bottom-k of the ≤2k merged kept hashes
      val usum = kept.select(col("h")).distinct()
        .orderBy(col("h")).limit(KmvK)
        .agg(max(col("h")).as("u_hk"), count(lit(1)).cast("long").as("u_n"))
        .select(kmvEst("u_hk", "u_n").as("est_union"))
      val common = kept.filter(col("cohort") === 0).select(col("h"))
        .join(kept.filter(col("cohort") === 1).select(col("h")), Seq("h"))
        .crossJoin(broadcast(s2.select(col("theta").as("_th"))))
        .filter(col("h") < col("_th"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      truth.crossJoin(broadcast(s2)).crossJoin(broadcast(usum))
        .crossJoin(broadcast(common))
        .withColumn("est_inter_theta",
          when(col("theta") === OpenTheta, col("n_common")).otherwise(expr(
            s"(n_common * $HalfSpace) div greatest(theta div $HalfSpace, 1)"))
            .cast("long"))
        .withColumn("est_inter_ie",
          (col("est_a") + col("est_b") - col("est_union")).cast("long"))
        .select(col("n_true_a"), col("n_true_b"), col("n_true_union"),
          col("n_true_inter"), col("est_a"), col("est_b"), col("est_union"),
          col("est_inter_theta"), col("est_inter_ie"))
    },

    // --- q77: DOULION triangle estimate ------------------------------
    //
    // q77 brings the missing graph-motif family: triangles on the
    // part-co-occurrence graph, counted the way a 100 TB graph allows —
    // DOULION edge sparsification (Tsourakakis et al., KDD 2009: keep
    // each edge w.p. p, count exactly on the sample, scale by 1/p³) over
    // the degree-oriented wedge join (each triangle counted once from
    // its lowest-degree corner; Σ out-deg² stays bounded where the naive
    // wedge join's Σ deg² explodes on hubs — measured 83M → ~1.3M wedge
    // rows at sf0.1 with p = 1/8).
    "q77_triangle_doulion" -> { (s, d) =>
      // barriered so the two self-join sides share ONE scan+distinct
      // (exchange reuse is plan-shape-fragile; the persist is not)
      val ip = Dedup.barrier(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())
      // per-order pair fanout (orders hold ≤7 items); the hash sample
      // drops 7/8 BEFORE the distinct-edge shuffle
      val e = Dedup.barrierAlso(ip.as("a")
        .join(ip.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("pa"), col("b.p").as("pb"))
        .filter(pmod(Hashing.hash64(concat_ws("|", col("pa"), col("pb"))),
          lit(SampleMod)) === 0)
        .distinct())
      val deg = e.select(col("pa").as("p"))
        .unionByName(e.select(col("pb").as("p")))
        .groupBy(col("p")).agg(count(lit(1)).cast("long").as("dg"))
      // orient low→high under the (degree, id) total order; dv = the
      // head's degree so the wedge pair order matches the closing
      // edge's stored orientation
      val lt = struct(col("da"), col("pa")) < struct(col("db"), col("pb"))
      val o = Dedup.barrierAlso(e
        .join(deg.select(col("p").as("pa"), col("dg").as("da")), Seq("pa"))
        .join(deg.select(col("p").as("pb"), col("dg").as("db")), Seq("pb"))
        .select(when(lt, col("pa")).otherwise(col("pb")).as("u"),
          when(lt, col("pb")).otherwise(col("pa")).as("v"),
          when(lt, col("db")).otherwise(col("da")).as("dv")))
      val wedges = o.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
        .join(o.select(col("u"), col("v").as("v2"), col("dv").as("d2")), Seq("u"))
        .filter(struct(col("d1"), col("v1")) < struct(col("d2"), col("v2")))
      // ONE wedge pass for both counts (round 9): counting wedges and
      // closed wedges as two consumers would evaluate the o⋈o fanout
      // twice — at corpus scale the wedge stream is the dominant
      // intermediate and is exactly what you never materialize or
      // replay. A LEFT join against the (unique) oriented closing
      // edge makes n_wedges = count(*) and n_tri = count(hits).
      val wAgg = wedges.join(
          o.select(col("v").as("v2"), col("u").as("v1"))
            .withColumn("hit", lit(1)), Seq("v1", "v2"), "left")
        .agg(count(lit(1)).cast("long").as("n_wedges"),
          count(col("hit")).cast("long").as("n_tri_sampled"))
      val nE = e.agg(count(lit(1)).cast("long").as("n_edges"))
      val nV = deg.agg(count(lit(1)).cast("long").as("n_vertices"))
      nE.crossJoin(broadcast(nV)).crossJoin(broadcast(wAgg))
        .withColumn("est_triangles",
          (col("n_tri_sampled") * lit(SampleMod * SampleMod * SampleMod))
            .cast("long"))
        .select(col("n_edges"), col("n_vertices"), col("n_wedges"),
          col("n_tri_sampled"), col("est_triangles"))
    },

    // --- q78: word-sharded bitmap audience overlap --------------------
    //
    // q78 is the bitmap-index set algebra every OLAP engine ships
    // (Druid/ClickHouse groupBitmap): audience overlap across event
    // types WITHOUT a pairwise user join — users fold into word-sharded
    // 62-bit bitmap words (bounded: |types| × ⌈users/62⌉ rows), pairs
    // AND word-by-word, popcount sums. The DuckDB oracle computes the
    // same overlaps DIRECTLY from distinct-user joins — a cross-
    // algorithm equivalence gate (q75's pattern), not a bitmap replay.
    // 62-bit words because DuckDB raises on signed `1::BIGINT << 63`
    // (and 62 keeps every mask positive on both engines).
    "q78_bitmap_audience" -> { (s, d) =>
      val words = Dedup.barrier(Tables.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .select(col("event_type"),
          expr(s"user_id div $WordBits").as("word"),
          expr(s"shiftleft(1L, cast(user_id % $WordBits AS INT))").as("m"))
        .groupBy(col("event_type"), col("word"))
        .agg(expr("bit_or(m)").as("bits")))
      val totals = words.groupBy(col("event_type"))
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n_users"))
      val pairs = words.select(col("event_type").as("type_a"),
          col("word"), col("bits").as("ba"))
        .join(words.select(col("event_type").as("type_b"),
          col("word"), col("bits").as("bb")), Seq("word"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(sum(expr("bit_count(ba & bb)")).cast("long").as("n_common"))
      pairs
        .join(totals.select(col("event_type").as("type_a"),
          col("n_users").as("users_a")), Seq("type_a"))
        .join(totals.select(col("event_type").as("type_b"),
          col("n_users").as("users_b")), Seq("type_b"))
        .withColumn("jaccard_fx", expr(
          s"(n_common * $Fx4) div (users_a + users_b - n_common)"))
        .select(col("type_a"), col("type_b"), col("users_a"), col("users_b"),
          col("n_common"), col("jaccard_fx"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // --- q79: half-life decay activity scoring ------------------------
    // weight = Fx >> min(age_weeks, 13): a 1-week half-life in pure
    // integer shifts. Per-user scores fold per type, then an octave
    // census keeps the output bounded (|types| × ~14 rows at any SF).
    //
    // q79 is the recency-weighting every feature pipeline applies before
    // training on behavioral data — made integer-exact by using
    // power-of-two decay (weight = Fx >> age_weeks, capped) instead of
    // exp(−λt), so both engines agree bit-for-bit with no libm.
    "q79_halflife_decay" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
      val mx = ev.agg(max(col("day")).as("mxd"))
      val perUser = ev.crossJoin(broadcast(mx))
        .withColumn("w", least(expr("datediff(mxd, day) div 7"),
          lit(MaxWeeks.toLong)))
        .withColumn("wt_fx", expr(s"shiftright($Fx4, cast(w AS INT))"))
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("wt_fx")).cast("long").as("score_fx"))
      perUser
        .withColumn("octave", (length(bin(col("score_fx"))) - 1).cast("long"))
        .groupBy(col("event_type"), col("octave"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("score_fx")).cast("long").as("mass_fx"),
          max(col("score_fx")).cast("long").as("max_score_fx"))
        .orderBy(col("event_type"), col("octave"))
    },

    // The ANALYZE-stats primitive every cost-based optimizer runs on:
    // build a 16-bucket equi-height histogram over order totals (exact
    // ntile — Rank.ntileExact, whose DuckDB twin is plain NTILE), then
    // price range predicates by uniform-within-bucket interpolation and
    // face the estimates against direct counts. Equi-height is the
    // production choice precisely because each bucket caps estimation
    // error at its own mass — the err_fx column MEASURES that bound
    // instead of assuming it. All integer: cents domain, integer widths,
    // truncating division on both engines.
    "q80_histogram_selectivity" -> { (s, d) =>
      val cents = Dedup.barrier(Tables.orders(s, d)
        .select(floor(col("o_totalprice") * 100).cast("long").as("c"),
          col("o_orderkey")))
      val hist = Rank.ntileExact(cents, Buckets, "bucket",
          col("c"), Seq(col("o_orderkey")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("bn"),
          min(col("c")).cast("long").as("lo"),
          max(col("c")).cast("long").as("hi"))
      import s.implicits._
      val probes = Probes.toDF("p_lo", "p_hi")
      val est = probes.join(broadcast(hist),
          col("p_lo") <= col("hi") && col("p_hi") >= col("lo"))
        .withColumn("ov",
          least(col("p_hi"), col("hi")) - greatest(col("p_lo"), col("lo")) + 1)
        .withColumn("contrib", expr("(bn * ov) div (hi - lo + 1)"))
        .groupBy(col("p_lo"), col("p_hi"))
        .agg(sum(col("contrib")).cast("long").as("est_rows"))
      // all probe counts in ONE cached-scan pass (conditional sums)
      val actualCols = Probes.zipWithIndex.map { case ((lo, hi), i) =>
        sum(when(col("c").between(lo, hi), 1L).otherwise(0L)).cast("long")
          .as(s"a_$i")
      }
      val actualRow = cents.agg(actualCols.head, actualCols.tail: _*)
      val actual = Probes.zipWithIndex.map { case ((lo, hi), i) =>
        actualRow.select(lit(lo).as("p_lo"), lit(hi).as("p_hi"),
          col(s"a_$i").as("actual_rows"))
      }.reduce(_ unionByName _)
      probes.join(est, Seq("p_lo", "p_hi"), "left")
        .join(actual, Seq("p_lo", "p_hi"))
        .withColumn("est_rows", coalesce(col("est_rows"), lit(0L)))
        .withColumn("err_fx", expr(
          s"abs(est_rows - actual_rows) * $Fx4 div greatest(actual_rows, 1)"))
        .select(col("p_lo"), col("p_hi"), col("est_rows"),
          col("actual_rows"), col("err_fx"))
        .orderBy(col("p_lo"), col("p_hi"))
    },

    // --- q81: skew-salt autopick ----------------------------------------
    // q37 measures per-type key skew and q27 demonstrates the salted
    // join; q81 picks the salt factor — smallest S whose hottest key,
    // split S ways, fits 2× the mean slot load. The census is two
    // hash aggregates (key counts, then per-type max); the dial is
    // arithmetic on |types| rows.
    "q81_salt_autopick" -> { (s, d) =>
      saltAutopick(skewCensus(s, d)).orderBy(col("event_type"), col("salt"))
    },

    // --- q82: shuffle-partition autopick --------------------------------
    // The dial the sf10 ladder's first cliff was about (dd11/dd33
    // sorts OOM'd at 32 partitions; the fix was an env dial) — now a
    // chooser: per-table in-memory byte estimate (4 one-row
    // aggregates), then the smallest stop keeping the largest table's
    // partitions under Spark's 64 MiB advisory target without
    // dropping below the slot count. Raw bytes only; expansion-heavy
    // lanes (shingles) multiply on top, priced by dd45.
    "q82_partition_autopick" -> { (s, d) =>
      partitionAutopick(tableByteCensus(s, d)).orderBy(col("parts"))
    }
  )

  def oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice * l_discount AS disc_revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q04_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q05_top_customers" ->
      """SELECT c_custkey, c_name, revenue FROM (
        |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY o_custkey) rev
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,

    "q06_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q07_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q08_distinct_agg" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q09_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q10_running_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
        |   OVER (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_qty
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q11_conditional_agg" ->
      """SELECT l_linestatus,
        | CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS qty_returned,
        | CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS qty_a,
        | CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS qty_n,
        | COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q12_multijoin_pushdown" ->
      """SELECT s_name, p_brand,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN part     ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size < 15 AND p_type = 'ECONOMY'
        |GROUP BY s_name, p_brand ORDER BY s_name, p_brand""".stripMargin,

    // the relational HLL replayed register-for-register: same hash,
    // same 9/51-bit split, same scaled harmonic sum (HUGEINT = the
    // DECIMAL(38,0) twin), same fixed-point estimate arithmetic
    "q13_approx_distinct" -> {
      val m = Sketch.HllM
      val rm = Sketch.HllRMax
      val num = Sketch.HllNum
      s"""WITH h AS (
         |  SELECT DISTINCT l_returnflag,
         |    ${Hashing.duckHash64("CAST(l_orderkey AS VARCHAR)")} AS hv
         |  FROM lineitem),
         |reg AS (
         |  SELECT l_returnflag, hv % $m AS bucket,
         |    MAX(CASE WHEN hv // $m = 0 THEN $rm
         |        ELSE $rm - length(bin(hv // $m)) END) AS mj
         |  FROM h GROUP BY 1, 2),
         |s AS (
         |  SELECT l_returnflag,
         |    CAST(SUM(CAST(1 AS BIGINT) << ($rm - mj)) AS BIGINT)
         |      + ($m - COUNT(*)) * (CAST(1 AS BIGINT) << $rm) AS ssum,
         |    CAST(COUNT(*) AS BIGINT) AS n_buckets
         |  FROM reg GROUP BY 1),
         |ex AS (
         |  SELECT l_returnflag,
         |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
         |  FROM lineitem GROUP BY 1),
         |est AS (
         |  SELECT l_returnflag, n_buckets,
         |    CAST(CAST('$num' AS HUGEINT) // ssum // 1000000 AS BIGINT)
         |      AS hll_orders, exact_orders
         |  FROM s JOIN ex USING (l_returnflag))
         |SELECT l_returnflag, n_buckets, hll_orders, exact_orders,
         |  CAST((CAST(hll_orders - exact_orders AS HUGEINT) * 1000000)
         |    // exact_orders AS BIGINT) AS err_fx
         |FROM est ORDER BY l_returnflag""".stripMargin
    },

    "q14_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        | LAG(o_totalprice, 1) OVER w AS prev_price,
        | LEAD(o_totalprice, 1) OVER w AS next_price,
        | NTILE(4) OVER w AS quartile,
        | floor(percent_rank() OVER w * 10000) / 10000 AS pr
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q15_percentiles" ->
      """SELECT o_orderpriority,
        | floor(quantile_cont(o_totalprice, 0.5) * 10000) / 10000 AS p50,
        | floor(quantile_cont(o_totalprice, 0.9) * 10000) / 10000 AS p90,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q16_cube" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,

    "q17_datetime" ->
      """SELECT dayofweek(ts) AS dow, extract(hour FROM ts) AS hr,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin,

    "q18_set_ops" ->
      """SELECT user_id FROM (
        | SELECT user_id FROM events WHERE event_type = 'click'
        | INTERSECT
        | SELECT user_id FROM events WHERE event_type = 'purchase')
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin,

    "q19_pivot" ->
      """SELECT o_orderpriority,
        | COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
        | COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
        | COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q20_unpivot" ->
      """SELECT l_returnflag, measure, val FROM (
        |  SELECT l_returnflag, 'qty' AS measure,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS val
        |  FROM lineitem GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT l_returnflag, 'price' AS measure,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS val
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q21_outer_join" ->
      """SELECT COALESCE(nk, nk2) AS nationkey,
        | COALESCE(n_customers, 0) AS n_customers,
        | COALESCE(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk2, COUNT(*) AS n_suppliers
        |                 FROM supplier GROUP BY 1) s
        |  ON nk = nk2
        |ORDER BY nationkey""".stripMargin,

    "q22_sql_text" ->
      """SELECT o_custkey, COUNT(*) AS n_above
        |FROM orders o
        |WHERE o_totalprice >
        |      (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |                * 1.5 / COUNT(*)
        |       FROM orders o2
        |       WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q23_stats_moments" ->
      """SELECT o_orderpriority, n,
        | floor((sum_x / n) * 10000) / 10000 AS mean,
        | floor(sqrt((sum_x2 - sum_x * sum_x / n) / (n - 1)) * 10000) / 10000 AS stddev
        |FROM (
        |  SELECT o_orderpriority, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_x,
        |    CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_x2
        |  FROM orders GROUP BY o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,

    "q24_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COALESCE(o_orderstatus, 'ALL') AS status,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        |ORDER BY priority, status""".stripMargin,

    "q25_corr_moments" ->
      """SELECT l_returnflag, n,
        | floor(((n * sxy - sx * sy) /
        |   sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))) * 10000) / 10000 AS corr,
        | floor(((sxy - sx * sy / n) / (n - 1)) * 10000) / 10000 AS covar
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sy2,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "q26_hash_sample" -> {
      val h = Hashing.duckHash64(
        "concat_ws(':', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))")
      s"""SELECT l_returnflag, COUNT(*) AS n_lines,
         | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |WHERE $h % 100 < 5
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    "q27_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // TopKAggregator breaks price ties by the LARGER orderkey (tuple
    // ordering, descending) — the oracle mirrors that
    "q28_topk_agg" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q29_range_window" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |   PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |   RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
        |FROM orders WHERE o_custkey <= 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q30_cohort_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM events GROUP BY user_id)
        |SELECT cohort_week,
        |  CAST(date_diff('day', CAST(cohort_week AS DATE),
        |       CAST(date_trunc('week', ts) AS DATE)) // 7 AS BIGINT) AS weeks_since,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events JOIN cohort USING (user_id)
        |GROUP BY cohort_week, weeks_since
        |ORDER BY cohort_week, weeks_since""".stripMargin,

    "q31_histogram" ->
      s"""SELECT bucket, CAST(bucket * 25000 AS DOUBLE) AS lo,
         |  CAST((bucket + 1) * 25000 AS DOUBLE) AS hi, n_orders,
         |  ${Det.duckTrunc("CAST(n_orders AS DOUBLE) / SUM(n_orders) OVER ()", 4)} AS pct
         |FROM (
         |  SELECT CAST(LEAST(floor(o_totalprice / 25000.0), 19.0) AS BIGINT) AS bucket,
         |    COUNT(*) AS n_orders
         |  FROM orders GROUP BY 1)
         |ORDER BY bucket""".stripMargin,

    "q32_stratified_sample" -> {
      val h = Hashing.duckHash64("CAST(c_custkey AS VARCHAR)")
      s"""SELECT c_mktsegment, COUNT(*) AS n_total,
         |  CAST(SUM(CASE WHEN $h % 100 <
         |    (CASE WHEN c_mktsegment = 'BUILDING' THEN 10 ELSE 5 END)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  ${Det.duckTrunc(
              "CAST(SUM(CASE WHEN " + Hashing.duckHash64("CAST(c_custkey AS VARCHAR)") +
                " % 100 < (CASE WHEN c_mktsegment = 'BUILDING' THEN 10 ELSE 5 END)" +
                " THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 4)} AS sample_rate
         |FROM customer
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    },

    "q33_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |    COUNT(*) AS frequency,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |rd AS (
        |  SELECT o_custkey, frequency, monetary,
        |    date_diff('day', CAST(last_order AS DATE),
        |      CAST(MAX(last_order) OVER () AS DATE)) AS r_days
        |  FROM pc),
        |scored AS (
        |  SELECT
        |    NTILE(5) OVER (ORDER BY r_days, o_custkey) AS r_score,
        |    NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
        |    NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
        |  FROM rd)
        |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q34_anomaly_zscore" ->
      s"""WITH e AS (
         |  SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS v,
         |    epoch_us(ts) // 3600000000 AS hr
         |  FROM events),
         |hourly AS (
         |  SELECT event_type, hr, COUNT(*) AS n_h,
         |    CAST(SUM(v) AS BIGINT) AS s_h,
         |    SUM(CAST(v AS HUGEINT) * v) AS q_h
         |  FROM e GROUP BY event_type, hr),
         |stats AS (
         |  SELECT event_type, hr,
         |    CAST(SUM(n_h) OVER win AS BIGINT) AS n,
         |    CAST(SUM(s_h) OVER win AS BIGINT) AS s,
         |    SUM(q_h) OVER win AS q
         |  FROM hourly
         |  WINDOW win AS (PARTITION BY event_type ORDER BY hr
         |                 RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |j AS (
         |  SELECT e.event_type, v, n, s, q
         |  FROM e JOIN stats ON e.event_type = stats.event_type AND e.hr = stats.hr),
         |agg AS (
         |  SELECT event_type, COUNT(*) AS n_events,
         |    CAST(SUM(CASE WHEN n >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_eligible,
         |    CAST(SUM(CASE WHEN n >= 30 AND
         |      (CAST(v AS HUGEINT) * n - s) * (CAST(v AS HUGEINT) * n - s) >
         |        9 * (n * CAST(q AS HUGEINT) - CAST(s AS HUGEINT) * s)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
         |  FROM j GROUP BY event_type)
         |SELECT event_type, n_events, n_eligible, n_anomalies,
         |  CASE WHEN n_eligible > 0
         |    THEN ${Det.duckTrunc("CAST(n_anomalies AS DOUBLE) / n_eligible", 4)} END
         |    AS anomaly_rate
         |FROM agg ORDER BY event_type""".stripMargin,

    "q35_inter_arrival" ->
      s"""WITH e AS (
         |  SELECT event_id, event_type, epoch_us(ts) AS t FROM events),
         |g AS (
         |  SELECT event_type,
         |    t - lag(t) OVER (PARTITION BY event_type ORDER BY t, event_id) AS gap
         |  FROM e)
         |SELECT event_type,
         |  CAST(CASE WHEN gap = 0 THEN 0 ELSE length(bin(gap)) END AS BIGINT) AS bucket,
         |  COUNT(*) AS n_gaps,
         |  CAST(MIN(gap) AS BIGINT) AS min_gap_us,
         |  CAST(MAX(gap) AS BIGINT) AS max_gap_us
         |FROM g WHERE gap IS NOT NULL
         |GROUP BY event_type, bucket ORDER BY event_type, bucket""".stripMargin,

    "q36_last_touch" ->
      s"""WITH p AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS t,
         |    CAST(floor(value * 1000000.0) AS BIGINT) AS v_us
         |  FROM events WHERE event_type = 'purchase'),
         |tch AS (
         |  SELECT user_id, epoch_us(ts) AS tt, MAX(event_type) AS touch
         |  FROM events WHERE event_type != 'purchase'
         |  GROUP BY user_id, epoch_us(ts)),
         |j AS (
         |  SELECT p.t, p.v_us, r.tt AS asof_tt, r.touch AS asof_touch
         |  FROM p ASOF LEFT JOIN tch r
         |    ON p.user_id = r.user_id AND r.tt <= p.t)
         |SELECT CASE WHEN asof_tt IS NOT NULL AND asof_tt >= t - 86400000000
         |         THEN asof_touch ELSE 'direct' END AS attributed,
         |  COUNT(*) AS n_purchases, CAST(SUM(v_us) AS BIGINT) AS value_us
         |FROM j GROUP BY attributed ORDER BY attributed""".stripMargin,

    "q37_key_skew" ->
      s"""WITH pk AS (
         |  SELECT event_type, user_id, COUNT(*) AS c
         |  FROM events GROUP BY event_type, user_id),
         |r AS (
         |  SELECT event_type, c,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |                       ORDER BY c DESC, user_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nk
         |  FROM pk)
         |SELECT event_type, COUNT(*) AS n_keys,
         |  CAST(SUM(c) AS BIGINT) AS n_rows,
         |  CAST(MAX(c) AS BIGINT) AS max_rows,
         |  CAST(SUM(CASE WHEN rk <= GREATEST((nk + 99) // 100, 1)
         |    THEN c ELSE 0 END) AS BIGINT) AS top1pct_rows,
         |  ${Det.duckTrunc("CAST(MAX(c) AS DOUBLE) / SUM(c)", 4)} AS max_frac,
         |  ${Det.duckTrunc(
              "CAST(SUM(CASE WHEN rk <= GREATEST((nk + 99) // 100, 1) " +
              "THEN c ELSE 0 END) AS DOUBLE) / SUM(c)", 4)} AS top1pct_frac
         |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q38_incr_merge" ->
      """SELECT event_type,
        |  COUNT(DISTINCT epoch_us(ts) // 86400000000) AS n_partials,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  floor((CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
        |    * 10000) / 10000 AS mean_value,
        |  floor(((CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE)
        |    - CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      * CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
        |    / COUNT(*)) * 10000) / 10000 AS var_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q39_rolling_mau" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // ${EventPipeline.DayUs} AS day FROM events),
         |mx AS (SELECT max(day) AS max_day FROM ud),
         |ex AS (
         |  SELECT user_id, day, off, day + off AS tday
         |  FROM ud, (SELECT unnest(range($MauDays)) AS off) o)
         |SELECT tday AS day,
         |  COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END) AS dau,
         |  COUNT(DISTINCT user_id) AS mau7,
         |  ${Det.duckTrunc(
             "COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END) * 1.0 / COUNT(DISTINCT user_id)", 4)}
         |    AS stickiness
         |FROM ex, mx WHERE tday <= max_day
         |GROUP BY tday ORDER BY day""".stripMargin,

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

    "q41_basket_affinity" ->
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
         |n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items),
         |pc AS (SELECT part, COUNT(*) AS cnt FROM items GROUP BY part),
         |pairs AS (
         |  SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS n_pairs
         |  FROM items a JOIN items b
         |    ON a.okey = b.okey AND a.part < b.part
         |  GROUP BY 1, 2)
         |SELECT part_a, part_b, n_pairs, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
         |  (n_pairs * n_orders * 1000000) // (ca.cnt * cb.cnt) AS lift_fx
         |FROM pairs
         |JOIN pc ca ON ca.part = part_a
         |JOIN pc cb ON cb.part = part_b
         |CROSS JOIN n
         |ORDER BY n_pairs DESC, part_a, part_b LIMIT $BasketTopK""".stripMargin,

    "q42_revenue_bridge" ->
      s"""WITH base AS (
         |  SELECT n_name, year(o_orderdate) AS yr,
         |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev,
         |    CAST(l_quantity AS DECIMAL(18,2)) AS qty
         |  FROM lineitem
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation   ON c_nationkey = n_nationkey
         |  WHERE year(o_orderdate) IN ($BridgeY0, $BridgeY1)),
         |agg AS (
         |  SELECT n_name,
         |    CAST(SUM(CASE WHEN yr = $BridgeY0 THEN rev END) * 1000000 AS BIGINT) AS rev0_fx,
         |    CAST(SUM(CASE WHEN yr = $BridgeY1 THEN rev END) * 1000000 AS BIGINT) AS rev1_fx,
         |    CAST(SUM(CASE WHEN yr = $BridgeY0 THEN qty END) AS BIGINT) AS qty0,
         |    CAST(SUM(CASE WHEN yr = $BridgeY1 THEN qty END) AS BIGINT) AS qty1
         |  FROM base GROUP BY n_name),
         |px AS (
         |  SELECT *, rev0_fx // qty0 AS price0_fx, rev1_fx // qty1 AS price1_fx
         |  FROM agg WHERE qty0 > 0 AND qty1 > 0)
         |SELECT n_name, rev0_fx, rev1_fx, qty0, qty1, price0_fx, price1_fx,
         |  (qty1 - qty0) * price0_fx AS vol_eff_fx,
         |  qty1 * (price1_fx - price0_fx) AS price_eff_fx,
         |  rev1_fx - rev0_fx - (qty1 - qty0) * price0_fx
         |    - qty1 * (price1_fx - price0_fx) AS resid_fx
         |FROM px ORDER BY n_name""".stripMargin,

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

    "q44_hour_seasonality" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |    CAST(((epoch_us(ts) // 86400000000 + 4) % 7 + 7) % 7 AS INTEGER) AS dow,
         |    CAST((((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
         |      // 3600000000 AS INTEGER) AS hour
         |  FROM events),
         |c AS (
         |  SELECT event_type, dow, hour, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM e GROUP BY event_type, dow, hour)
         |SELECT event_type, dow, hour, n,
         |  CAST((n * $Fx) // SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
         |    AS share_fx
         |FROM c ORDER BY event_type, dow, hour""".stripMargin,

    "q45_ltv_cohorts" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cohorts AS (
        |  SELECT o_custkey, MIN(m) AS cohort_m FROM o GROUP BY o_custkey),
        |sizes AS (
        |  SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |  FROM cohorts GROUP BY cohort_m),
        |cells AS (
        |  SELECT c.cohort_m, CAST(o.m - c.cohort_m AS INTEGER) AS "offset",
        |    CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
        |    CAST(SUM(o.cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN cohorts c ON o.o_custkey = c.o_custkey
        |  GROUP BY c.cohort_m, "offset"),
        |cum AS (
        |  SELECT cohort_m, "offset", n_active, rev_cents,
        |    CAST(SUM(rev_cents) OVER (PARTITION BY cohort_m ORDER BY "offset"
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_rev_cents
        |  FROM cells)
        |SELECT cum.cohort_m, "offset", n_active, rev_cents, cum_rev_cents,
        |  cohort_size, cum_rev_cents // cohort_size AS ltv_cents
        |FROM cum JOIN sizes ON cum.cohort_m = sizes.cohort_m
        |ORDER BY cum.cohort_m, "offset"""".stripMargin,

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

    "q47_order_backlog" ->
      """WITH tip AS (SELECT MAX(o_orderdate) AS tip FROM orders)
        |SELECT o_orderpriority AS priority,
        |  (date_diff('day', o_orderdate, tip) // 90) * 90 AS age_band,
        |  CAST(COUNT(*) AS BIGINT) AS n_open,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS open_value
        |FROM orders CROSS JOIN tip
        |WHERE o_orderstatus <> 'F'
        |GROUP BY priority, age_band
        |ORDER BY priority, age_band""".stripMargin,

    "q48_referential_audit" ->
      s"""WITH lo AS (
         |  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS child_rows
         |  FROM lineitem GROUP BY 1),
         |op AS (SELECT DISTINCT o_orderkey AS k, 1 AS has_parent FROM orders),
         |r1 AS (
         |  SELECT 'lineitem->orders' AS relation,
         |    CAST(COALESCE(SUM(child_rows), 0) AS BIGINT) AS child_rows,
         |    CAST(COALESCE(SUM(CASE WHEN child_rows IS NOT NULL THEN 1 END), 0)
         |      AS BIGINT) AS child_keys,
         |    CAST(COALESCE(SUM(CASE WHEN has_parent IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS orphan_keys,
         |    CAST(COALESCE(SUM(has_parent), 0) AS BIGINT) AS parent_keys,
         |    CAST(COALESCE(SUM(CASE WHEN child_rows IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS unreferenced_parents
         |  FROM lo FULL OUTER JOIN op USING (k)),
         |oc AS (
         |  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS child_rows
         |  FROM orders GROUP BY 1),
         |cp AS (SELECT DISTINCT c_custkey AS k, 1 AS has_parent FROM customer),
         |r2 AS (
         |  SELECT 'orders->customer' AS relation,
         |    CAST(COALESCE(SUM(child_rows), 0) AS BIGINT) AS child_rows,
         |    CAST(COALESCE(SUM(CASE WHEN child_rows IS NOT NULL THEN 1 END), 0)
         |      AS BIGINT) AS child_keys,
         |    CAST(COALESCE(SUM(CASE WHEN has_parent IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS orphan_keys,
         |    CAST(COALESCE(SUM(has_parent), 0) AS BIGINT) AS parent_keys,
         |    CAST(COALESCE(SUM(CASE WHEN child_rows IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS unreferenced_parents
         |  FROM oc FULL OUTER JOIN cp USING (k))
         |SELECT relation, child_rows, child_keys, orphan_keys, parent_keys,
         |  unreferenced_parents,
         |  ((child_keys - orphan_keys) * $Fx) // greatest(child_keys, 1)
         |    AS coverage_fx
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
         |ORDER BY relation""".stripMargin,

    "q49_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, CAST(o_totalprice AS DECIMAL(18,6)) AS price
        |  FROM orders),
        |t1 AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n, SUM(price) AS spend
        |  FROM o WHERE o_orderdate <= TIMESTAMP '1996-12-31' GROUP BY o_custkey),
        |t2 AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n, SUM(price) AS spend
        |  FROM o WHERE o_orderdate <= TIMESTAMP '1997-12-31' GROUP BY o_custkey),
        |d AS (
        |  SELECT COALESCE(t1.o_custkey, t2.o_custkey) AS o_custkey,
        |    COALESCE(t1.n, 0) AS n1, COALESCE(t2.n, 0) AS n2,
        |    COALESCE(t1.spend, CAST(0 AS DECIMAL(18,6))) AS s1,
        |    COALESCE(t2.spend, CAST(0 AS DECIMAL(18,6))) AS s2
        |  FROM t1 FULL OUTER JOIN t2 ON t1.o_custkey = t2.o_custkey),
        |seg AS (
        |  SELECT CASE WHEN n1 = 0 AND n2 > 0 THEN '1_new'
        |              WHEN n2 > n1 THEN '2_grown'
        |              ELSE '3_unchanged' END AS seg, n1, n2, s1, s2
        |  FROM d)
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(n2 - n1) AS BIGINT) AS orders_added,
        |  CAST(SUM(s2 - s1) AS DOUBLE) AS spend_added
        |FROM seg GROUP BY seg ORDER BY seg""".stripMargin,

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

    "q51_feature_hashing" -> {
      val parts = Dims.map { m =>
        s"""SELECT $m AS dim, CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           |  CAST(SUM(n) AS BIGINT) AS n_features,
           |  CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
           |    AS collided_features
           |FROM (
           |  SELECT (${Hashing.duckHash64("feat")}) % $m AS bucket, COUNT(*) AS n
           |  FROM feats GROUP BY bucket)""".stripMargin
      }
      s"""WITH feats AS (
         |  SELECT DISTINCT feat FROM (
         |    SELECT unnest(['cust=' || CAST(o_custkey AS VARCHAR),
         |      'status=' || o_orderstatus,
         |      'prio=' || o_orderpriority]) AS feat
         |    FROM orders)),
         |u AS (${parts.mkString("\nUNION ALL\n")})
         |SELECT dim, n_features, n_buckets_used, collided_features,
         |  (n_buckets_used * $Fx) // dim AS fill_fx,
         |  (collided_features * $Fx) // n_features AS collision_share_fx
         |FROM u ORDER BY dim""".stripMargin
    },

    "q52_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |c AS (
        |  SELECT user_id, event_id, event_type, us,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS prev_type
        |  FROM e),
        |ch AS (
        |  SELECT user_id, event_type, us,
        |    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS valid_to_us
        |  FROM c WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_open,
        |  CAST(COALESCE(SUM((valid_to_us - us) // 1000000), 0) AS BIGINT)
        |    AS closed_dwell_sec
        |FROM ch GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q53_join_explosion" ->
      s"""WITH l AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_l FROM events
         |  WHERE event_type = 'click' GROUP BY user_id),
         |r AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_r FROM events
         |  WHERE event_type = 'purchase' GROUP BY user_id),
         |k AS (
         |  SELECT l.user_id, n_l * n_r AS out_rows
         |  FROM l JOIN r ON l.user_id = r.user_id),
         |rk AS (
         |  SELECT user_id, out_rows,
         |    NTILE(100) OVER (ORDER BY out_rows, user_id) AS pctile
         |  FROM k)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(out_rows) AS BIGINT) AS total_out,
         |  CAST(MAX(out_rows) AS BIGINT) AS max_key_out,
         |  CAST(SUM(CASE WHEN pctile = 100 THEN out_rows ELSE 0 END) AS BIGINT)
         |    AS top1pct_out,
         |  (CAST(MAX(out_rows) AS BIGINT) * $Fx) // CAST(SUM(out_rows) AS BIGINT)
         |    AS max_share_fx,
         |  (CAST(SUM(CASE WHEN pctile = 100 THEN out_rows ELSE 0 END) AS BIGINT)
         |    * $Fx) // CAST(SUM(out_rows) AS BIGINT) AS top1pct_share_fx
         |FROM rk""".stripMargin,

    "q54_decile_transition" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |s1 AS (
        |  SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS spend FROM o
        |  WHERE o_orderdate <= TIMESTAMP '1996-12-31' GROUP BY o_custkey),
        |s2 AS (
        |  SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS spend FROM o
        |  WHERE o_orderdate <= TIMESTAMP '1997-12-31' GROUP BY o_custkey),
        |d1 AS (
        |  SELECT o_custkey, NTILE(10) OVER (ORDER BY spend, o_custkey) AS d1
        |  FROM s1),
        |d2 AS (
        |  SELECT o_custkey, NTILE(10) OVER (ORDER BY spend, o_custkey) AS d2
        |  FROM s2)
        |SELECT CAST(COALESCE(d1.d1, 0) AS INTEGER) AS decile_from,
        |  CAST(d2.d2 AS INTEGER) AS decile_to,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM d2 LEFT JOIN d1 ON d2.o_custkey = d1.o_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q55_countmin_sketch" ->
      s"""WITH kc AS (
         |  SELECT l_partkey, CAST(l_partkey AS VARCHAR) AS k,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM lineitem GROUP BY 1, 2),
         |kb AS (
         |  ${duckCmsUnion("kc", "cnt")}),
         |sketch AS (
         |  SELECT seed, bucket, CAST(SUM(cnt) AS BIGINT) AS counter
         |  FROM kb GROUP BY 1, 2),
         |top AS (
         |  SELECT l_partkey, k, cnt FROM kc
         |  ORDER BY cnt DESC, l_partkey LIMIT $TopN),
         |tb AS (
         |  ${duckCmsUnion("top", "l_partkey, cnt")})
         |SELECT tb.l_partkey, tb.cnt AS true_cnt,
         |  CAST(MIN(COALESCE(s.counter, 0)) AS BIGINT) AS est_cnt,
         |  CAST(MIN(COALESCE(s.counter, 0)) - tb.cnt AS BIGINT) AS over_cnt
         |FROM tb LEFT JOIN sketch s USING (seed, bucket)
         |GROUP BY 1, 2 ORDER BY true_cnt DESC, l_partkey""".stripMargin,

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
    },

    "q58_order_reconciliation" ->
      s"""WITH r AS (
         |  SELECT l_orderkey,
         |    CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)
         |      * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)) // 10000
         |      * (10000 + CAST(floor(l_tax * 10000) AS BIGINT)) // 10000)
         |      AS BIGINT) AS recomputed_cents
         |  FROM lineitem GROUP BY 1),
         |j AS (
         |  SELECT o_orderstatus,
         |    abs(COALESCE(r.recomputed_cents, 0)
         |      - CAST(floor(o_totalprice * 100) AS BIGINT)) AS drift_cents
         |  FROM orders LEFT JOIN r ON o_orderkey = l_orderkey)
         |SELECT o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(CASE WHEN drift_cents <= $TolCents THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_matched,
         |  CAST(SUM(CASE WHEN drift_cents > $TolCents THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mismatched,
         |  CAST(SUM(drift_cents) AS BIGINT) AS total_drift_cents,
         |  (CAST(SUM(CASE WHEN drift_cents <= $TolCents THEN 1 ELSE 0 END) AS BIGINT)
         |    * $Fx) // CAST(COUNT(*) AS BIGINT) AS match_fx
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q59_benford_census" -> {
      val cases = (1 to 9).map(d => s"WHEN ${d} THEN ${BenfordFx(d)}")
        .mkString(" ")
      s"""WITH c AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS INT) AS digit,
         |    CAST(COUNT(*) AS BIGINT) AS n_orders
         |  FROM orders GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS total FROM c)
         |SELECT digit, n_orders,
         |  (n_orders * $Fx) // total AS obs_fx,
         |  CAST(CASE digit $cases END AS BIGINT) AS benford_fx,
         |  abs((n_orders * $Fx) // total - CASE digit $cases END) AS dev_fx
         |FROM c CROSS JOIN t ORDER BY digit""".stripMargin
    },

    "q60_bitemporal_grid" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
         |b AS (
         |  SELECT MIN(us) AS vlo, MAX(us) AS vhi,
         |    MIN(event_id) AS tlo, MAX(event_id) AS thi FROM ev),
         |grid AS (
         |  SELECT tq, vq,
         |    tlo + (tq * (thi - tlo)) // 4 AS t_cut,
         |    vlo + (vq * (vhi - vlo)) // 4 AS v_cut
         |  FROM b
         |  CROSS JOIN (SELECT unnest([1,2,3,4]) AS tq) a
         |  CROSS JOIN (SELECT unnest([1,2,3,4]) AS vq) c),
         |st AS (
         |  SELECT tq, vq, user_id, state FROM (
         |    SELECT g.tq, g.vq, e.user_id, e.value AS state,
         |      row_number() OVER (PARTITION BY g.tq, g.vq, e.user_id
         |        ORDER BY e.us DESC, e.event_id DESC) AS rn
         |    FROM ev e JOIN grid g
         |      ON e.event_id <= g.t_cut AND e.us <= g.v_cut)
         |  WHERE rn = 1)
         |SELECT tq, vq, CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(CAST(state AS DECIMAL(18,6))) AS DOUBLE) AS state_mass
         |FROM st GROUP BY 1, 2 ORDER BY tq, vq""".stripMargin,

    "q61_kmv_distinct" ->
      s"""WITH hashed AS (
         |  SELECT DISTINCT event_type,
         |    ${Hashing.duckHash64("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |ranked AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |  FROM hashed),
         |kth AS (
         |  SELECT event_type, MAX(h) AS h_k,
         |    CAST(COUNT(*) AS BIGINT) AS n_kept
         |  FROM ranked WHERE rk <= $KmvK GROUP BY 1),
         |truth AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
         |  FROM hashed GROUP BY 1),
         |est AS (
         |  SELECT t.event_type, t.n_true, k.h_k,
         |    CAST(CASE WHEN k.n_kept < $KmvK THEN t.n_true
         |      ELSE ${(KmvK - 1).toLong * HalfSpace}
         |        // greatest(k.h_k // $HalfSpace, 1) END AS BIGINT) AS est
         |  FROM truth t JOIN kth k USING (event_type))
         |SELECT event_type, n_true, h_k, est,
         |  ((est - n_true) * $Fx) // n_true AS err_fx
         |FROM est ORDER BY event_type""".stripMargin,

    "q62_linear_attribution" ->
      s"""WITH p AS (
         |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us,
         |    CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |cl AS (
         |  SELECT user_id, epoch_us(ts) AS c_us
         |  FROM events WHERE event_type = 'click'),
         |t AS (
         |  SELECT p.p_id, p.cents, cl.c_us,
         |    cl.c_us IS NOT NULL AND cl.c_us < p.p_us
         |      AND cl.c_us >= p.p_us - ${LookbackS * 1000000L} AS is_touch
         |  FROM p LEFT JOIN cl ON p.user_id = cl.user_id),
         |pc AS (
         |  SELECT p_id, cents,
         |    CAST(SUM(CASE WHEN is_touch THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_touches
         |  FROM t GROUP BY 1, 2),
         |cr AS (
         |  SELECT CAST(((t.c_us // 3600000000) % 24 + 24) % 24 AS INT) AS hour,
         |    CAST(COUNT(*) AS BIGINT) AS n_touches,
         |    CAST(SUM(t.cents // pc.n_touches) AS BIGINT) AS credited_cents
         |  FROM t JOIN pc USING (p_id) WHERE t.is_touch
         |  GROUP BY 1),
         |nt AS (
         |  SELECT CAST(-1 AS INT) AS hour,
         |    CAST(COUNT(*) AS BIGINT) AS n_touches,
         |    CAST(SUM(cents) AS BIGINT) AS credited_cents
         |  FROM pc WHERE n_touches = 0)
         |SELECT * FROM (
         |  SELECT * FROM cr UNION ALL SELECT * FROM nt)
         |WHERE n_touches > 0 ORDER BY hour""".stripMargin,

    "q63_range_plan" ->
      s"""WITH keyed AS (
         |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS k,
         |    l_orderkey, l_linenumber
         |  FROM lineitem),
         |tiled AS (
         |  SELECT k, NTILE($NParts) OVER
         |    (ORDER BY k, l_orderkey, l_linenumber) AS part
         |  FROM keyed),
         |parts AS (
         |  SELECT part, MIN(k) AS lo_cents, MAX(k) AS hi_cents,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows
         |  FROM tiled GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM parts)
         |SELECT CAST(part AS INT) AS part, lo_cents, hi_cents, n_rows,
         |  (n_rows * $NParts * $Fx) // n_total AS skew_fx
         |FROM parts CROSS JOIN t ORDER BY part""".stripMargin,

    "q64_depletion_ledger" ->
      s"""WITH lines AS (
         |  SELECT l_partkey, l_orderkey, l_linenumber,
         |    CAST(floor(l_quantity) AS BIGINT) AS qty, l_shipdate
         |  FROM lineitem),
         |ini AS (
         |  SELECT l_partkey, CAST(SUM(qty) // 2 AS BIGINT) AS stock0
         |  FROM lines GROUP BY 1),
         |run AS (
         |  SELECT l.l_shipdate, l.qty,
         |    SUM(l.qty) OVER (PARTITION BY l.l_partkey
         |      ORDER BY l.l_shipdate, l.l_orderkey, l.l_linenumber) AS drawn,
         |    i.stock0
         |  FROM lines l JOIN ini i USING (l_partkey))
         |SELECT date_trunc('month', l_shipdate) AS month,
         |  CAST(COUNT(*) AS BIGINT) AS n_lines,
         |  CAST(SUM(qty) AS BIGINT) AS qty_shipped,
         |  CAST(SUM(CASE WHEN drawn > stock0 AND drawn - qty <= stock0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_depletions
         |FROM run GROUP BY 1 ORDER BY month""".stripMargin,

    "q65_cardinality_error" -> {
      def arm(name: String, ta: String, ka: String, tb: String,
          kb: String): String =
        s"""SELECT '$name' AS edge,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ta) AS n_a,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $tb) AS n_b,
           |  (SELECT CAST(COUNT(DISTINCT $ka) AS BIGINT) FROM $ta) AS d_a,
           |  (SELECT CAST(COUNT(DISTINCT $kb) AS BIGINT) FROM $tb) AS d_b,
           |  ((SELECT CAST(COUNT(*) AS BIGINT) FROM $ta)
           |    * (SELECT CAST(COUNT(*) AS BIGINT) FROM $tb))
           |    // greatest((SELECT CAST(COUNT(DISTINCT $ka) AS BIGINT) FROM $ta),
           |        (SELECT CAST(COUNT(DISTINCT $kb) AS BIGINT) FROM $tb))
           |    AS est_rows,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ta JOIN $tb
           |     ON $ta.$ka = $tb.$kb) AS actual_rows,
           |  (((SELECT CAST(COUNT(*) AS BIGINT) FROM $ta)
           |    * (SELECT CAST(COUNT(*) AS BIGINT) FROM $tb))
           |    // greatest((SELECT CAST(COUNT(DISTINCT $ka) AS BIGINT) FROM $ta),
           |        (SELECT CAST(COUNT(DISTINCT $kb) AS BIGINT) FROM $tb))
           |    * $Fx) // (SELECT CAST(COUNT(*) AS BIGINT) FROM $ta JOIN $tb
           |     ON $ta.$ka = $tb.$kb) AS err_fx""".stripMargin
      Seq(
        arm("orders-customer", "orders", "o_custkey", "customer", "c_custkey"),
        arm("lineitem-orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        arm("lineitem-part", "lineitem", "l_partkey", "part", "p_partkey"))
        .mkString("\nUNION ALL\n") + "\nORDER BY edge"
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
         |FROM p ORDER BY lag""".stripMargin,

    "q67_trend_slope" ->
      s"""WITH daily AS (
         |  SELECT o_orderpriority AS priority,
         |    epoch_us(o_orderdate) // 86400000000 AS day,
         |    CAST(COUNT(*) AS BIGINT) AS y
         |  FROM orders GROUP BY 1, 2),
         |b AS (SELECT MIN(day) AS d0 FROM daily),
         |p AS (
         |  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(day - d0) AS BIGINT) AS sx,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM((day - d0) * (day - d0)) AS BIGINT) AS sxx,
         |    CAST(SUM((day - d0) * y) AS BIGINT) AS sxy,
         |    CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM daily CROSS JOIN b GROUP BY 1)
         |SELECT priority, n_days,
         |  ${Det.duckTrunc(
            "CAST(n_days * sxy - sx * sy AS DOUBLE) / " +
            "CAST(n_days * sxx - sx * sx AS DOUBLE)", 4)} AS slope4,
         |  ${Det.duckTrunc(
            "(CAST(n_days * sxy - sx * sy AS DOUBLE) * " +
            "CAST(n_days * sxy - sx * sy AS DOUBLE)) / " +
            "(CAST(n_days * sxx - sx * sx AS DOUBLE) * " +
            "CAST(n_days * syy - sy * sy AS DOUBLE))", 4)}
         |    AS r2_4
         |FROM p ORDER BY priority""".stripMargin,

    "q68_ab_lift" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS purchase_cents,
         |    CASE WHEN ${Hashing.duckHash64("CAST(user_id AS VARCHAR)")} % 2 = 0
         |      THEN 'control' ELSE 'treatment' END AS arm
         |  FROM events GROUP BY 1),
         |a AS (
         |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         |    CAST(SUM(converted) AS BIGINT) AS n_converters,
         |    CAST(SUM(purchase_cents) AS BIGINT) AS cents
         |  FROM u GROUP BY 1),
         |e AS (
         |  SELECT arm, n_users, n_converters,
         |    (n_converters * $Fx) // n_users AS conv_fx,
         |    cents // n_users AS cents_per_user
         |  FROM a),
         |c AS (
         |  SELECT conv_fx AS ctl_conv_fx, cents_per_user AS ctl_cpu
         |  FROM e WHERE arm = 'control')
         |SELECT arm, n_users, n_converters, conv_fx, cents_per_user,
         |  CASE WHEN arm = 'treatment'
         |    THEN ((conv_fx - ctl_conv_fx) * $Fx) // ctl_conv_fx END
         |    AS conv_lift_fx,
         |  CASE WHEN arm = 'treatment'
         |    THEN ((cents_per_user - ctl_cpu) * $Fx) // ctl_cpu END
         |    AS value_lift_fx
         |FROM e CROSS JOIN c ORDER BY arm""".stripMargin,

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
         |FROM cs CROSS JOIN p ORDER BY day""".stripMargin,

    "q70_weighted_quantiles" ->
      s"""WITH li AS (
         |  SELECT o_orderpriority AS priority,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT)
         |      // greatest(CAST(floor(l_quantity) AS BIGINT), 1) AS unit_cents,
         |    CAST(floor(l_quantity) AS BIGINT) AS qty
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |hist AS (
         |  SELECT priority, unit_cents,
         |    CAST(COUNT(*) AS BIGINT) AS n_lines,
         |    CAST(SUM(qty) AS BIGINT) AS w
         |  FROM li GROUP BY 1, 2),
         |cdf AS (
         |  SELECT priority, unit_cents, n_lines, w,
         |    SUM(w) OVER (PARTITION BY priority ORDER BY unit_cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         |    SUM(w) OVER (PARTITION BY priority) AS tw,
         |    SUM(n_lines) OVER (PARTITION BY priority ORDER BY unit_cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         |    SUM(n_lines) OVER (PARTITION BY priority) AS tn
         |  FROM hist)
         |SELECT priority,
         |  CAST(MAX(tn) AS BIGINT) AS n_lines,
         |  CAST(MAX(tw) AS BIGINT) AS total_units,
         |  MIN(CASE WHEN cum_w * 100 >= tw * 50 THEN unit_cents END)
         |    AS w_p50_cents,
         |  MIN(CASE WHEN cum_w * 100 >= tw * 90 THEN unit_cents END)
         |    AS w_p90_cents,
         |  MIN(CASE WHEN cum_n * 100 >= tn * 50 THEN unit_cents END)
         |    AS u_p50_cents
         |FROM cdf GROUP BY priority ORDER BY priority""".stripMargin,

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

    "q72_repurchase_cycle" ->
      s"""WITH o AS (
         |  SELECT o_custkey, o_orderkey,
         |    epoch_us(o_orderdate) // 86400000000 AS day,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |g AS (
         |  SELECT o_custkey,
         |    day - lag(day, 1) OVER (PARTITION BY o_custkey
         |      ORDER BY day, o_orderkey) AS gap_d
         |  FROM o),
         |sp AS (SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS spend
         |       FROM o GROUP BY 1),
         |tiled AS (
         |  SELECT o_custkey,
         |    NTILE(4) OVER (ORDER BY spend, o_custkey) AS quartile
         |  FROM sp),
         |hist AS (
         |  SELECT quartile, gap_d, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM g JOIN tiled USING (o_custkey)
         |  WHERE gap_d IS NOT NULL GROUP BY 1, 2),
         |cdf AS (
         |  SELECT quartile, gap_d, cnt,
         |    SUM(cnt) OVER (PARTITION BY quartile ORDER BY gap_d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(cnt) OVER (PARTITION BY quartile) AS n
         |  FROM hist)
         |SELECT CAST(quartile AS INT) AS quartile,
         |  CAST(MAX(n) AS BIGINT) AS n_gaps,
         |  MIN(CASE WHEN cum * 2 >= n THEN gap_d END) AS p50_days,
         |  MIN(CASE WHEN cum * 10 >= n * 9 THEN gap_d END) AS p90_days
         |FROM cdf GROUP BY 1 ORDER BY quartile""".stripMargin,

    "q73_ks_test" ->
      s"""WITH days AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(COUNT(*) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM days),
         |t AS (
         |  SELECT x, CASE WHEN (day - lo) * 2 <= (hi - lo)
         |    THEN 1 ELSE 2 END AS half
         |  FROM days CROSS JOIN b),
         |hist AS (
         |  SELECT x,
         |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM t GROUP BY 1),
         |tt AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         |         CAST(SUM(c2) AS BIGINT) AS n2 FROM hist),
         |cdf AS (
         |  SELECT
         |    CAST(SUM(c1) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
         |    CAST(SUM(c2) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
         |  FROM hist)
         |SELECT n1, n2,
         |  CAST(MAX(abs((f1 * $Fx) // n1 - (f2 * $Fx) // n2)) AS BIGINT) AS ks_fx,
         |  CAST(floor(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
         |    / CAST(n1 * n2 AS DOUBLE)) * $Fx) AS BIGINT) AS crit_fx,
         |  CAST(MAX(abs((f1 * $Fx) // n1 - (f2 * $Fx) // n2)) AS BIGINT) >
         |    CAST(floor(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
         |      / CAST(n1 * n2 AS DOUBLE)) * $Fx) AS BIGINT) AS reject_95
         |FROM cdf CROSS JOIN tt GROUP BY n1, n2""".stripMargin,

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

    // the DIRECT recompute — deliberately not the delta algebra
    "q75_delta_view_maintenance" ->
      s"""WITH ${Dedup.duckSnapshotCtes}
         |SELECT d.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(string_split_regex(trim(v2.text), '\\s+'))) AS BIGINT)
         |    AS n_tokens,
         |  CAST(SUM(strlen(v2.text)) AS BIGINT) AS total_bytes
         |FROM v2 JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "q76_kmv_setops" -> {
      val est = (hk: String, n: String) =>
        s"""CASE WHEN $n < $KmvK THEN $n
           |    ELSE ${(KmvK - 1).toLong * HalfSpace} // GREATEST($hk // $HalfSpace, 1) END""".stripMargin
      s"""WITH hashed AS (
         |  SELECT DISTINCT ((epoch_us(ts) // 86400000000) % 2 + 2) % 2 AS cohort,
         |    ${Hashing.duckHash64("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |truth AS (
         |  SELECT CAST(SUM(in_a) AS BIGINT) AS n_true_a,
         |    CAST(SUM(in_b) AS BIGINT) AS n_true_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_true_union,
         |    CAST(SUM(in_a * in_b) AS BIGINT) AS n_true_inter
         |  FROM (SELECT h,
         |      MAX(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS in_a,
         |      MAX(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS in_b
         |    FROM hashed GROUP BY h)),
         |kept AS (
         |  SELECT cohort, h FROM (
         |    SELECT cohort, h,
         |      row_number() OVER (PARTITION BY cohort ORDER BY h) AS rn
         |    FROM hashed) WHERE rn <= $KmvK),
         |summ AS (
         |  SELECT cohort, MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    CAST(${est("MAX(h)", "COUNT(*)")} AS BIGINT) AS est
         |  FROM kept GROUP BY cohort),
         |s2 AS (
         |  SELECT CAST(MAX(CASE WHEN cohort = 0 THEN est END) AS BIGINT) AS est_a,
         |    CAST(MAX(CASE WHEN cohort = 1 THEN est END) AS BIGINT) AS est_b,
         |    MIN(CASE WHEN n_kept < $KmvK THEN ${OpenTheta} ELSE h_k END) AS theta
         |  FROM summ),
         |uk AS (
         |  SELECT h FROM (
         |    SELECT h, row_number() OVER (ORDER BY h) AS rn
         |    FROM (SELECT DISTINCT h FROM kept)) WHERE rn <= $KmvK),
         |us AS (
         |  SELECT CAST(${est("MAX(h)", "COUNT(*)")} AS BIGINT) AS est_union
         |  FROM uk),
         |cm AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM kept a JOIN kept b ON a.h = b.h
         |    AND a.cohort = 0 AND b.cohort = 1
         |  CROSS JOIN s2 WHERE a.h < s2.theta)
         |SELECT n_true_a, n_true_b, n_true_union, n_true_inter,
         |  est_a, est_b, est_union,
         |  CAST(CASE WHEN theta = ${OpenTheta} THEN n_common
         |    ELSE (n_common * $HalfSpace) // GREATEST(theta // $HalfSpace, 1)
         |    END AS BIGINT) AS est_inter_theta,
         |  CAST(est_a + est_b - est_union AS BIGINT) AS est_inter_ie
         |FROM truth CROSS JOIN s2 CROSS JOIN us CROSS JOIN cm""".stripMargin
    },

    "q77_triangle_doulion" ->
      s"""WITH ip AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS (
         |  SELECT DISTINCT a.p AS pa, b.p AS pb
         |  FROM ip a JOIN ip b ON a.o = b.o AND a.p < b.p
         |  WHERE ${Hashing.duckHash64("concat_ws('|', pa, pb)")} % $SampleMod = 0),
         |deg AS (
         |  SELECT p, CAST(COUNT(*) AS BIGINT) AS dg
         |  FROM (SELECT pa AS p FROM e UNION ALL SELECT pb AS p FROM e)
         |  GROUP BY p),
         |o AS (
         |  SELECT CASE WHEN (da.dg, pa) < (db.dg, pb) THEN pa ELSE pb END AS u,
         |    CASE WHEN (da.dg, pa) < (db.dg, pb) THEN pb ELSE pa END AS v,
         |    CASE WHEN (da.dg, pa) < (db.dg, pb) THEN db.dg ELSE da.dg END AS dv
         |  FROM e JOIN deg da ON da.p = pa JOIN deg db ON db.p = pb),
         |wedges AS (
         |  SELECT w1.v AS v1, w2.v AS v2
         |  FROM o w1 JOIN o w2 ON w1.u = w2.u
         |  WHERE (w1.dv, w1.v) < (w2.dv, w2.v)),
         |m AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges w
         |      JOIN o c ON c.u = w.v1 AND c.v = w.v2) AS n_tri_sampled)
         |SELECT n_edges, n_vertices, n_wedges, n_tri_sampled,
         |  CAST(n_tri_sampled * ${SampleMod * SampleMod * SampleMod} AS BIGINT)
         |    AS est_triangles
         |FROM m""".stripMargin,

    // DIRECT set algebra — no bitmaps — so the hash match proves the
    // bitmap fold, not a second copy of it
    "q78_bitmap_audience" ->
      s"""WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
         |t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
         |  FROM u GROUP BY event_type),
         |p AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM u a JOIN u b ON a.user_id = b.user_id
         |    AND a.event_type < b.event_type
         |  GROUP BY 1, 2)
         |SELECT type_a, type_b, ta.n_users AS users_a, tb.n_users AS users_b,
         |  n_common,
         |  CAST(n_common * $Fx4 // (ta.n_users + tb.n_users - n_common)
         |    AS BIGINT) AS jaccard_fx
         |FROM p JOIN t ta ON ta.event_type = type_a
         |  JOIN t tb ON tb.event_type = type_b
         |ORDER BY type_a, type_b""".stripMargin,

    "q79_halflife_decay" ->
      s"""WITH ev AS (
         |  SELECT event_type, user_id, CAST(ts AS DATE) AS day FROM events),
         |mx AS (SELECT MAX(day) AS mxd FROM ev),
         |per_user AS (
         |  SELECT event_type, user_id,
         |    CAST(SUM($Fx4 >> CAST(LEAST(
         |      date_diff('day', day, mxd) // 7, $MaxWeeks) AS INT))
         |      AS BIGINT) AS score_fx
         |  FROM ev CROSS JOIN mx GROUP BY 1, 2)
         |SELECT event_type,
         |  CAST(length(bin(score_fx)) - 1 AS BIGINT) AS octave,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(score_fx) AS BIGINT) AS mass_fx,
         |  CAST(MAX(score_fx) AS BIGINT) AS max_score_fx
         |FROM per_user GROUP BY 1, 2
         |ORDER BY event_type, octave""".stripMargin,

    "q80_histogram_selectivity" -> {
      val probeRows = Probes
        .map { case (lo, hi) => s"(CAST($lo AS BIGINT), CAST($hi AS BIGINT))" }
        .mkString(", ")
      s"""WITH cents AS (
         |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c, o_orderkey
         |  FROM orders),
         |tiled AS (
         |  SELECT c, NTILE($Buckets) OVER (ORDER BY c, o_orderkey) AS bucket
         |  FROM cents),
         |hist AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS bn,
         |    CAST(MIN(c) AS BIGINT) AS lo, CAST(MAX(c) AS BIGINT) AS hi
         |  FROM tiled GROUP BY bucket),
         |probes AS (SELECT * FROM (VALUES $probeRows) AS t(p_lo, p_hi)),
         |est AS (
         |  SELECT p_lo, p_hi,
         |    CAST(SUM((bn * (LEAST(p_hi, hi) - GREATEST(p_lo, lo) + 1))
         |      // (hi - lo + 1)) AS BIGINT) AS est_rows
         |  FROM probes JOIN hist ON p_lo <= hi AND p_hi >= lo
         |  GROUP BY 1, 2),
         |actual AS (
         |  SELECT p_lo, p_hi,
         |    CAST((SELECT COUNT(*) FROM cents
         |      WHERE c >= p_lo AND c <= p_hi) AS BIGINT) AS actual_rows
         |  FROM probes)
         |SELECT p.p_lo, p.p_hi,
         |  CAST(COALESCE(est_rows, 0) AS BIGINT) AS est_rows, actual_rows,
         |  CAST(abs(COALESCE(est_rows, 0) - actual_rows) * $Fx4
         |    // GREATEST(actual_rows, 1) AS BIGINT) AS err_fx
         |FROM probes p
         |LEFT JOIN est USING (p_lo, p_hi)
         |JOIN actual USING (p_lo, p_hi)
         |ORDER BY p.p_lo, p.p_hi""".stripMargin
    },

    "q81_salt_autopick" ->
      s"""WITH pk AS (
         |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |c AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |    CAST(SUM(c) AS BIGINT) AS n_rows,
         |    CAST(MAX(c) AS BIGINT) AS max_rows
         |  FROM pk GROUP BY 1),
         |st AS (SELECT CAST(salt AS BIGINT) AS salt
         |  FROM (VALUES (${SaltDial.mkString("),(")})) AS t(salt)),
         |j AS (
         |  SELECT c.event_type, st.salt, c.n_keys, c.n_rows, c.max_rows,
         |    CAST($SkewHeadroomX * ((c.n_rows + ${TaskSlots - 1})
         |      // $TaskSlots) AS BIGINT) AS budget_rows,
         |    CAST((c.max_rows + st.salt - 1) // st.salt AS BIGINT)
         |      AS salted_max
         |  FROM c CROSS JOIN st),
         |f AS (
         |  SELECT *, CAST(CASE WHEN salted_max <= budget_rows
         |    THEN 1 ELSE 0 END AS BIGINT) AS within_budget FROM j)
         |SELECT event_type, salt, n_keys, n_rows, max_rows, budget_rows,
         |  salted_max, within_budget,
         |  CAST(CASE WHEN salt = COALESCE(
         |    MIN(CASE WHEN within_budget = 1 THEN salt END)
         |      OVER (PARTITION BY event_type),
         |    MAX(salt) OVER (PARTITION BY event_type))
         |    THEN 1 ELSE 0 END AS BIGINT) AS chosen
         |FROM f ORDER BY event_type, salt""".stripMargin,

    "q82_partition_autopick" ->
      s"""WITH census AS (
         |  SELECT CAST(SUM(72 + COALESCE(LENGTH(l_returnflag), 0)
         |    + COALESCE(LENGTH(l_linestatus), 0)) AS BIGINT) AS est_bytes
         |  FROM lineitem
         |  UNION ALL
         |  SELECT CAST(SUM(32 + COALESCE(LENGTH(o_orderstatus), 0)
         |    + COALESCE(LENGTH(o_orderpriority), 0)) AS BIGINT) FROM orders
         |  UNION ALL
         |  SELECT CAST(SUM(32 + COALESCE(LENGTH(event_type), 0)
         |    + COALESCE(LENGTH(props), 0)) AS BIGINT) FROM events
         |  UNION ALL
         |  SELECT CAST(SUM(16 + COALESCE(LENGTH(text), 0)
         |    + COALESCE(LENGTH(lang), 0)
         |    + COALESCE(LENGTH(source), 0)) AS BIGINT) FROM documents),
         |m AS (
         |  SELECT CAST(MAX(est_bytes) AS BIGINT) AS max_bytes,
         |    GREATEST(CAST($TaskSlots AS BIGINT),
         |      CAST((MAX(est_bytes) + ${PartitionTargetBytes - 1})
         |        // $PartitionTargetBytes AS BIGINT)) AS needed_parts
         |  FROM census),
         |st AS (SELECT CAST(parts AS BIGINT) AS parts
         |  FROM (VALUES (${PartitionDial.mkString("),(")})) AS t(parts)),
         |j AS (
         |  SELECT st.parts, m.max_bytes, m.needed_parts,
         |    CAST(CASE WHEN st.parts >= m.needed_parts
         |      THEN 1 ELSE 0 END AS BIGINT) AS within_stop
         |  FROM m CROSS JOIN st)
         |SELECT parts, max_bytes, needed_parts, within_stop,
         |  CAST(CASE WHEN parts = COALESCE(
         |    MIN(CASE WHEN within_stop = 1 THEN parts END) OVER (),
         |    MAX(parts) OVER ()) THEN 1 ELSE 0 END AS BIGINT) AS chosen
         |FROM j ORDER BY parts""".stripMargin
  )
}
