package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-11 first wave: the band-geometry chooser (dd46).
  *
  * dd45 PRICES the sign-LSH density dial (per band width, the
  * occupied buckets and the candidate-pair mass Σ C(occ, 2)); dd46
  * CLOSES the loop (VERDICT r10 #3): it picks the geometry from the
  * census against a linear pair budget, so a deployment reads one
  * frame instead of eyeballing the planner. The rule is recall-first
  * under a scalability ceiling:
  *
  *   budget = PairBudgetPerVec · n_corpus   (candidate mass a
  *     cluster can verify stays LINEAR in the corpus — the sf10
  *     ladder's failure mode was exactly a super-linear mass: 4-bit
  *     bands planned ~2×10⁹ pairs at 200k vectors, >54 GB of sort
  *     spill, where 128·n would have been 25.6M)
  *   chosen = the NARROWEST bands (smallest bits — highest recall,
  *     dd21's b×r S-curve) whose mass fits the budget; if none fits,
  *     the widest available, which minimizes the overshoot.
  *
  * The chooser is pure arithmetic over dd45's bounded (3-row) census,
  * so the oracle replays the whole choice rule in SQL and the hash
  * match proves the deployment-facing decision, not just the census.
  *
  * Reference tie: the reference's surface is complete (r7); this is
  * the brief's 100 TB dedup arm hardening its own planning loop.
  */
object Round11 extends Operators {

  /** Candidate pairs a deployment budgets per corpus vector: keeps
    * the verify join O(n) at any scale. 128 clears the per-vector
    * candidate mass every oracle-gated corpus produces under the
    * default 4-bit geometry (measured 24.8 / 24.6 / 99.8 at
    * sf0.001/0.01/0.1), so the chooser reproduces the oracle default
    * at gated scales — while the sf10 ladder's 200k-vector census
    * (~10⁴ pairs/vector at 4 bits) blows it and correctly widens.
    */
  val PairBudgetPerVec = 128L

  /** The choice rule over a census frame (band_bits, ...,
    * candidate_pairs) and a 1-row corpus count (n_corpus). Factored
    * so the spec can feed the sf10 ladder's measured census — 200k
    * vectors, ~2×10⁹ pairs at 4 bits — and pin that the chooser picks
    * 16 bits without re-running the ladder.
    */
  def bandAutopick(census: DataFrame, nCorpus: DataFrame): DataFrame = {
    val j = census.crossJoin(broadcast(nCorpus))
      .withColumn("pair_budget",
        (col("n_corpus") * lit(PairBudgetPerVec)).cast("long"))
      .withColumn("within_budget",
        when(col("candidate_pairs") <= col("pair_budget"), 1L)
          .otherwise(0L).cast("long"))
    // the pick is a GLOBAL window over the |DialBits| = 3-row frame
    // (single-partition by construction, never data-proportional):
    // a separate pick aggregate would be a second consumer of the
    // census and re-plan the whole occupancy sweep per consumer —
    // the tx11 double-consumer shape (it showed up here as 16
    // planned exchanges vs dd45's 7 before the window rewrite)
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    j.withColumn("chosen_bits",
        coalesce(
          min(when(col("within_budget") === 1L, col("band_bits"))).over(all),
          max(col("band_bits")).over(all)))
      .withColumn("chosen",
        when(col("band_bits") === col("chosen_bits"), 1L)
          .otherwise(0L).cast("long"))
      .select(col("band_bits"), col("candidate_pairs"), col("n_corpus"),
        col("pair_budget"), col("within_budget"), col("chosen"))
  }

  /** Driver-side convenience: the chosen bandBits for a corpus — what
    * a deployment sets spark.graft.emb.bandBits to. Bounded 3-row
    * collect.
    */
  def autoBandBits(s: SparkSession, d: String): Int =
    bandAutopick(Round10.bandDensityCensus(s, d), corpusCount(s, d))
      .filter(col("chosen") === 1L)
      .select(col("band_bits")).head().getLong(0).toInt

  private[operators] def corpusCount(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .agg(count(lit(1)).cast("long").as("n_corpus"))

  // --- wave 2: the other planning loops, closed the same way ------------
  // dd46 set the pattern: a census operator already prices the dial
  // (ev74 lateness, pk07/pk19 shard bytes, q37 key skew); the chooser
  // is pure integer arithmetic over that bounded census, so the oracle
  // replays the DECISION and the hash match proves what a deployment
  // would actually set. Each chooser is factored over a census frame
  // so specs can feed measured censuses without re-running the source.

  /** Watermark dial stops a deployment actually uses (seconds). */
  val WatermarkDialS = Seq(60L, 300L, 900L, 3600L)

  /** ev82 rule over ev74's census (event_type, n_events, p99_us):
    * the SHORTEST watermark delay covering p99 lateness (≤1% late
    * drops — ev23's drop census is the downstream check); delay is
    * state-store retention (ev75's model prices it), so shorter is
    * strictly cheaper. If no stop covers p99, the longest stop
    * minimizes the overshoot — and flags the type as needing a
    * reorder fix upstream, not a bigger watermark.
    */
  def watermarkAutopick(census: DataFrame): DataFrame = {
    val j = census
      .withColumn("delay_s", explode(array(WatermarkDialS.map(lit): _*)))
      .withColumn("within_target",
        when(col("delay_s") * lit(1000000L) >= col("p99_us"), 1L)
          .otherwise(0L).cast("long"))
    // per-type pick over the |dial| = 4-row frame (bounded window,
    // same partitioning as the census group — no extra shuffle class)
    val wt = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    j.withColumn("chosen_delay",
        coalesce(
          min(when(col("within_target") === 1L, col("delay_s"))).over(wt),
          max(col("delay_s")).over(wt)))
      .withColumn("chosen",
        when(col("delay_s") === col("chosen_delay"), 1L)
          .otherwise(0L).cast("long"))
      .select(col("event_type"), col("delay_s"), col("n_events"),
        col("p99_us"), col("within_target"), col("chosen"))
  }

  /** Shard-size dial stops (MiB): the parquet file-size sweet spot a
    * lake actually debates. */
  val ShardDialMiB = Seq(64L, 128L, 256L, 512L)

  /** Minimum output files the pick must preserve: 2× the 32-slot
    * local profile (on a cluster, 2× total cores — same rule). Fewer
    * files than slots = idle executors on every downstream scan.
    */
  val MinShardFiles = 64L

  /** pk27 rule over a corpus byte census (n_docs, total_chars):
    * the LARGEST shard size that still yields ≥ MinShardFiles files
    * (bigger files amortize parquet footer/dictionary overhead and
    * scan setup; parallelism is the binding floor). If even the
    * smallest stop can't reach the floor the corpus is too small to
    * shard — take the smallest stop, which lands closest.
    */
  def shardAutopick(census: DataFrame): DataFrame = {
    val j = census
      .withColumn("target_mib", explode(array(ShardDialMiB.map(lit): _*)))
      .withColumn("n_files",
        greatest(lit(1L),
          expr("(total_chars + target_mib * 1048576 - 1) div (target_mib * 1048576)")))
      .withColumn("within_parallel",
        when(col("n_files") >= lit(MinShardFiles), 1L)
          .otherwise(0L).cast("long"))
    // global pick over the 4-row dial frame (single partition by
    // construction — the census is one aggregate row)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    j.withColumn("chosen_mib",
        coalesce(
          max(when(col("within_parallel") === 1L, col("target_mib"))).over(all),
          min(col("target_mib")).over(all)))
      .withColumn("chosen",
        when(col("target_mib") === col("chosen_mib"), 1L)
          .otherwise(0L).cast("long"))
      .select(col("target_mib"), col("n_docs"), col("total_chars"),
        col("n_files"), col("within_parallel"), col("chosen"))
  }

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

  /** ev74's lateness census narrowed to the p99 pick the watermark
    * rule consumes (same frontier construction, one percentile). The
    * quantile is the HISTOGRAM pick ([[Rank.histQuantilesByKey]]'s
    * shape): the r11 form ranked every event per type — the last
    * fact-stream sort in the chooser lane (16.0x wall at 100x data);
    * folding to per-(type, late_us) counts first bounds the sort at
    * the distinct lateness values, with bit-identical picks.
    */
  private[operators] def latenessCensus(s: SparkSession, d: String): DataFrame = {
    val wa = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .select(col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"),
        max(expr("unix_micros(ts)")).over(wa).as("frontier"))
      .withColumn("late_us", col("frontier") - col("us"))
    Rank.histQuantilesByKey(late, "event_type", col("late_us"),
        Seq(99), p => s"p${p}_us", "_max_late_us")
      .select(col("event_type"), col("n_rows").as("n_events"),
        col("p99_us"))
  }

  private[operators] def byteCensus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).agg(
      count(lit(1)).cast("long").as("n_docs"),
      // char count as the byte proxy (`length` agrees across engines;
      // a lake deployment swaps in octet_length over the raw bytes)
      sum(length(col("text"))).cast("long").as("total_chars"))

  private[operators] def skewCensus(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_keys"),
        sum(col("c")).cast("long").as("n_rows"),
        max(col("c")).cast("long").as("max_rows"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd46: band-geometry autopick ---------------------------------
    // dd45's census + the budget rule, one row per dial stop with the
    // winner flagged — the frame a deployment reads (or autoBandBits
    // collects) before setting spark.graft.emb.bandBits.
    "dd46_band_autopick" -> { (s, d) =>
      bandAutopick(Round10.bandDensityCensus(s, d), corpusCount(s, d))
        .orderBy(col("band_bits"))
    },

    // --- ev82: watermark-delay autopick --------------------------------
    // ev74 measures how late events actually arrive; ev82 turns that
    // census into the withWatermark() setting per event type — one
    // dial row per (type, stop) with the winner flagged, the frame a
    // streaming deployment reads instead of folklore-picking "10
    // minutes". All lateness windows user-partitioned (ev74's
    // construction — Spark's real watermark frontier is global, but a
    // global arrival-order window is a fact-table sort; per-user is
    // the scalable lower bound on it). The gated corpus arrives
    // in-order (p99 = 0 at every SF → the shortest stop wins
    // everywhere); the spec's synthetic censuses carry the covering
    // and overflow branches. The pick runs over a bounded |types|×4
    // frame.
    "ev82_watermark_autopick" -> { (s, d) =>
      watermarkAutopick(latenessCensus(s, d))
        .orderBy(col("event_type"), col("delay_s"))
    },

    // --- pk27: shard-size autopick --------------------------------------
    // pk07 manifests shards and pk19 prices write amplification; pk27
    // decides the target file size: largest stop that keeps the file
    // count above the parallelism floor. One aggregate over the corpus,
    // then arithmetic on a 4-row dial — the 100 TB posture is the same
    // rule with the cluster's core count as the floor.
    "pk27_shard_size_autopick" -> { (s, d) =>
      shardAutopick(byteCensus(s, d)).orderBy(col("target_mib"))
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
    })

  def oracles: Map[String, String] = Map(
    // the census CTEs are dd45's verbatim (shared constant), then the
    // budget join and the COALESCE(MIN-within, MAX) pick replay the
    // chooser literally — the hash match proves the geometry decision
    "dd46_band_autopick" ->
      s"""WITH ${Round10.duckBandCensusCtes},
         |nc AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM embeddings),
         |j AS (
         |  SELECT c.band_bits, c.candidate_pairs, nc.n_corpus,
         |    CAST(nc.n_corpus * $PairBudgetPerVec AS BIGINT) AS pair_budget,
         |    CAST(CASE WHEN c.candidate_pairs
         |      <= nc.n_corpus * $PairBudgetPerVec THEN 1 ELSE 0 END
         |      AS BIGINT) AS within_budget
         |  FROM census c CROSS JOIN nc)
         |SELECT band_bits, candidate_pairs, n_corpus, pair_budget,
         |  within_budget,
         |  CAST(CASE WHEN band_bits = COALESCE(
         |    MIN(CASE WHEN within_budget = 1 THEN band_bits END) OVER (),
         |    MAX(band_bits) OVER ()) THEN 1 ELSE 0 END
         |    AS BIGINT) AS chosen
         |FROM j ORDER BY band_bits""".stripMargin,

    // ev74's lateness CTEs verbatim (frontier / histogram-pick p99 —
    // the same per-(type, late_us) fold as the Spark side), then the
    // dial VALUES join and the per-type COALESCE(MIN-within, MAX)
    // pick replay the chooser literally
    "ev82_watermark_autopick" ->
      s"""WITH l AS (
         |  SELECT event_id, event_type,
         |    MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - epoch_us(ts) AS late_us
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
         |h AS (
         |  SELECT event_type, late_us, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM l GROUP BY 1, 2),
         |r AS (
         |  SELECT event_type, late_us,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY late_us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM h),
         |c AS (
         |  SELECT event_type, MAX(n) AS n_events,
         |    MIN(CASE WHEN cum >= (n - 1) * 99 // 100 + 1
         |      THEN late_us END) AS p99_us
         |  FROM r GROUP BY 1),
         |st AS (SELECT CAST(delay_s AS BIGINT) AS delay_s
         |  FROM (VALUES (${WatermarkDialS.mkString("),(")})) AS t(delay_s)),
         |j AS (
         |  SELECT c.event_type, st.delay_s, c.n_events, c.p99_us,
         |    CAST(CASE WHEN st.delay_s * 1000000 >= c.p99_us
         |      THEN 1 ELSE 0 END AS BIGINT) AS within_target
         |  FROM c CROSS JOIN st)
         |SELECT event_type, delay_s, n_events, p99_us, within_target,
         |  CAST(CASE WHEN delay_s = COALESCE(
         |    MIN(CASE WHEN within_target = 1 THEN delay_s END)
         |      OVER (PARTITION BY event_type),
         |    MAX(delay_s) OVER (PARTITION BY event_type))
         |    THEN 1 ELSE 0 END AS BIGINT) AS chosen
         |FROM j ORDER BY event_type, delay_s""".stripMargin,

    "pk27_shard_size_autopick" ->
      s"""WITH c AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
         |  FROM documents),
         |st AS (SELECT CAST(target_mib AS BIGINT) AS target_mib
         |  FROM (VALUES (${ShardDialMiB.mkString("),(")})) AS t(target_mib)),
         |j AS (
         |  SELECT st.target_mib, c.n_docs, c.total_chars,
         |    GREATEST(CAST(1 AS BIGINT),
         |      CAST((c.total_chars + st.target_mib * 1048576 - 1)
         |        // (st.target_mib * 1048576) AS BIGINT)) AS n_files
         |  FROM c CROSS JOIN st),
         |f AS (
         |  SELECT *, CAST(CASE WHEN n_files >= $MinShardFiles
         |    THEN 1 ELSE 0 END AS BIGINT) AS within_parallel FROM j)
         |SELECT target_mib, n_docs, total_chars, n_files, within_parallel,
         |  CAST(CASE WHEN target_mib = COALESCE(
         |    MAX(CASE WHEN within_parallel = 1 THEN target_mib END) OVER (),
         |    MIN(target_mib) OVER ()) THEN 1 ELSE 0 END AS BIGINT) AS chosen
         |FROM f ORDER BY target_mib""".stripMargin,

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
         |FROM j ORDER BY parts""".stripMargin)
}
