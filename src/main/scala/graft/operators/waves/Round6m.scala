package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Round-6 thirteenth wave: the stream-stream interval join promoted
  * into the oracle gate (ev49), snapshot-to-snapshot entity diff
  * (q49), top-2^k token coverage (tx26 — the tx21 interval machinery
  * answering "how big must a vocab be"), and the bloom pre-filter
  * false-positive census (dd28).
  *
  * Posture notes: ev49 runs Spark's NATIVE watermarked stream-stream
  * join (both sides bounded state) and must land on ev17's batch
  * oracle; q49 is two cutoff aggregates co-partitioned on the entity
  * key (one shuffle each, full-outer on the group tables); tx26 never
  * ranks tokens — it intersects the bounded distinct-frequency rank
  * ranges with the 2^k boundaries, so the only unpartitioned window
  * runs on the class table; dd28 is equi-joins on bloom bit positions
  * (the k·|keys| bit table), never key×key pairs.
  */
object Round6m extends Operators {

  private val Fx = 1000000L

  /** Bloom geometry for dd28: m = 2^14 bits, k = 3 seeded hashes —
    * sized so the sf0.01 corpus lands in the interesting fill range
    * (~0.3–0.5) where false positives are observable but not
    * saturated. The census is descriptive at any fill.
    */
  private val BloomBits = 1 << 14
  private val BloomK = 3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev49: watermarked stream-stream interval join -----------------
    // ev17 answers "purchases pick up same-user clicks from the prior
    // 30 minutes" as a batch binned equi-join; this runs the SAME
    // correlation through Spark's native stream-stream join
    // (StreamJobs.intervalJoin: clicks stream × purchases stream,
    // both watermarked so join state is bounded and evicted — the
    // 100 TB-viable form of cross-topic correlation). The pair stream
    // folds to ev17's exact census, so the gate proves the stateful
    // streaming join computes the batch answer. Two independent
    // readStream lineages (not a self-join) keep attribute resolution
    // unambiguous.
    "ev49_stream_interval_join" -> { (s, d) =>
      import graft.streaming.StreamJobs
      val clicks = StreamJobs.eventsFileStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("value"))
      val purchases = StreamJobs.eventsFileStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      // inclusive [c_ts, c_ts + 30 min] window on the purchase side =
      // ev17's [p_ts - 30 min, p_ts] window on the click side.
      // AvailableNow over one file: a deliberately lagging watermark
      // (1 hour) never evicts state before the single micro-batch
      // finishes, so the join is exact; on a live feed the same job
      // holds ~(bound + watermark) of state per side; ev82 reports
      // the per-type delay a live feed's lateness needs.
      val l = clicks.withWatermark("c_ts", "1 hour")
      val r = purchases.withWatermark("p_ts", "1 hour")
      val pairs = l.join(r,
        l("user_id") === r("p_user") &&
          r("p_ts") >= l("c_ts") &&
          r("p_ts") <= l("c_ts") + expr("INTERVAL 30 MINUTES"))
      // file snapshot: the pair stream grows linearly with events
      // (r13 1000x rung: event-proportional memory sinks die on
      // driver result size)
      val snap = StreamJobs.runFileSnapshot(
        pairs.select(col("event_id"), col("value")))
      snap.groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("event_id"))
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

    // --- tx26: top-2^k token coverage curve ----------------------------
    // Tokenizer vocabulary sizing reads one curve: what share of the
    // corpus token mass do the top 2^k types cover. Same scale
    // posture as tx21: tokens in a frequency class are
    // interchangeable, so the per-class rank RANGES (prefix sum over
    // the bounded distinct-frequency table) are intersected with each
    // [1, 2^k] prefix by interval arithmetic — no per-token rank, no
    // vocab-sized window, a ≤log2|V|-element sequence explode per
    // class. Ties inside a class cannot move the answer: any 2^k
    // boundary cuts a class into interchangeable (equal-freq) tokens.
    "tx26_topk_coverage" -> { (s, d) =>
      val vocab = Tables.documents(s, d)
        .select(explode_outer(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val classes = vocab.groupBy(col("freq"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val ranged = classes
        .withColumn("endr", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("freq").desc))
          .cast("long"))
        .withColumn("startr", col("endr") - col("cnt") + 1L)
      val tot = ranged.agg(
        max(col("endr")).as("v_size"),
        sum(col("cnt") * col("freq")).cast("long").as("total_mass"))
      // per class × k: mass of the class's tokens whose rank <= 2^k
      val kmax = (length(bin(col("v_size"))) - 1).cast("int")
      val curve = ranged.crossJoin(broadcast(tot))
        .select(col("freq"), col("cnt"), col("startr"), col("endr"),
          col("v_size"), col("total_mass"),
          explode(sequence(lit(0), kmax)).as("k"))
        .withColumn("cap", expr("shiftleft(cast(1 as bigint), k)"))
        .withColumn("n_in",
          greatest(least(col("endr"), col("cap")) - col("startr") + 1L, lit(0L)))
        .groupBy(col("k"), col("v_size"), col("total_mass"))
        .agg(sum(col("n_in")).cast("long").as("n_top"),
          sum(col("n_in") * col("freq")).cast("long").as("mass_top"))
      curve
        .withColumn("coverage_fx", expr(s"(mass_top * $Fx) div total_mass"))
        .select(col("k"), col("n_top"), col("mass_top"), col("coverage_fx"))
        .orderBy(col("k"))
    },

    // --- dd28: bloom pre-filter false-positive census ------------------
    // Incremental dedup at 100 TB wants a cheap membership pre-screen
    // before the exact fingerprint anti-join (dd27): a bloom filter
    // built from the corpus half admits or rejects incoming keys
    // without touching the key table. This prices that filter
    // EXACTLY, by bit-level simulation on both engines: build half
    // (even doc_id) sets k=3 seeded bit positions in an m=2^14 grid;
    // probe half's truly-novel fingerprints test all k positions, and
    // a probe finding every bit set is a measured (not estimated)
    // false positive. Everything is an equi-join on bit position —
    // the bit table is k·|keys| rows, never keys×keys.
    "dd28_bloom_prefilter" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(Hashing.hash64(col("text")).as("fp"),
          (pmod(col("doc_id"), lit(2)) === 0).as("build"))
      val buildFps = docs.filter(col("build")).select(col("fp")).distinct()
      val probeFps = docs.filter(!col("build")).select(col("fp")).distinct()
        .join(buildFps.withColumnRenamed("fp", "bfp"),
          col("fp") === col("bfp"), "left_anti")
      def bits(df: DataFrame) = df.select(col("fp"),
        explode(array((0 until BloomK).map(i =>
          pmod(Hashing.hash64Seeded(col("fp").cast("string"), i),
            lit(BloomBits.toLong))): _*)).as("bit"))
      val buildBits = bits(buildFps).select(col("bit")).distinct()
      val probeHits = bits(probeFps)
        .join(buildBits.withColumnRenamed("bit", "set_bit"),
          col("bit") === col("set_bit"), "left")
        .groupBy(col("fp"))
        .agg(sum(when(col("set_bit").isNotNull, 1).otherwise(0)).as("hits"))
      val nBuild = buildFps.agg(count(lit(1)).cast("long").as("n_build"))
      val nBits = buildBits.agg(count(lit(1)).cast("long").as("n_bits_set"))
      probeHits.agg(
        count(lit(1)).cast("long").as("n_probes"),
        coalesce(sum(when(col("hits") === BloomK, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_false_pos"))
        .crossJoin(broadcast(nBuild))
        .crossJoin(broadcast(nBits))
        .withColumn("fill_fx", expr(s"(n_bits_set * $Fx) div $BloomBits"))
        .withColumn("fp_rate_fx",
          expr(s"(n_false_pos * $Fx) div greatest(n_probes, 1)"))
        .select(col("n_build"), col("n_bits_set"), col("fill_fx"),
          col("n_probes"), col("n_false_pos"), col("fp_rate_fx"))
    })

  def oracles: Map[String, String] = Map(
    // the streaming join must land on the batch interval-join census
    "ev49_stream_interval_join" -> Curation.oracles("ev17_interval_join"),

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

    "tx26_topk_coverage" -> {
      val Fx = 1000000L
      s"""WITH v AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  WHERE tok IS NOT NULL AND tok <> '' GROUP BY tok),
         |r AS (
         |  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rnk
         |  FROM v),
         |t AS (
         |  SELECT CAST(MAX(rnk) AS BIGINT) AS v_size,
         |    CAST(SUM(freq) AS BIGINT) AS total_mass FROM r),
         |ks AS (
         |  SELECT unnest(generate_series(0,
         |    CAST(length(bin(v_size)) - 1 AS INTEGER))) AS k FROM t)
         |SELECT k,
         |  CAST(SUM(CASE WHEN rnk <= (CAST(1 AS BIGINT) << k) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_top,
         |  CAST(SUM(CASE WHEN rnk <= (CAST(1 AS BIGINT) << k) THEN freq ELSE 0 END)
         |    AS BIGINT) AS mass_top,
         |  (CAST(SUM(CASE WHEN rnk <= (CAST(1 AS BIGINT) << k) THEN freq ELSE 0 END)
         |    AS BIGINT) * $Fx) // (SELECT total_mass FROM t) AS coverage_fx
         |FROM ks CROSS JOIN r
         |GROUP BY k ORDER BY k""".stripMargin
    },

    "dd28_bloom_prefilter" -> {
      val Fx = 1000000L
      val bitExprs = (0 until BloomK).map(i =>
        s"(${Hashing.duckHash64Seeded("CAST(fp AS VARCHAR)", i)}) % $BloomBits")
      s"""WITH docs AS (
         |  SELECT ${Hashing.duckHash64("text")} AS fp,
         |    (doc_id % 2 = 0) AS build FROM documents),
         |bf AS (SELECT DISTINCT fp FROM docs WHERE build),
         |pf AS (
         |  SELECT DISTINCT fp FROM docs WHERE NOT build
         |  AND fp NOT IN (SELECT fp FROM bf)),
         |bbits AS (
         |  SELECT DISTINCT bit FROM (
         |    SELECT unnest([${bitExprs.mkString(", ")}]) AS bit FROM bf)),
         |phits AS (
         |  SELECT fp, SUM(CASE WHEN bit IN (SELECT bit FROM bbits) THEN 1 ELSE 0 END)
         |    AS hits
         |  FROM (SELECT fp, unnest([${bitExprs.mkString(", ")}]) AS bit FROM pf)
         |  GROUP BY fp)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bf) AS n_build,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bbits) AS n_bits_set,
         |  ((SELECT CAST(COUNT(*) AS BIGINT) FROM bbits) * $Fx) // $BloomBits
         |    AS fill_fx,
         |  CAST(COUNT(*) AS BIGINT) AS n_probes,
         |  CAST(COALESCE(SUM(CASE WHEN hits = $BloomK THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_false_pos,
         |  (CAST(COALESCE(SUM(CASE WHEN hits = $BloomK THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    * $Fx) // greatest(CAST(COUNT(*) AS BIGINT), 1) AS fp_rate_fx
         |FROM phits""".stripMargin
    })
}
