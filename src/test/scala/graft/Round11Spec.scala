package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, CoreAnalytics, EventPipeline, Packing}

class Round11Spec extends SparkSpec {

  test("dd46 autopick: exactly one geometry chosen, flags consistent") {
    val rows = SparkEntry.queries("dd46_band_autopick")(spark, sf)
      .collect().sortBy(_.getAs[Long]("band_bits"))
    assert(rows.map(_.getAs[Long]("band_bits")).toSeq ===
      Dedup.DialBits.map(_.toLong))
    assert(rows.count(_.getAs[Long]("chosen") == 1L) === 1)
    val n = rows.head.getAs[Long]("n_corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("pair_budget") ===
        n * Dedup.PairBudgetPerVec)
      val within = r.getAs[Long]("candidate_pairs") <=
        r.getAs[Long]("pair_budget")
      assert(r.getAs[Long]("within_budget") === (if (within) 1L else 0L))
    }
    // recall-first: the chosen stop is the narrowest within budget,
    // or the widest when none fits
    val withins = rows.filter(_.getAs[Long]("within_budget") == 1L)
    val expected =
      if (withins.nonEmpty) withins.map(_.getAs[Long]("band_bits")).min
      else rows.map(_.getAs[Long]("band_bits")).max
    val chosen = rows.find(_.getAs[Long]("chosen") == 1L).get
      .getAs[Long]("band_bits")
    assert(chosen === expected)
  }

  test("dd46 at eval scale keeps the oracle default geometry (4 bits)") {
    // the budget constant is calibrated so the chooser only widens
    // when density genuinely grows — a test corpus must not flip the
    // default that every gated lap runs under
    val chosen = Dedup.bandAutopick(Dedup.bandDensityCensus(spark, sf),
        Dedup.corpusCount(spark, sf))
      .filter(col("chosen") === 1L).collect()
    assert(chosen.map(_.getAs[Long]("band_bits")).toSeq ===
      Seq(Dedup.EmbBandBits.toLong))
  }

  test("the sf10 ladder's measured census picks 16 bits (VERDICT r10 #3)") {
    // the r10 ladder: 200k vectors at 4-bit bands planned ~2x10^9
    // candidate pairs (>54 GB of sort spill, the round's real cliff);
    // 8-bit ~1.5x10^8 still exceeds 32*n = 6.4M; 16-bit fits. The
    // chooser must pick 16 from the census alone — no ladder re-run.
    import spark.implicits._
    val census = Seq(
      (4L, 3200000L, 900000L, 2000000000L),
      (8L, 25000000L, 60000L, 150000000L),
      (16L, 180000000L, 400L, 4000000L))
      .toDF("band_bits", "n_buckets", "max_occupancy", "candidate_pairs")
    val n = Seq(200000L).toDF("n_corpus")
    val picked = Dedup.bandAutopick(census, n)
      .filter(col("chosen") === 1L).collect()
    assert(picked.map(_.getAs[Long]("band_bits")).toSeq === Seq(16L))
    // and when NOTHING fits, the widest stop minimizes the overshoot
    val dense = Seq(
      (4L, 1L, 1L, 9000000000L),
      (8L, 1L, 1L, 8000000000L),
      (16L, 1L, 1L, 7000000000L))
      .toDF("band_bits", "n_buckets", "max_occupancy", "candidate_pairs")
    val picked2 = Dedup.bandAutopick(dense, n)
      .filter(col("chosen") === 1L).collect()
    assert(picked2.map(_.getAs[Long]("band_bits")).toSeq === Seq(16L))
    assert(picked2.head.getAs[Long]("within_budget") === 0L)
  }

  test("ev82 watermark autopick: per-type pick is min-covering or max stop") {
    val rows = SparkEntry.queries("ev82_watermark_autopick")(spark, sf)
      .collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    assert(byType.nonEmpty)
    byType.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("delay_s")).sorted.toSeq ===
        EventPipeline.WatermarkDialS.sorted)
      assert(rs.count(_.getAs[Long]("chosen") == 1L) === 1)
      rs.foreach { r =>
        val covers = r.getAs[Long]("delay_s") * 1000000L >=
          r.getAs[Long]("p99_us")
        assert(r.getAs[Long]("within_target") === (if (covers) 1L else 0L))
      }
      val withins = rs.filter(_.getAs[Long]("within_target") == 1L)
      val expected =
        if (withins.nonEmpty) withins.map(_.getAs[Long]("delay_s")).min
        else rs.map(_.getAs[Long]("delay_s")).max
      assert(rs.find(_.getAs[Long]("chosen") == 1L).get
        .getAs[Long]("delay_s") === expected)
    }
    // the gated corpus arrives in order: every type picks the
    // shortest stop
    val picks = EventPipeline.watermarkAutopick(EventPipeline.latenessCensus(spark, sf))
      .filter(col("chosen") === 1L).collect()
    assert(picks.nonEmpty)
    assert(picks.map(_.getAs[Long]("delay_s")).toSet ===
      Set(EventPipeline.WatermarkDialS.min))
  }

  test("ev82 rule on synthetic censuses: covering pick and the overflow flag") {
    import spark.implicits._
    // p99 of 2 minutes → 300 s is the shortest covering stop; p99 of
    // 2 hours → nothing covers, the longest stop is flagged NOT within
    val census = Seq(
      ("mint", 1000L, 120L * 1000000L),
      ("burn", 1000L, 7200L * 1000000L))
      .toDF("event_type", "n_events", "p99_us")
    val picked = EventPipeline.watermarkAutopick(census)
      .filter(col("chosen") === 1L).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("delay_s"), r.getAs[Long]("within_target"))).toMap
    assert(picked("mint") === ((300L, 1L)))
    assert(picked("burn") === ((3600L, 0L)))
  }

  test("pk27 shard autopick: largest stop above the parallelism floor") {
    import spark.implicits._
    // 100 GiB of text: every stop ≥ 64 files → largest (512 MiB) wins;
    // 1 GiB: only 64 MiB hits 16 files < 64 → nothing fits, smallest
    // stop taken and flagged
    val big = Seq((1000000L, 100L * 1024 * 1048576L))
      .toDF("n_docs", "total_chars")
    val pickedBig = Packing.shardAutopick(big)
      .filter(col("chosen") === 1L).collect()
    assert(pickedBig.map(_.getAs[Long]("target_mib")).toSeq === Seq(512L))
    assert(pickedBig.head.getAs[Long]("within_parallel") === 1L)
    val small = Seq((10000L, 1024L * 1048576L)).toDF("n_docs", "total_chars")
    val pickedSmall = Packing.shardAutopick(small)
      .filter(col("chosen") === 1L).collect()
    assert(pickedSmall.map(_.getAs[Long]("target_mib")).toSeq === Seq(64L))
    assert(pickedSmall.head.getAs[Long]("within_parallel") === 0L)
    // gated-corpus sanity: exactly one chosen, flags consistent
    val rows = SparkEntry.queries("pk27_shard_size_autopick")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("target_mib")).sorted.toSeq ===
      Packing.ShardDialMiB.sorted)
    assert(rows.count(_.getAs[Long]("chosen") == 1L) === 1)
  }

  test("q81 salt autopick: smallest salt fitting the slot budget") {
    import spark.implicits._
    // uniform type: max key 40 of 32k rows → budget 2·1k, salt 1 fits.
    // hot type: one key holds 16k of 32k rows → budget 2k, needs
    // 16k/S ≤ 2k → salt 16. pathological: one key holds ALL rows →
    // 32k/64 = 500 ≤ 2·1k fits at 64... make it tighter: n_rows 3200,
    // max 3200 → budget 2·100=200, 3200/64 = 50 ≤ 200 fits at 64.
    // Truly unfittable needs max/64 > 2·ceil(n/32), i.e. skew beyond
    // 64-way splitting: n_rows 320, max_rows 320 → budget 2·10 = 20,
    // 320/64 = 5 ≤ 20 — STILL fits (max/64 ≤ 2n/32 always when
    // max ≤ n·4 — the rule only overflows on tiny n with huge max).
    // So the overflow leg uses max_rows > n_rows·4 (a census only a
    // broken upstream produces) purely to pin the fallback branch.
    val census = Seq(
      ("uniform", 800L, 32000L, 40L),
      ("hot", 800L, 32000L, 16000L),
      ("broken", 1L, 32L, 1000L))
      .toDF("event_type", "n_keys", "n_rows", "max_rows")
    val picked = CoreAnalytics.saltAutopick(census)
      .filter(col("chosen") === 1L).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("salt"), r.getAs[Long]("within_budget"))).toMap
    assert(picked("uniform") === ((1L, 1L)))
    assert(picked("hot") === ((16L, 1L)))
    assert(picked("broken") === ((64L, 0L)))
    // gated-corpus sanity: one pick per type, flags consistent
    val rows = SparkEntry.queries("q81_salt_autopick")(spark, sf).collect()
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      assert(rs.count(_.getAs[Long]("chosen") == 1L) === 1)
      rs.foreach { r =>
        assert(r.getAs[Long]("within_budget") ===
          (if (r.getAs[Long]("salted_max") <= r.getAs[Long]("budget_rows"))
            1L else 0L))
      }
    }
  }

  test("q82 partition autopick: smallest stop covering the byte need") {
    import spark.implicits._
    // 10 GiB largest table → ceil(10240/64) = 160 partitions needed →
    // 192 is the smallest covering stop; a tiny table clamps to the
    // 32-slot floor; 40 GiB needs 640 → nothing covers, largest stop
    // flagged. 4.44 GB (the measured sf10 census) → 67 needed → 128,
    // the live pick — validated by the r12 clean A/B (128 parts
    // 215.5 s vs 192 parts 241.2 s on dd33's heavy sorts; the
    // partitionAutopick scaladoc records the negative result of the
    // 2x-overshoot variant)
    def census(bytes: Long) =
      Seq(("t", 1L, bytes)).toDF("tbl", "n_rows", "est_bytes")
    val picked = CoreAnalytics.partitionAutopick(census(10L * 1024 * 1048576))
      .filter(col("chosen") === 1L).collect()
    assert(picked.map(_.getAs[Long]("parts")).toSeq === Seq(192L))
    assert(picked.head.getAs[Long]("needed_parts") === 160L)
    val sf10 = CoreAnalytics.partitionAutopick(census(4440L * 1000 * 1000))
      .filter(col("chosen") === 1L).collect()
    assert(sf10.map(_.getAs[Long]("parts")).toSeq === Seq(128L))
    assert(sf10.head.getAs[Long]("needed_parts") === 67L)
    val small = CoreAnalytics.partitionAutopick(census(1048576L))
      .filter(col("chosen") === 1L).collect()
    assert(small.map(_.getAs[Long]("parts")).toSeq === Seq(32L))
    val giant = CoreAnalytics.partitionAutopick(census(40L * 1024 * 1048576))
      .filter(col("chosen") === 1L).collect()
    assert(giant.map(_.getAs[Long]("parts")).toSeq === Seq(256L))
    assert(giant.head.getAs[Long]("within_stop") === 0L)
    // gated corpus: every fact table is tiny → the slot floor wins
    val rows = SparkEntry.queries("q82_partition_autopick")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("parts")).sorted.toSeq ===
      CoreAnalytics.PartitionDial.sorted)
    assert(rows.count(_.getAs[Long]("chosen") == 1L) === 1)
    assert(rows.find(_.getAs[Long]("chosen") == 1L).get
      .getAs[Long]("parts") === 32L)
  }
}
