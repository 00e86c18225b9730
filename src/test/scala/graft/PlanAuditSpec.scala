package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Plan-shape regressions: the scale-design claims in SURVEY §5 as
  * enforced assertions, not prose. Each test pins the physical-plan
  * property that makes the operator viable at 100 TB; a refactor that
  * silently reintroduces a nested loop, loses scan pushdown, or stops
  * broadcasting a dim fails here long before a cluster run would.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  private def planString(name: String): String = plan(name).toString

  private def formatted(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q02 filter and projection reach the parquet scan") {
    val s = formatted("q02_filter_project")
    assert(s.contains("PushedFilters: ["), s)
    assert(s.contains("GreaterThanOrEqual(l_shipdate"), s)
    // pruned read: none of the unused lineitem columns appear in ReadSchema
    val readSchema = s.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_suppkey"), readSchema)
  }

  test("q03 broadcasts every dimension side") {
    val s = planString("q03_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 3, s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q05 top-k plans as TakeOrderedAndProject, not a global sort") {
    val s = planString("q05_top_customers")
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("dedup family never plans a nested-loop or cartesian join") {
    Seq("dd01_exact", "dd02_ngram_jaccard", "dd03_minhash_lsh",
      "dd04_simhash", "dd05_embed_cosine", "dd07_hamming_pairs").foreach { q =>
      val s = planString(q)
      assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
        s"$q plans a pair explosion:\n$s")
    }
  }

  test("dd05 candidate join is keyed on the LSH band, not label alone") {
    // the embedding-dedup scale posture: candidates come from the
    // (label, band, band_val) equi-join — a plan keyed on label only
    // would be the within-label all-pairs quadratic
    val s = planString("dd05_embed_cosine")
    assert(s.contains("band_val"), s)
  }

  test("similarity family broadcasts the query/centroid side") {
    Seq("ss01_topk_cosine", "ss02_ann_signlsh", "ss05_knn_join").foreach { q =>
      val s = planString(q)
      assert(s.contains("BroadcastExchange"), s"$q does not broadcast:\n$s")
    }
  }

  test("q33 at cluster posture plans no single-partition ntile window") {
    // Force the big-frame path (the adaptive threshold would take the
    // local-sort plan on this test-sized frame): this pins the shape
    // the operator takes when the customer frame exceeds one task.
    spark.conf.set("spark.graft.ntile.localThreshold", "0")
    try {
      val s = planString("q33_rfm_segments")
      assert(!s.contains("ntile(5)"), s.linesIterator.take(20).mkString("\n"))
      // the scalable construction: row_number windows partitioned by the
      // ntileExact range-bucket columns (the cut points themselves are
      // driver-held literals, so approx_percentile never appears in the
      // final plan — it runs once as a scalar fetch at build time)
      assert(s.contains("row_number"), s.linesIterator.take(20).mkString("\n"))
      Seq("_b_r_score", "_b_f_score", "_b_m_score").foreach { bc =>
        assert(s.contains(bc), s"missing bucket partition column $bc")
      }
    } finally spark.conf.unset("spark.graft.ntile.localThreshold")
  }

  test("q33 below the ntile threshold takes the local-sort fast path") {
    // The adaptive switch (Rank.ntileExact): small frames skip the
    // range-bucket machinery for a one-task sort — bit-identical
    // output, ~7x less constant overhead measured at sf0.1.
    val s = planString("q33_rfm_segments")
    assert(s.contains("ntile(5)"), s.linesIterator.take(20).mkString("\n"))
    assert(!s.contains("_b_r_score"), "bucket path taken below threshold")
  }

  test("q04 gets a runtime bloom filter on its shuffled fact side at cluster posture") {
    // At cluster scale q04's semi join shuffles (lineitem is no
    // broadcast candidate) and the selective l_returnflag filter makes
    // the lineitem side a bloom creation side — Catalyst injects
    // might_contain into the orders scan, cutting the shuffle volume.
    // The thresholds are cluster-sized, so emulate the posture here:
    // broadcast off + zeroed application-side threshold. Results must
    // be invariant.
    val conf = spark.conf
    val prevEnabled = conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    val prevThresh = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB")
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val base = SparkEntry.queries("q04_order_priority")(spark, sf).collect().toSeq
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q04_order_priority")(spark, sf)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter on q04's fact side:\n$optimized")
      assert(df.collect().toSeq === base)
    } finally {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prevEnabled)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        prevThresh)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("ev15 runs the custom AsOfJoin physical operator") {
    assert(planString("ev15_asof_enrich").contains("AsOfJoin"))
  }

  test("ev17 keyed range join is an equi-join on (user, bin), no nested loop") {
    val s = planString("ev17_interval_join")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"), s)
  }

  test("hash64 rewrites to the native codegen expression plan-wide") {
    val s = planString("tx04_fingerprint")
    assert(s.contains("graft_hash64") || s.contains("Hash64"), s)
  }

  test("event filter queries push predicates to the events scan") {
    val s = formatted("ev04_filter_lists")
    assert(s.contains("PushedFilters: [") && s.contains("In(user_id"), s)
  }

  test("dd15 candidates come from the shingle equi-join over a materialized signature table") {
    val s = planString("dd15_containment")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // the DF-ordered signature table is barrier-materialized so the
    // two self-join sides don't re-run the shingle+DF pipeline
    assert(s.contains("InMemoryTableScan"), s)
  }

  test("ss10 broadcasts the packed per-dim stats row; quantization stays narrow") {
    val s = planString("ss10_scalar_quant")
    assert(s.contains("BroadcastExchange"), s)
  }

  test("ev29 enriches via a broadcast LEFT join — misses survive, dim never shuffles facts") {
    val s = planString("ev29_enrich_fallback")
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftOuter"), s)
  }

  test("dd17 occupancy audit is pure aggregation — no join anywhere in the plan") {
    val s = planString("dd17_lsh_occupancy")
    assert(!s.contains("Join"), s)
  }

  test("q37 skew windows are partitioned by event_type over the keys-sized count table") {
    val s = planString("q37_key_skew")
    assert(s.contains("windowspecdefinition(event_type"), s)
  }

  test("pk04 CDC chunking is join-free with ONE doc-keyed shuffle") {
    val s = planString("pk04_cdc_chunks")
    assert(!s.contains("Join"), s)
    // lag + running start-flag sum share one (doc_id, pos) window …
    assert(s.contains("windowspecdefinition(doc_id"), s)
    assert(s.sliding("windowspecdefinition".length).count(_ == "windowspecdefinition") <= 2, s)
    // … and the chunk rollup reuses the window's doc_id partitioning:
    // the only hash exchange in the plan is the window's own
    assert(s.sliding("hashpartitioning".length).count(_ == "hashpartitioning") === 1, s)
  }

  test("ss12 assigns codes via a broadcast-codebook equi-join on the subspace id") {
    val s = planString("ss12_pq_quantize")
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q38 merge plan is join-free two-level aggregation") {
    val s = planString("q38_incr_merge")
    assert(!s.contains("Join"), s)
    // partial level groups on (day, type); merge level on type alone
    assert(s.contains("HashAggregate"), s)
  }

  test("q34/ev27 rolling windows are partitioned by their key, never single-partition") {
    val q = planString("q34_anomaly_zscore")
    assert(q.contains("windowspecdefinition(event_type"), q)
    val e = planString("ev27_rate_limit")
    assert(e.contains("windowspecdefinition(user_id"), e)
  }

  test("tx19 rule filter is pure per-row compute — no join, no window") {
    val s = planString("tx19_rule_filter")
    assert(!s.contains("Join"), s)
    assert(!s.contains("windowspecdefinition"), s)
  }

  test("ev30 lateness replay keys its per-event window by bucket and joins on it") {
    val s = planString("ev30_watermark_fit")
    // the per-event runmax is partitioned by the arrival bucket …
    assert(s.contains("windowspecdefinition(__bkt"), s)
    // … and the prefix-max table comes back via a broadcast equi-join
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("mm07 candidates come from the phash band equi-join, never all pairs") {
    val s = planString("mm07_phash_neardup")
    assert(s.contains("band"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q41 pairs co-partition on the order key and top-K is TakeOrdered") {
    val s = planString("q41_basket_affinity")
    assert(s.contains("TakeOrderedAndProject"), s)
    // the pair self-join is an equi-join keyed on okey
    assert(s.contains("okey"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("ev31 lag window partitions by user; pk06 is join-free aggregation") {
    val e = planString("ev31_type_transitions")
    assert(e.contains("windowspecdefinition(user_id"), e)
    val p = planString("pk06_ctx_curve")
    assert(!p.contains("Join"), p)
  }

  test("ev32 windows only the bucket table; q42 scans lineitem once") {
    val e = planString("ev32_height_gaps")
    // the fact stream folds to buckets in a hash aggregate FIRST; the
    // (unavoidably global) lag window then runs on the buckets-sized
    // table — so the window must sit ABOVE the aggregate in the tree
    // (plan strings print root-first, parents before children)
    assert(e.contains("Window") && e.contains("HashAggregate"), e)
    assert(e.indexOf("Window") < e.indexOf("HashAggregate"), e)
    val q = planString("q42_revenue_bridge")
    // both periods come from ONE conditional-aggregation pass — a
    // second lineitem scan would mean the periods self-joined
    assert("Scan parquet .*lineitem".r.findAllIn(q).size === 1, q)
    assert("BroadcastHashJoin".r.findAllIn(q).size >= 2, q)
  }

  test("no operator runs an unpartitioned window over un-aggregated input") {
    // The §5 posture as one enforced invariant instead of per-query
    // review: a Window with an EMPTY partitionSpec funnels its whole
    // input through one task, so it is only admissible above an
    // Aggregate — i.e. over a group-table-sized frame (hour buckets,
    // octaves, distinct frequencies, …), never over the facts. The
    // round-5 tx21 (global row_number over the vocabulary) is exactly
    // the shape this catches. ntileExact's small-frame fast path is
    // an intentional single-task sort below an adaptive threshold;
    // zeroing the threshold audits the cluster posture.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
    // Windows over frames bounded by CONSTRUCTION rather than by an
    // aggregate — each entry names the bound:
    val boundedByConstruction = Set(
      // ss11/ss23 rank the ≤nlist(=8) centroid rows against one query
      // vector; the frame is the centroid table itself — ss30 wraps
      // ss11 and inherits exactly that window
      "ss11_ivf_nprobe_eval", "ss23_filtered_ann", "ss30_nprobe_knee")
    spark.conf.set("spark.graft.ntile.localThreshold", "0")
    try {
      SparkEntry.queries.keys.toSeq.sorted
        .filterNot(boundedByConstruction.contains).foreach { name =>
        val plan: LogicalPlan =
          SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
        plan.foreach {
          case w: LWindow if w.partitionSpec.isEmpty =>
            // admissible bounds: an Aggregate (group-table-sized frame)
            // or a Limit (≤K rows) anywhere beneath the window — also
            // when the bound hides inside an InMemoryRelation: the
            // CacheManager substitutes a cached twin (e.g. another
            // query barriered the identical aggregate frame), so the
            // Aggregate lives in the cached physical plan, not the
            // logical tree
            val bounded = w.child.collectFirst {
              case a: Aggregate => a: LogicalPlan
              case l: GlobalLimit => l
              case l: LocalLimit => l
              case m: org.apache.spark.sql.execution.columnar.InMemoryRelation
                if m.cachedPlan.toString.contains("Aggregate") => m
            }.nonEmpty
            assert(bounded,
              s"$name: unpartitioned window over un-aggregated input:\n$w")
          case _ =>
        }
      }
    } finally spark.conf.unset("spark.graft.ntile.localThreshold")
  }

  test("no operator plans an accidental cartesian / nested-loop join") {
    // intentional single-row broadcasts (query vector, global tip,
    // funnel scalars): a BroadcastNestedLoopJoin against ONE row is
    // the cheapest possible plan, not a pair explosion
    val singleRowCross = Set(
      "ss01_topk_cosine", "ss02_ann_signlsh", "ss03_ann_ivf",
      "ss06_mips_topk", "ev10_event_funnel", "ev18_lag_stats", "tx11_tfidf",
      // ev24's hour grid = 1-row bounds aggregate × distinct-types —
      // both sides are aggregate outputs, thousands of rows at any SF
      "ev24_gap_fill",
      // ss08 broadcasts the single query row like ss01/ss02
      "ss08_recall_eval",
      // dd13 crosses two 1-row count aggregates (recall × candidate
      // census); its truth arm is the intentionally-quadratic eval
      "dd13_lsh_recall",
      // q33 broadcasts the 1-row tip-date aggregate
      "q33_rfm_segments",
      // ss09 broadcasts the 1-row packed-centroids aggregate
      "ss09_kmeans_iterate",
      // ss10 broadcasts the 1-row packed per-dim [min,max] aggregate
      "ss10_scalar_quant",
      // ss11 broadcasts the single query row (like ss08) and a 3-row
      // nprobe frame (non-equi qrank <= nprobe against a constant)
      "ss11_ivf_nprobe_eval",
      // tx17 broadcasts the 1-row fixed-point weight total
      "tx17_mix_plan",
      // q39 broadcasts the 1-row max-day bound that trims the
      // phantom tail days
      "q39_rolling_mau",
      // ss13 broadcasts the single query row (like ss01/ss08)
      "ss13_rank_fusion",
      // q41 broadcasts the 1-row order-count aggregate for lift
      "q41_basket_affinity",
      // ss14 broadcasts the 1-row vector-count aggregate that turns
      // occupancy into shares
      "ss14_cell_balance",
      // pk07 broadcasts the 1-row corpus-total aggregate for shares
      "pk07_shard_manifest",
      // ev34 broadcasts the 1-row user-total aggregate for path shares
      "ev34_journey_paths",
      // ss15 broadcasts ss10's 1-row packed per-dim [min,max] aggregate
      "ss15_quant_bits_sweep",
      // dd20 broadcasts the 1-row candidate-mass total for shares
      "dd20_hot_shingles",
      // pk09 broadcasts the 1-row global-max-length aggregate
      "pk09_length_buckets",
      // tx21 broadcasts the 1-row corpus-mass total for octave shares
      "tx21_zipf_octaves",
      // ev36 broadcasts the 1-row gap-count total for octave shares
      "ev36_gap_octaves",
      // dd22 broadcasts the 1-row population + clustered-mass
      // aggregates (octave shares and the singleton row)
      "dd22_cluster_octaves",
      // ss16 broadcasts the single query row (like ss01/ss08)
      "ss16_probe_recall",
      // dd23 crosses two 1-row census aggregates (bucket × pair),
      // the dd13 pattern
      "dd23_capped_banding",
      // pk10 broadcasts the 1-row token-total aggregate for shares
      "pk10_curriculum_phases",
      // dd24 broadcasts the 1-row candidate-total aggregate for shares
      "dd24_threshold_sweep",
      // ss19 broadcasts the 10-row query panel (ss01/ss08's pattern)
      "ss19_panel_recall",
      // ss20 broadcasts the 1-row packed-centroids aggregate (ss09)
      "ss20_cluster_margin",
      // q47 broadcasts the 1-row tip-date aggregate (q33's pattern)
      "q47_order_backlog",
      // pk13 broadcasts the 1-row shard-total aggregate
      "pk13_shard_rebalance",
      // dd27 crosses two 1-row census aggregates (dd13's pattern)
      "dd27_incremental_dedup",
      // ss23 broadcasts the single query row + 3-row nprobe frame (ss11)
      "ss23_filtered_ann",
      // tx26 broadcasts the 1-row (vocab size, corpus mass) aggregate
      "tx26_topk_coverage",
      // dd28 crosses two 1-row census aggregates (dd13's pattern)
      "dd28_bloom_prefilter",
      // q50 probes 3 predicate-box rows against bounded zone-map
      // aggregates (<=256 files/layout) — non-equi by nature
      "q50_zorder_skipping",
      // dd29 crosses two 1-row corpus-total aggregates for shares
      "dd29_dedup_mix_shift",
      // ss25 broadcasts the 8-row centroid set, the 10-row panel and
      // the 3-row nprobe frame (ss11's pattern, panel-wide)
      "ss25_panel_nprobe",
      // ss26 broadcasts the 10-row panel and the 10-row threshold
      // table (the norm pass is an index-only scan against it)
      "ss26_mips_norm_prune",
      // ev56 broadcasts the 1-row global-tip aggregate (ev18's pattern)
      "ev56_partition_watermark_skew",
      // tx31 broadcasts the 1-row doc-id bounds aggregate (decile keys)
      "tx31_novelty_curve",
      // pk17 broadcasts the 1-row token-total aggregate for loads
      "pk17_worker_skew",
      // ss27 broadcasts the 10-row panel + 1-row id bounds (ss19)
      "ss27_index_staleness",
      // ev58 broadcasts the 1-row midpoint + 1-row half totals
      "ev58_value_drift_tvd",
      // q59 broadcasts the 1-row order-total aggregate for shares
      "q59_benford_census",
      // q60 probes the 16-row bitemporal cutoff grid (non-equi by
      // nature, the q50 zone-map pattern)
      "q60_bitemporal_grid",
      // ev60 broadcasts the 1-row replay + event-span aggregates
      "ev60_dedup_window_sweep",
      // ss28 broadcasts the 1-row hub-count aggregate
      "ss28_mutual_knn",
      // q63 broadcasts the 1-row row-total aggregate
      "q63_range_plan",
      // pk18 broadcasts the 1-row doc-total + expectation aggregates
      "pk18_shuffle_locality",
      // ev61 broadcasts the 1-row error-budget baseline
      "ev61_slo_burn_rate",
      // ss29 broadcasts the 1-row id-bounds aggregate
      "ss29_centroid_drift",
      // tx33 broadcasts the 1-row doc-total aggregate
      "tx33_len_quality_joint",
      // ev62 crosses two 1-row census aggregates per gap arm
      "ev62_state_store_sizing",
      // q65 crosses per-edge 1-row stats aggregates
      "q65_cardinality_error",
      // q66 broadcasts the 14-row lag frame against the day table
      "q66_daily_autocorr",
      // q67 broadcasts the 1-row day-zero aggregate
      "q67_trend_slope",
      // ss30 inherits ss11's single-query broadcasts + the 1-row
      // best-efficiency aggregate
      "ss30_nprobe_knee",
      // ss31 broadcasts the ≤10-row live panel (ss19's pattern)
      "ss31_tombstone_ghosts",
      // dd35 crosses the two |sources|-row signature aggregates
      "dd35_source_sketch",
      // q68 broadcasts the 1-row control-arm baseline
      "q68_ab_lift",
      // dd36 crosses the 1-row edge-count aggregate
      "dd36_transitivity",
      // q69 broadcasts the 1-row totals + peak aggregates
      "q69_cusum_changepoint",
      // ev67 broadcasts the 1-row qualifying-user total
      "ev67_bot_regularity",
      // pk19 broadcasts the 1-row id-bounds aggregate
      "pk19_write_amplification",
      // ss33 broadcasts the 10-row panel + 3-row dim frame (ss19)
      "ss33_matryoshka_recall",
      // q73 broadcasts the 1-row date bounds + half totals
      "q73_ks_test",
      // ev70 inherits ev61's 1-row baseline broadcast
      "ev70_alert_debounce",
      // ev71 broadcasts the 1-row traffic baseline + lift aggregate
      "ev71_overload_errors",
      // q74 broadcasts the 1-row customer-count + total aggregates
      "q74_gains_table",
      // ss34 broadcasts the single query row, the 10-row truth frame
      // and the 4-row depth frame (non-equi rk <= depth against a
      // constant-sized dial table — the ss11 nprobe pattern)
      "ss34_two_stage_recall",
      // ev75 crosses the minute-grid prefix table with the 3-row
      // delay dial before the shifted equi-join
      "ev75_join_state_model",
      // dd41 chains the census's five 1-row stat aggregates
      // (v1/v2/exact/resid/lsh counts) — every cross side is one row
      "dd41_cross_snapshot",
      // tx37 broadcasts the 1-row totals and 1-row churn aggregates
      "tx37_snapshot_drift",
      // ss35 broadcasts the bounded query panel (~n/97 rows) for the
      // intentionally-quadratic exact-truth arm (dd13's precedent)
      // and the ≤16-row centroid tables per layout
      "ss35_nlist_sweep",
      // ev76 builds ev24's hour grid (1-row bounds aggregate ×
      // distinct types) plus a 1-row n_hours broadcast
      "ev76_backlog_trajectory",
      // dd39 crosses the ≤64-row octave census with its 1-row total
      "dd39_dup_distance_octaves",
      // pk20 crosses docs and slices with the 3-row context-size dial
      "pk20_window_doc_mixing",
      // q76 crosses the two |sources|-row KMV sketch aggregates and
      // their 1-row exact counterparts (dd35's pattern)
      "q76_kmv_setops",
      // ev77 broadcasts the 1-row global [t0, t1] bounds aggregate
      "ev77_little_law",
      // q77 crosses the 1-row kept-edge and wedge-total aggregates
      "q77_triangle_doulion",
      // ss36 broadcasts the bounded query panel (ss19's pattern)
      "ss36_radius_census",
      // ss37 broadcasts the whole fixed-size embeddings table as the
      // query side — the documented quadratic eval arm (ss35/dd13)
      "ss37_hubness",
      // pk23 broadcasts the 1-row corpus-token total for shares
      "pk23_prefix_cache_yield",
      // ev78 builds ev24's hour grid (1-row bounds × distinct types)
      // plus the 1-row n_hours broadcast (ev76's pattern)
      "ev78_stage_cascade",
      // pk24 broadcasts the 1-row token-budget aggregate
      "pk24_budget_waterfill",
      // q79 broadcasts the 1-row max-day (tip) aggregate (q33)
      "q79_halflife_decay",
      // tx40 broadcasts the 1-row bigram-total aggregate
      "tx40_pmi_collocations",
      // dd43 broadcasts the 1-row exact-share aggregate every
      // sampling arm compares against
      "dd43_anchor_sampling",
      // ss38 broadcasts the K-row centroid table against the bounded
      // query panel (ss09's fitted-model pattern) + the 1-row totals
      "ss38_routing_skew",
      // ev81 broadcasts the 1-row global minute-bounds aggregate
      "ev81_fano_overdispersion",
      // dd44 broadcasts the 1-row corpus-doc-count aggregate that
      // turns document frequency into IDF octaves
      "dd44_weighted_jaccard",
      // q80 probes 4 predicate ranges against the 16-row histogram
      // (non-equi by nature — q50's zone-map pattern) and unions
      // selects off one cached 1-row actuals aggregate
      "q80_histogram_selectivity",
      // ss39 broadcasts the per-segment centroid tables and the bounded
      // query panel (ss38's pattern; the truth arm is the documented
      // quadratic eval, ss37's precedent)
      "ss39_segment_merge_recall",
      // ss40 broadcasts the fixed-size hash-ranked query panel
      // (ss19's pattern — P·n, linear in the corpus) plus the 1-row
      // n_corpus × n_panel counts aggregate for the scale-up
      "ss40_hubness_sampled",
      // dd46 crosses dd45's 3-row census with the 1-row corpus-count
      // aggregate (dd44's pattern) — never data-proportional
      "dd46_band_autopick")
    // collect every offender before failing — a single assert-per-name
    // loop would hide all offenders after the first
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(singleRowCross.contains).flatMap { name =>
        val s = built(name).physical
        if (s.contains("CartesianProduct")) Some(s"$name: cartesian")
        else if (s.contains("BroadcastNestedLoopJoin")) Some(s"$name: nested loop")
        else None
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("ev72 lake decode is join-free; the explode chain stays map-side") {
    // the ingest posture: between the encoded block documents and the
    // final census there is no join at all, and the decode (from_json
    // + triple unnest + prefix filter + envelope parse) contributes
    // ZERO exchanges — all shuffles in the plan belong to the encode
    // groupBys and the census/orderBy. At 100 TB that means lake
    // ingest parallelism is exactly file-split parallelism.
    val s = planString("ev72_lake_ingest")
    assert(!s.contains("Join"), s)
    assert("Generate explode".r.findAllIn(s).size >= 3, s)
    // budget 6 (was 5): r13 opt adds ONE deliberate round-robin
    // scatter between the encoded block documents and the from_json
    // schema walk — the walk is the query's dominant compute and
    // otherwise inherits the encode's coalesced handful of partitions
    // (2.97 -> 2.23 s at sf0.1). Still join-free; the decode chain
    // itself still contributes zero exchanges.
    assert("Exchange".r.findAllIn(s).size <= 6, s)
  }

  test("dd02/dd12 min-shingle candidates run under the hot-bucket cap") {
    // the Σ DF² guard (VERDICT r6): the kept-bucket occupancy filter
    // must sit in the plan as an aggregate-with-HAVING joined into
    // the candidate self-join — occ <= MinBucketCap visible as a
    // pushed filter on the count aggregate
    Seq("dd02_ngram_jaccard", "dd12_minhash_estimate").foreach { q =>
      val s = planString(q)
      assert(s.contains(s"<= ${graft.operators.Dedup.MinBucketCap}"),
        s"$q lost the hot-bucket occupancy cap:\n$s")
    }
  }

  test("dd38 banding planner is join-free — cost comes from occupancy folds, not pairs") {
    val s = planString("dd38_band_allocation")
    assert(!s.contains("Join"), s"dd38 must never materialize pairs:\n$s")
  }

  test("ss34 shortlist comes from TakeOrdered, truth likewise — no global sort of facts") {
    val s = planString("ss34_two_stage_recall")
    assert("TakeOrderedAndProject".r.findAllIn(s).size >= 2, s)
  }

  /** Detector for the explode-of-computed-array trap (VERDICT r8 #2).
    *
    * Exploding a COMPUTED array (the md5-shingle / minhash-signature
    * pipeline) lets InferFiltersFromGenerate push size/notnull
    * predicates on the FULL array expression below the generate; the
    * pipeline then re-evaluates per consumer or per row. Measured
    * three times before becoming this lint: dd20 (8.5→0.7 s),
    * dd33 (r7's 3.65→16.43 s regression), dd44 (10.4→3.8 s). The fix
    * is always the same shape: barrier() the (id, array) frame and
    * explode FROM the cache — so the lint asserts that below any
    * Generate, down to the nearest InMemoryRelation (the barrier), no
    * node computes a hash-array pipeline (md5/sha/crc inside a lambda
    * body, or the native minhash signature expression). A SCALAR hash
    * below a Generate is fine (evaluated once per row); only
    * array-building hash lambdas hit the re-evaluation class.
    */
  private def generateTrapOffenders(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Crc32, Expression, LambdaFunction, Md5, Sha1, Sha2}
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def hashy(e: Expression): Boolean = e.exists {
      case _: Md5 | _: Sha1 | _: Sha2 | _: Crc32 => true
      // the Hash64Rule rewrite means the shingle pipeline carries the
      // NATIVE hash expression by the time the optimizer runs — the
      // raw Md5 form never survives to the optimized plan
      case _: graft.functions.Hash64Expr => true
      case _: graft.functions.MinhashSigExpr => true
      case _ => false
    }
    def hashArrayPipeline(e: Expression): Boolean = e.exists {
      case lf: LambdaFunction => hashy(lf)
      case _: graft.functions.MinhashSigExpr => true
      case _ => false
    }
    val out = Seq.newBuilder[String]
    def below(p: LogicalPlan, g: String): Unit = p match {
      case _: InMemoryRelation => // barriered — safe by construction
      case n =>
        if (n.expressions.exists(hashArrayPipeline))
          out += s"$g sits above an unbarriered hash-array pipeline at ${n.nodeName}"
        n.children.foreach(below(_, g))
    }
    plan.foreach {
      case gen: Generate =>
        val g = s"Generate(${gen.generator.prettyName})"
        // an OUTER generate infers no filters, so an inline pipeline
        // there evaluates exactly once per row — the documented safe
        // alternative to barriering (explode_outer + notnull on the
        // generator OUTPUT; dd31 is the reference shape)
        if (!gen.outer && hashArrayPipeline(gen.generator))
          out += s"$g computes the hash-array pipeline inline"
        below(gen.child, g)
      case _ => ()
    }
    out.result()
  }

  test("no Generate sits above an unbarriered hash-array pipeline (dd20/dd33/dd44 trap)") {
    val singleConsumerBanded = Set(
      // dd41's two banded probe sides are each consumed ONCE and read
      // from the barriered shingle caches; posexplode's inferred
      // filters constant-fold on the fixed 16-slot band array, so
      // there is no re-evaluation to trap — materializing them would
      // be pure persist overhead for a single pass
      "dd41_cross_snapshot")
    // collect every offender before failing, like the cartesian sweep
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(singleConsumerBanded.contains).flatMap { name =>
      generateTrapOffenders(built(name).optimized).map(o => s"$name: $o")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the generate-trap lint fires on a deliberately de-barriered shingle explode") {
    // positive control (VERDICT r8: "fails on a deliberately
    // de-barriered dd44"): the exact dd44 head — explode of the
    // docShingles pipeline WITHOUT its barrier — must be flagged,
    // and the production dd44 head (barriered) must not be.
    import org.apache.spark.sql.functions.{col, explode}
    // a prior test's still-live barrier cache would substitute the
    // docShingles fragment with its InMemoryRelation and mask the trap
    spark.catalog.clearCache()
    val unbarriered = graft.operators.Dedup.docShingles(spark, sf)
      .select(col("doc_id"), explode(col("shs")).as("h"))
    val flagged = generateTrapOffenders(unbarriered.queryExecution.optimizedPlan)
    assert(flagged.nonEmpty,
      s"lint must flag the de-barriered dd44 head:\n${unbarriered.queryExecution.optimizedPlan.treeString}")
  }

  test("the generate-trap lint fires on an unbarriered banded-signature explode (dd27 shape)") {
    // the OTHER flavor the lint caught in round 9: a posexplode whose
    // child subtree computes the minhash signature with no cache
    // boundary between them
    spark.catalog.clearCache()
    val unbarriered = graft.operators.Dedup.bandedSignatures(spark, sf)
    assert(generateTrapOffenders(unbarriered.queryExecution.optimizedPlan).nonEmpty,
      "lint must flag the unbarriered signature banding")
  }

  test("outer generates with inline pipelines are the sanctioned safe shape") {
    // negative control: dd31's recipe — explode_outer of the computed
    // array + notnull on the generator OUTPUT — must NOT be flagged
    // (outer generates infer no filters, so nothing re-evaluates)
    import org.apache.spark.sql.functions.{col, explode_outer, size, split, trim}
    spark.catalog.clearCache()
    val docs = graft.core.Tables.documents(spark, sf)
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
    val safe = docs
      .select(col("doc_id"),
        explode_outer(graft.operators.Dedup.shingleHashes(col("toks"))).as("h"))
      .filter(col("h").isNotNull)
    val flagged = generateTrapOffenders(safe.queryExecution.optimizedPlan)
    assert(flagged.isEmpty, flagged.mkString("\n"))
  }

  test("INVENTORY-WIDE: no operator reads a fact table at full width") {
    // the closing-wave pruning audit generalized to every operator
    // (round 9): a scan that reads all columns of a fact table for a
    // narrower computation wastes IO proportional to corpus size —
    // the first thing a refactor silently loses. Dimensions
    // (region/nation/supplier/part/customer) broadcast and are
    // exempt; embeddings (3 cols) is exempt — reading all of a
    // 3-column table is legitimate.
    val factWidth = Map("orders" -> 6, "lineitem" -> 11, "events" -> 6,
      "documents" -> 5)
    val fullWidthOk = Set[String]()
    val offenders = scanWidthOffenders(factWidth, fullWidthOk)
    assert(offenders.isEmpty, offenders.distinct.mkString("\n"))
  }

  /** Top-level field count of a "ReadSchema: struct<a:t,b:struct<c:u>>"
    * line: commas at angle-bracket depth 1, plus 1. A colon count
    * over-counts nested struct fields (ADVICE r9). Empty struct<> = 0
    * (the optimal count-only scan).
    */
  private def readSchemaCols(rs: String): Int = {
    val open = rs.indexOf('<')
    val close = rs.lastIndexOf('>')
    if (open < 0 || close <= open + 1) 0
    else {
      var depth = 1
      var commas = 0
      var i = open + 1
      while (i < close) {
        rs.charAt(i) match {
          case '<' => depth += 1
          case '>' => depth -= 1
          case ',' => if (depth == 1) commas += 1
          case _ =>
        }
        i += 1
      }
      commas + 1
    }
  }

  private def scanWidthOffenders(factWidth: Map[String, Int],
      fullWidthOk: Set[String]): Seq[String] = {
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(fullWidthOk.contains).flatMap { name =>
        built(name).formatted.split("\\(\\d+\\) Scan parquet").drop(1).toSeq.flatMap { block =>
          val loc = block.linesIterator
            .find(_.trim.startsWith("Location:")).getOrElse("")
          val rs = block.linesIterator
            .find(_.trim.startsWith("ReadSchema:")).getOrElse("")
          factWidth.keys.find(t => loc.contains(s"$t.parquet")).flatMap { t =>
            // "ReadSchema: struct<>" (zero columns) is the OPTIMAL
            // count-only scan, not a violation
            val nCols = readSchemaCols(rs)
            if (rs.nonEmpty && nCols >= factWidth(t))
              Some(s"$name reads $t at $nCols/${factWidth(t)} cols")
            else None
          }
        }
      }
  }

  test("closing-wave operators prune every fact scan below full table width") {
    // column pruning is the first thing a refactor silently loses;
    // embeddings (3 cols) is exempt — reading all of a 3-column
    // table is legitimate
    val fullWidth = Map("orders" -> 6, "lineitem" -> 11, "events" -> 6,
      "documents" -> 5, "customer" -> 5)
    Seq("q70_weighted_quantiles", "q71_mad_robust", "q72_repurchase_cycle",
      "q73_ks_test", "ev69_bounce_census", "ev70_alert_debounce",
      "ev71_overload_errors", "ev72_lake_ingest", "tx32_hapax_census",
      "tx33_len_quality_joint", "tx34_code_switching", "dd37_estimator_ci",
      "pk19_write_amplification", "mm13_cascade_bytes").foreach { q =>
      val f = formatted(q)
      val scans = f.split("\\(\\d+\\) Scan parquet").drop(1)
      scans.foreach { block =>
        val loc = block.linesIterator.find(_.trim.startsWith("Location:")).getOrElse("")
        val table = fullWidth.keys.find(t => loc.contains(s"$t.parquet"))
        val rs = block.linesIterator.find(_.trim.startsWith("ReadSchema:")).getOrElse("")
        table.foreach { t =>
          val nCols = readSchemaCols(rs)
          assert(nCols > 0 && nCols < fullWidth(t),
            s"$q reads $t unpruned ($nCols/${fullWidth(t)} cols): $rs")
        }
      }
    }
  }
}
