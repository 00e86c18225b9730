package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-4 widening: the curation/serving operators a 100 TB training
  * pipeline runs AROUND the core dedup/similarity stack.
  *
  * Scale postures follow the house rules: candidate pairs only from
  * equi-join buckets, windows always partitioned by a real key, float
  * aggregation via integer/decimal arithmetic so the DuckDB oracle
  * hash-matches, broadcast only for frames that are provably small
  * (per-dim stats, packed model rows).
  */
object Round4b extends Operators {

  /** ev27: events/user/day a client may send before throttling. */
  val RateLimit = 5

  /** dd15: directed containment threshold (A ⊆~ B). */
  val ContainT = 0.8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- tx14: lexical diversity (type-token ratio) ------------------
    // Quality signal the repetition family (tx09) doesn't capture:
    // templated/boilerplate docs have low TTR even when no single
    // token dominates. Two-level reduction — (doc, token) partial
    // counts first (map-side combine over the corpus), then a doc-
    // keyed fold. No per-group collect; every row is O(1).
    "tx14_ttr_diversity" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          Det.trunc4(col("n_types").cast("double") / col("n_tokens")).as("ttr"),
          Det.trunc4(col("n_hapax").cast("double") / col("n_types")).as("hapax_frac"))
        .orderBy(col("doc_id"))
    },

    // --- tx15: language-ID evaluation harness ------------------------
    // The eval twin of tx03 (the ss08/dd12/dd13 pattern applied to
    // text): per gold language, precision/recall of the shipped n-gram
    // guesser against the labeled `lang` column. The guesser is the
    // SAME helper tx03 executes, so the measured quality is the
    // production path's quality. zh has no marker list, so its recall
    // (0) and the unk fallback are part of the measurement, not noise.
    "tx15_langid_eval" -> { (s, d) =>
      val g = TextAnalysis.langGuessed(Tables.documents(s, d))
        .select(col("lang"), col("guessed"))
      val gold = g.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_gold"),
          sum(when(col("guessed") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
      val pred = g.groupBy(col("guessed").as("lang"))
        .agg(count(lit(1)).as("n_pred"))
      gold.join(pred, Seq("lang"), "left")
        .select(col("lang"), col("n_gold"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("n_correct"),
          when(coalesce(col("n_pred"), lit(0L)) > 0,
            Det.trunc4(col("n_correct").cast("double") / col("n_pred"))).as("precision"),
          Det.trunc4(col("n_correct").cast("double") / col("n_gold")).as("recall"))
        .orderBy(col("lang"))
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

    // --- ev27: sliding-window rate-limit census ----------------------
    // Admission-control audit: events per user over a trailing 24 h
    // RANGE window; an event beyond RateLimit in its window is
    // throttled. Partitioned by user_id — per-key sorted ranges, the
    // batch twin of a mapGroupsWithState token bucket; nothing global.
    // Census per event_type so the abuse profile is per-surface.
    "ev27_rate_limit" -> { (s, d) =>
      val win = Window.partitionBy(col("user_id")).orderBy(col("t"))
        .rangeBetween(-86399999999L, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("t"))
        .withColumn("cnt", count(lit(1)).over(win))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("cnt") > RateLimit, 1L).otherwise(0L)).as("n_throttled"),
          countDistinct(when(col("cnt") > RateLimit, col("user_id"))).as("n_users_throttled"),
          max(col("cnt")).as("max_burst"))
        .orderBy(col("event_type"))
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

    // --- ss10: int8 scalar quantization ------------------------------
    // The memory-compression path for serving ANN at 100 TB: per-dim
    // global [min, max] (one aggregation over posexploded dims — a
    // dim-sized frame), quantize each component to 8 bits, measure
    // what the index loses (per-label mean original↔reconstructed
    // cosine, worst per-component error). The per-dim stats broadcast
    // as ONE packed row; quantization stays narrow and codegen'd.
    // floor(x + 0.5) rounding, not round(): half-up in both engines,
    // no banker's-rounding divergence.
    "ss10_scalar_quant" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val packed = e.select(posexplode(col("emb")))
        .groupBy(col("pos"))
        .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
        .groupBy()
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
            x => x.getField("mn")).as("mins"),
          transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
            x => x.getField("mx")).as("maxs"))
      val recon = e.crossJoin(broadcast(packed))
        .withColumn("recon", transform(sequence(lit(0), size(col("emb")) - 1), i => {
          val v = element_at(col("emb"), i + 1)
          val mn = element_at(col("mins"), i + 1)
          val mx = element_at(col("maxs"), i + 1)
          when(mx === mn, mn).otherwise(
            mn + floor((v - mn) / (mx - mn) * lit(255) + lit(0.5)) / lit(255.0) * (mx - mn))
        }))
        .withColumn("cos", Similarity.dot(col("emb"), col("recon")) /
          (Similarity.l2norm(col("emb")) * Similarity.l2norm(col("recon"))))
        .withColumn("cos_i4", floor(col("cos") * lit(10000)).cast("long"))
        .withColumn("max_err", array_max(transform(
          sequence(lit(0), size(col("emb")) - 1),
          i => abs(element_at(col("emb"), i + 1) - element_at(col("recon"), i + 1)))))
      recon.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          Det.trunc4(sum(col("cos_i4")).cast("double") /
            (count(lit(1)) * lit(10000.0))).as("avg_recon_cos"),
          Det.trunc4(max(col("max_err"))).as("max_abs_err"))
        .orderBy(col("label"))
    },

    // --- dd15: asymmetric containment join ---------------------------
    // Subset-duplicate detection: doc A is a near-subset of doc B when
    // |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ t. Jaccard (dd02/
    // dd08) misses these — a paragraph quoted inside a long doc has
    // tiny Jaccard but containment 1.0. Candidates: each doc's
    // (|A| − ⌈t·|A|⌉ + 1)-prefix under the CANONICAL document-
    // frequency-ascending shingle order (the PPJoin ordering) joins
    // the full inverted index of the B side — prefixes pick each doc's
    // RAREST shingles, so candidate buckets are sized by rare-shingle
    // DF, not stop-shingle DF. The oracle is the plain all-directed-
    // pairs definition: the gate proves the prefix filter loses
    // nothing.
    "dd15_containment" -> { (s, d) =>
      // the shingle table feeds BOTH the DF census and the ordered
      // signature build — barrier it so the md5 pipeline runs once;
      // the ordered table is the second materialization point (it
      // backs the two candidate sides and the two verify rejoins)
      val ds = Dedup.barrier(Dedup.docShingles(s, d))
      val dfreq = ds.select(explode(col("shs")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("dfc"))
      // keyed scatter (r13 opt, dd08's fix applied to the shared
      // recipe): the per-doc collect_list + array_sort rebuild is
      // compute-bound but byte-tiny — AQE folded it to one task
      val ordered = Dedup.barrierAlso(graft.core.Par.scatterBy(ds
          .select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("h"))
          .join(dfreq, Seq("h")), col("doc_id"))
        .groupBy(col("doc_id"), col("n"))
        .agg(transform(array_sort(collect_list(struct(col("dfc"), col("h")))),
          x => x.getField("h")).as("oshs"))
        .withColumn("pfx_len",
          (col("n") - ceil(col("n") * lit(ContainT)) + 1).cast("int")))
      // keyed scatter on the element key (r13 opt): the prefix ⋈
      // inverted-index join reads co-partitioned AQE-exempt sides, so
      // the position-filter + distinct stage keeps full parallelism
      val aPfx = graft.core.Par.scatterBy(
        ordered.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
          posexplode(slice(col("oshs"), lit(1), col("pfx_len"))))
          .withColumnRenamed("col", "h").withColumnRenamed("pos", "ia"),
        col("h"))
      val bAll = graft.core.Par.scatterBy(
        ordered.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
          posexplode(col("oshs")))
          .withColumnRenamed("col", "h").withColumnRenamed("pos", "jb"),
        col("h"))
      val cand0 = aPfx.join(bAll, Seq("h"))
        .filter(col("doc_a") =!= col("doc_b"))
        // position filter, containment form: every common element sits
        // at or after the FIRST shared one in both DF-ordered
        // signatures, so a match at 0-based (ia, jb) bounds the
        // overlap by min(n_a-ia, n_b-jb); containment >= t needs
        // overlap >= ceil(t*n_a) — (4*n_a+4) div 5 exactly at t=0.8.
        // OR over a pair's matches (the distinct) is the PPJoin rule,
        // so recall is untouched; the all-pairs oracle re-proves it.
        .filter(least(col("n_a") - col("ia"), col("n_b") - col("jb"))
          >= expr("(4 * n_a + 4) div 5"))
      // verify rejoins the BARRIERED ordered frame (same element sets,
      // DF order — intersection cardinality is order-free), so the
      // shingle+DF pipeline runs exactly once per query. Keyed
      // scatters keep the per-pair intersect loop parallel (dd08's
      // r13 fix): doc_a satisfies the distinct AND the first rejoin,
      // doc_b replaces the second rejoin's exchange.
      val cand = graft.core.Par.scatterBy(cand0, col("doc_a"))
        .select(col("doc_a"), col("doc_b")).distinct()
      graft.core.Par.scatterBy(
          cand.join(ordered.select(col("doc_id").as("doc_a"), col("oshs").as("sh_a")),
            Seq("doc_a")),
          col("doc_b"))
        .join(ordered.select(col("doc_id").as("doc_b"), col("oshs").as("sh_b")), Seq("doc_b"))
        .withColumn("containment", Det.trunc4(
          graft.functions.IntersectCountExpr(col("sh_a"), col("sh_b")).cast("double") /
            size(col("sh_a"))))
        .filter(col("containment") >= ContainT)
        .select(col("doc_a"), col("doc_b"), col("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // --- pk03: padding-waste census ----------------------------------
    // Batch-shaping audit for fixed-shape training: docs bucket to the
    // next multiple of 64 tokens; waste = padded − real tokens per
    // bucket. One aggregation, map-side combinable — the dial that
    // decides between padding and pk01-style packing.
    "pk03_pad_waste" -> { (s, d) =>
      Tables.documents(s, d)
        .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("bucket", (ceil(col("n_tokens") / lit(64.0)) * 64).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .withColumn("padded", col("n_docs") * col("bucket"))
        .withColumn("waste_frac", Det.trunc4(
          (col("padded") - col("sum_tokens")).cast("double") / col("padded")))
        .orderBy(col("bucket"))
    },

    // --- ev28: q34's hourly baseline THROUGH Structured Streaming ----
    // The streaming twin SURVEY promises for the anomaly census: the
    // hourly (n, Σv, Σv²) partials computed as a windowed streaming
    // aggregation (readStream → 1h tumbling window → snapshot), gated
    // by the same DuckDB hourly definition the batch q34 consumes. In
    // production this runs under a watermark in append mode and the
    // batch join picks up finalized hours; Σv² stays decimal-exact
    // until the single final double cast.
    "ev28_stream_hourly" -> { (s, d) =>
      val dec = "decimal(38,0)"
      val agg = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .withColumn("v", floor(col("value") * lit(1000000.0)).cast("long"))
        .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_h"), sum(col("v")).as("s_h"),
          sum(col("v").cast(dec) * col("v").cast(dec)).cast("double").as("q_h"))
      graft.streaming.StreamJobs
        .runMemorySnapshot(agg, "graft_ev28_mem", "complete")
        .select(col("event_type"),
          expr("unix_micros(w.start) div 3600000000").as("hr"),
          col("n_h"), col("s_h"), col("q_h"))
        .orderBy(col("event_type"), col("hr"))
    },

    // --- tx16: inter-document gram-duplication census ----------------
    // The train-train twin of dd14's train-eval check: what fraction
    // of each doc's distinct 13-grams appear in ≥2 documents (crawl-
    // snapshot boilerplate, shared templates). Gram DF is one
    // map-side-combinable aggregation on the gram hash; the join back
    // is co-partitioned on the same key. No broadcast assumption —
    // the gram table is corpus-sized on both sides.
    "tx16_gram_dup_rate" -> { (s, d) =>
      val W = 13
      val grams = Dedup.barrier(graft.core.Tables.documents(s, d)
        .withColumn("toks", split(trim(col("text")), "\\s+"))
        .filter(size(col("toks")) >= W)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(transform(sequence(lit(0), size(col("toks")) - W),
            i => Hashing.hash64(concat_ws(" ", slice(col("toks"), i + 1, lit(W)))))))
            .as("g")))
      val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("dfc"))
      val perDoc = grams.join(dfreq, Seq("g"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("dfc") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_i4",
          floor(col("n_dup").cast("double") / col("n_grams") * lit(10000)).cast("long"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          Det.trunc4(sum(col("dup_i4")).cast("double") /
            (count(lit(1)) * lit(10000.0))).as("avg_dup_frac"),
          sum(when(col("dup_i4") >= 5000, 1L).otherwise(0L)).as("n_dupy_docs"))
        .orderBy(col("source"))
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

    // --- dd16: cross-source content-overlap matrix -------------------
    // Corpus-curation planning: for each source pair, how many
    // distinct 13-gram hashes they share, and what fraction of the
    // smaller source that is — the "does this crawl snapshot add
    // anything" census. Candidates from the (source, gram) equi-join
    // on the gram key; per-gram fanout is bounded by the source count
    // (at thousands of sources, drop grams above a source-DF cap the
    // way dd08 orders by rarity — boilerplate grams carry no signal).
    "dd16_source_overlap" -> { (s, d) =>
      val W = 13
      val sg = Dedup.barrier(graft.core.Tables.documents(s, d)
        .withColumn("toks", split(trim(col("text")), "\\s+"))
        .filter(size(col("toks")) >= W)
        .select(col("source"),
          explode(array_distinct(transform(sequence(lit(0), size(col("toks")) - W),
            i => Hashing.hash64(concat_ws(" ", slice(col("toks"), i + 1, lit(W)))))))
            .as("g"))
        .distinct())
      val totals = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      val a = sg.select(col("g"), col("source").as("source_a"))
      val b = sg.select(col("g"), col("source").as("source_b"))
      a.join(b, Seq("g"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(totals.select(col("source").as("source_a"),
          col("n_grams").as("n_a"))), Seq("source_a"))
        .join(broadcast(totals.select(col("source").as("source_b"),
          col("n_grams").as("n_b"))), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_shared"),
          Det.trunc4(col("n_shared").cast("double") /
            least(col("n_a"), col("n_b"))).as("overlap_frac"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // --- mm06: blob-store shard balance ------------------------------
    // Data-placement audit for the multimodal payload store: content-
    // addressed shard = hash(digest) mod 16, per-shard item/byte/
    // distinct-payload census. At 100 TB this is the check that the
    // CAS sharding keys spread bytes evenly (hot shards = one bad
    // hash away); the digest is computed once per payload, everything
    // else is one combinable aggregation.
    "mm06_payload_shards" -> { (s, d) =>
      Multimodal.asMedia(Tables.documents(s, d))
        .withColumn("digest", md5(col("payload")))
        .withColumn("shard", pmod(Hashing.hash64(col("digest")), lit(16L)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("byte_len")).as("total_bytes"),
          countDistinct(col("digest")).as("n_uniq_payloads"),
          max(col("byte_len")).as("max_item_bytes"))
        .orderBy(col("shard"))
    }
  )

  def oracles: Map[String, String] = Map(
    "tx14_ttr_diversity" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest(${Dedup.duckToks}) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS n_types,
         |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types,
         |  ${Det.duckTrunc("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr,
         |  ${Det.duckTrunc("CAST(n_hapax AS DOUBLE) / n_types", 4)} AS hapax_frac
         |FROM agg ORDER BY doc_id""".stripMargin,

    "tx15_langid_eval" ->
      s"""WITH g AS (
         |  ${TextAnalysis.duckGuessSql}),
         |gold AS (
         |  SELECT lang, COUNT(*) AS n_gold,
         |    CAST(SUM(CASE WHEN guessed = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM g GROUP BY lang),
         |pred AS (
         |  SELECT guessed AS lang, COUNT(*) AS n_pred FROM g GROUP BY guessed)
         |SELECT gold.lang, n_gold, COALESCE(n_pred, 0) AS n_pred, n_correct,
         |  CASE WHEN COALESCE(n_pred, 0) > 0
         |    THEN ${Det.duckTrunc("CAST(n_correct AS DOUBLE) / n_pred", 4)} END AS precision,
         |  ${Det.duckTrunc("CAST(n_correct AS DOUBLE) / n_gold", 4)} AS recall
         |FROM gold LEFT JOIN pred ON gold.lang = pred.lang
         |ORDER BY gold.lang""".stripMargin,

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

    "ev27_rate_limit" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         |w AS (
         |  SELECT user_id, event_type,
         |    COUNT(*) OVER (PARTITION BY user_id ORDER BY t
         |                   RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW) AS cnt
         |  FROM e)
         |SELECT event_type, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN cnt > $RateLimit THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled,
         |  COUNT(DISTINCT CASE WHEN cnt > $RateLimit THEN user_id END) AS n_users_throttled,
         |  CAST(MAX(cnt) AS BIGINT) AS max_burst
         |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

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

    "ss10_scalar_quant" -> {
      val reconExpr =
        """list_transform(range(len(emb)), i ->
          |    CASE WHEN maxs[i+1] = mins[i+1] THEN mins[i+1]
          |    ELSE mins[i+1] + floor((emb[i+1] - mins[i+1]) / (maxs[i+1] - mins[i+1]) * 255 + 0.5)
          |         / 255.0 * (maxs[i+1] - mins[i+1]) END)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |dims AS (
         |  SELECT i, MIN(v) AS mn, MAX(v) AS mx
         |  FROM (SELECT generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS v FROM e)
         |  GROUP BY i),
         |mm AS (
         |  SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM dims),
         |r AS (
         |  SELECT vec_id, label, emb, $reconExpr AS recon
         |  FROM e, mm),
         |scored AS (
         |  SELECT label,
         |    CAST(floor((list_sum(list_transform(range(len(emb)), i -> emb[i+1] * recon[i+1]))
         |      / (sqrt(list_sum(list_transform(emb, x -> x * x)))
         |         * sqrt(list_sum(list_transform(recon, x -> x * x))))) * 10000) AS BIGINT) AS cos_i4,
         |    list_max(list_transform(range(len(emb)), i -> abs(emb[i+1] - recon[i+1]))) AS max_err
         |  FROM r)
         |SELECT label, COUNT(*) AS n_vecs,
         |  ${Det.duckTrunc("CAST(SUM(cos_i4) AS DOUBLE) / (COUNT(*) * 10000.0)", 4)} AS avg_recon_cos,
         |  ${Det.duckTrunc("MAX(max_err)", 4)} AS max_abs_err
         |FROM scored GROUP BY label ORDER BY label""".stripMargin
    },

    // ALL-DIRECTED-PAIRS oracle (no prefix logic): proves the DF-
    // ordered prefix filter loses no containment pair
    "dd15_containment" -> {
      val contain =
        s"${Det.duckTrunc("CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) / len(a.shs)", 4)}"
      s"""WITH ds AS (
         |  SELECT doc_id, shs
         |  FROM (SELECT doc_id, ${Dedup.duckShs} AS shs FROM documents
         |        WHERE len(${Dedup.duckToks}) >= 3))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $contain AS containment
         |FROM ds a JOIN ds b ON a.doc_id != b.doc_id
         |WHERE $contain >= $ContainT
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "pk03_pad_waste" ->
      s"""WITH base AS (
         |  SELECT CAST(len(${Dedup.duckToks}) AS BIGINT) AS n_tokens FROM documents),
         |agg AS (
         |  SELECT CAST(ceil(n_tokens / 64.0) * 64 AS BIGINT) AS bucket,
         |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |  FROM base GROUP BY bucket)
         |SELECT bucket, n_docs, sum_tokens, n_docs * bucket AS padded,
         |  ${Det.duckTrunc("CAST(n_docs * bucket - sum_tokens AS DOUBLE) / (n_docs * bucket)", 4)}
         |    AS waste_frac
         |FROM agg ORDER BY bucket""".stripMargin,

    "ev28_stream_hourly" ->
      s"""SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
         |  COUNT(*) AS n_h,
         |  CAST(SUM(v) AS BIGINT) AS s_h,
         |  CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS q_h
         |FROM (SELECT event_type, ts,
         |        CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events)
         |GROUP BY event_type, hr ORDER BY event_type, hr""".stripMargin,

    "tx16_gram_dup_rate" -> {
      val g13 = graft.functions.Hashing.duckHash64("array_to_string(toks[i+1:i+13], ' ')")
      s"""WITH grams AS (
         |  SELECT doc_id, source,
         |    unnest(list_distinct(list_transform(range(len(toks) - 12), i -> $g13))) AS g
         |  FROM (SELECT doc_id, source, ${Dedup.duckToks} AS toks FROM documents)
         |  WHERE len(toks) >= 13),
         |df AS (SELECT g, COUNT(*) AS dfc FROM grams GROUP BY g),
         |perdoc AS (
         |  SELECT doc_id, source, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM grams JOIN df USING (g) GROUP BY doc_id, source),
         |scored AS (
         |  SELECT source,
         |    CAST(floor(CAST(n_dup AS DOUBLE) / n_grams * 10000) AS BIGINT) AS dup_i4
         |  FROM perdoc)
         |SELECT source, COUNT(*) AS n_docs,
         |  ${Det.duckTrunc("CAST(SUM(dup_i4) AS DOUBLE) / (COUNT(*) * 10000.0)", 4)} AS avg_dup_frac,
         |  CAST(SUM(CASE WHEN dup_i4 >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dupy_docs
         |FROM scored GROUP BY source ORDER BY source""".stripMargin
    },

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

    "dd16_source_overlap" -> {
      val g13 = graft.functions.Hashing.duckHash64("array_to_string(toks[i+1:i+13], ' ')")
      s"""WITH sg AS (
         |  SELECT DISTINCT source, g FROM (
         |    SELECT source,
         |      unnest(list_distinct(list_transform(range(len(toks) - 12), i -> $g13))) AS g
         |    FROM (SELECT source, ${Dedup.duckToks} AS toks FROM documents)
         |    WHERE len(toks) >= 13)),
         |totals AS (SELECT source, COUNT(*) AS n_grams FROM sg GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
         |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared,
         |  ${Det.duckTrunc("CAST(n_shared AS DOUBLE) / LEAST(ta.n_grams, tb.n_grams)", 4)}
         |    AS overlap_frac
         |FROM pairs JOIN totals ta ON pairs.source_a = ta.source
         |           JOIN totals tb ON pairs.source_b = tb.source
         |ORDER BY source_a, source_b""".stripMargin
    },

    "mm06_payload_shards" -> {
      val h = Hashing.duckHash64("md5(text)")
      s"""SELECT ((($h) % 16) + 16) % 16 AS shard,
         |  COUNT(*) AS n_items,
         |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
         |  COUNT(DISTINCT md5(text)) AS n_uniq_payloads,
         |  CAST(MAX(strlen(text)) AS BIGINT) AS max_item_bytes
         |FROM documents GROUP BY shard ORDER BY shard""".stripMargin
    }
  )
}
