package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-3 coverage: deeper training-data curation (substring-level
  * dedup, cluster keeper selection, LM-frequency quality scoring,
  * overlap chunking, chunk round-trip verification, multi-probe ANN
  * re-ranking) plus changelog/lateness analytics (CDC compaction with
  * tombstones, watermark late-drop census, cohort retention,
  * histogram profiling).
  *
  * Same posture as the earlier families: candidate generation is
  * bucket equi-join (the hamming-≤2 shortlist in ss07 is enumerated
  * probe buckets, not a non-equi scan), per-row logic is codegen'd
  * `functions._` expressions, float aggregates go through
  * decimal-exact sums or pure int ratios, every query carries an
  * explicit ORDER BY for the oracle hash compare.
  */
object Round3 extends Operators {

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** dd09: duplicated-span window width (tokens). */
  val SpanW = 8

  /** pk02: context-window chunking geometry (tokens). */
  val ChunkBudget = 32L
  val ChunkStride = 24L // budget − overlap(8)

  /** ss07: sign-sketch width and hamming radius for the shortlist. */
  val SketchBits = 16
  val HammingR = 2

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd09: substring-level dedup (duplicated token spans) --------
    // The Lee-et-al-style substring dedup signal, Spark-scalable: every
    // token window of width SpanW hashes once, a window is
    // "duplicated" if it occurs in ≥2 distinct docs, and each doc
    // reports the fraction of its windows that are cross-doc
    // duplicates. Two shuffles (wh census + join back), no suffix
    // array and no pair explosion — at 100 TB the window table
    // shuffles on the hash exactly like the shingle tables in dd02.
    // Window hashing is the tx08 Karp-Rabin recipe on the token
    // domain: one md5 per TOKEN (shared by the ≤SpanW windows
    // containing it), then a codegen'd SpanW-step Horner fold per
    // window — the md5-per-window variant this replaced re-built and
    // re-digested the joined window string at EVERY token position,
    // ~SpanW× more hash bytes than the corpus itself.
    "dd09_substring_dedup" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .withColumn("toks", toks(col("text")))
        .filter(size(col("toks")) >= SpanW)
      val wins = Dedup.barrier(base
        .withColumn("ths", transform(col("toks"), t => Hashing.hash64(t)))
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("toks")) - SpanW),
            i => Hashing.krTok(col("ths"), i, SpanW))).as("wh")))
      val dup = wins.groupBy(col("wh"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select(col("wh"), lit(1).as("is_dup"))
      wins.join(dup, Seq("wh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(coalesce(col("is_dup"), lit(0))).as("n_dup_windows"))
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          Det.trunc4(col("n_dup_windows").cast("double") / col("n_windows"))
            .as("dup_frac"))
        .orderBy(col("doc_id"))
    },

    // --- dd10: cluster keeper selection (the dedup POLICY step) ------
    // dd06 finds the near-dup clusters; this picks WHO SURVIVES: the
    // longest member (ties → min doc_id) keeps, the rest drop — the
    // quality-aware keeper rule a curation pipeline applies after
    // clustering. Costs one join of the (tiny) cluster map against the
    // doc-stats table plus a per-cluster window.
    "dd10_cluster_keeper" -> { (s, d) =>
      val pairs = Dedup.queries("dd02_ngram_jaccard")(s, d)
        .select(col("doc_a"), col("doc_b"))
      val cc = Components.connectedComponents(pairs, "doc_a", "doc_b")
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy(col("comp"))
        .orderBy(col("n_chars").desc, col("node"))
      Components.detach(cc.join(docs, cc("node") === docs("doc_id"))
        .withColumn("rk", row_number().over(w))
        .groupBy(col("comp").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rk") === 1, col("node"))).as("keeper"),
          max(when(col("rk") === 1, col("n_chars"))).as("keeper_chars"))
        .orderBy(col("cluster_id")))
    },

    // --- tx12: unigram-LM frequency score (perplexity proxy) ---------
    // Two-pass corpus language model: pass 1 counts every token over
    // the whole corpus (shuffle on token), pass 2 joins the counts
    // back and scores each doc by its mean token corpus-frequency —
    // common-word prose scores high, gibberish low. Pure integer
    // sums until the final ratio, so the oracle hash-matches without
    // libm (the tx11 ln() lesson). At 100 TB the frequency table is
    // fact-sized: the join shuffles on token rather than assuming a
    // broadcastable vocabulary.
    "tx12_unigram_lm" -> { (s, d) =>
      val tok = Dedup.barrier(Tables.documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("token")))
      val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("tok_freq"))
      tok.join(freq, Seq("token"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("tok_freq")).as("sum_freq"))
        .select(col("doc_id"), col("n_toks"),
          Det.trunc4(col("sum_freq").cast("double") / col("n_toks"))
            .as("avg_tok_freq"))
        .orderBy(col("doc_id"))
    },

    // --- pk02: overlap chunking (context-window splitting) -----------
    // Docs longer than the token budget split into budget-sized chunks
    // advancing by stride (budget − overlap) — the RAG/pretraining
    // chunker that keeps overlap tokens of context across boundaries.
    // Chunk count is closed-form, chunks explode from a sequence (no
    // self-join), and each chunk's content is digest-verified. One
    // narrow pass over the corpus.
    "pk02_chunk_overlap" -> { (s, d) =>
      val b = ChunkBudget; val st = ChunkStride
      Tables.documents(s, d)
        .withColumn("toks", toks(col("text")))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("n_chunks",
          when(col("n") <= b, lit(1L))
            .otherwise(floor((col("n") - (b + 1) + st) / lit(st.toDouble)).cast("long") + 1))
        .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
        .withColumn("start", col("chunk_id") * st)
        .withColumn("chunk_toks", least(lit(b), col("n") - col("start")))
        .select(col("doc_id"), col("chunk_id"), col("chunk_toks"),
          Hashing.hash64(concat_ws(" ",
            slice(col("toks"), (col("start") + 1).cast("int"),
              col("chunk_toks").cast("int")))).as("chunk_digest"))
        .orderBy(col("doc_id"), col("chunk_id"))
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

    // --- ev25: multi-step funnel -------------------------------------
    // signup → first view AFTER signup → first purchase AFTER that
    // view, with per-step conversion rates — ev10's two-step funnel
    // generalized to ordered steps. Every stage is keyed on user
    // (co-partitioned joins); the census is one row.
    "ev25_funnel_steps" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      val vw = ev.filter(col("event_type") === "view")
        .join(su, Seq("user_id"))
        .filter(col("ts") > col("s_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(vw, Seq("user_id"))
        .filter(col("ts") > col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      su.join(vw, Seq("user_id"), "left")
        .join(pu, Seq("user_id"), "left")
        .agg(count(col("s_ts")).as("n_signup"),
          count(col("v_ts")).as("n_viewed"),
          count(col("p_ts")).as("n_purchased"))
        .select(col("n_signup"), col("n_viewed"), col("n_purchased"),
          Det.trunc4(col("n_viewed").cast("double") / col("n_signup"))
            .as("view_rate"),
          Det.trunc4(col("n_purchased").cast("double") / col("n_signup"))
            .as("purchase_rate"))
    },

    // --- ev22: CDC compaction with tombstones ------------------------
    // The compacted-topic materialization: the event stream is a
    // changelog keyed by user, the latest record per key wins
    // (ts, then event_id — the offset — breaks ties), and a tombstone
    // ('error' here) deletes the key from the compacted state. One
    // shuffle on the key + per-key window — the same shape Kafka log
    // compaction guarantees, computed declaratively.
    "ev22_cdc_upsert" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .groupBy(col("event_type").as("last_event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("last_event_type"))
    },

    // --- ev23: watermark late-drop census ----------------------------
    // The batch analog of streaming late-data rejection: per key, an
    // event arriving (offset order = event_id) with event time more
    // than 10 min behind the high-water mark of everything already
    // seen for that key is "late". Partitioned running-max window —
    // per-key watermarks shuffle on the key, nothing global.
    "ev23_late_drop" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("hwm", max(col("ts")).over(w))
        .withColumn("late",
          (col("ts") < col("hwm") - expr("INTERVAL 10 MINUTES")).cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(coalesce(col("late"), lit(0))).as("n_late"))
        .orderBy(col("event_type"))
    },

    // --- mm05: chunk reassembly round-trip ---------------------------
    // The inverse of mm03: 64-byte chunks regroup per doc in chunk
    // order and the reassembled payload must digest-equal the
    // original — the shard-reassembly verification a multimodal
    // pipeline runs after chunked transport. Ordered array_sort over
    // collected (idx, chunk) structs; ASCII corpus keeps byte and
    // char slicing identical so DuckDB mirrors it.
    "mm05_reassemble" -> { (s, d) =>
      val ascii = Tables.documents(s, d)
        .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      val re = ascii
        .withColumn("n_chunks",
          ceil(length(col("text")).cast("double") / 64.0).cast("long"))
        .withColumn("ci", explode(sequence(lit(0L), col("n_chunks") - 1)))
        .withColumn("chunk", col("text").substr((col("ci") * 64 + 1).cast("int"), lit(64)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          concat_ws("", transform(
            array_sort(collect_list(struct(col("ci"), col("chunk")))),
            x => x.getField("chunk"))).as("reassembled"))
      ascii.select(col("doc_id"), col("text"))
        .join(re, Seq("doc_id"))
        .select(col("doc_id"), col("n_chunks"),
          (md5(col("reassembled")) === md5(col("text"))).cast("int").as("ok"))
        .orderBy(col("doc_id"))
    },

    // --- ev24: time-series gap fill (densification) ------------------
    // Sparse hourly counts densify onto the full hour grid with zero
    // fill — the stats.rs-style dashboard needs every interval
    // present. The grid builds from two AGGREGATES (bounds × distinct
    // types, thousands of rows at any scale), never from the fact
    // table; facts contribute one groupBy, the grid left-joins the
    // tiny count table.
    "ev24_gap_fill" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      // ONE fact scan: bounds and the type set derive from the
      // (tiny, persisted) count table, not from re-scanning events
      val counts = Dedup.barrier(ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n_events")))
      val grid = counts.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("h"))
        .crossJoin(counts.select(col("event_type")).distinct())
      grid.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy(col("event_type"), col("h"))
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

    // --- dd11: semantic dedup clusters (star-CC under the gate) ------
    // Embedding near-dup edges (dd05's banded sign-LSH candidates +
    // exact-cosine verify — see Dedup.embCandidates) → connected
    // components via the LARGE/SMALL-STAR algorithm — this puts
    // connectedComponentsStar under the DuckDB oracle alongside dd06's
    // propagation variant. Pair generation is a (label, band,
    // band_val) equi-join, never all pairs within label; the cluster
    // census is the semantic-dedup group map a curation pipeline
    // feeds to keeper selection.
    "dd11_semantic_clusters" -> { (s, d) =>
      val pairs = Dedup.scoreCandidates(s, d, Dedup.embCandidates(s, d))
        .filter(col("cos_sim") >= Dedup.EmbThreshold)
        .select(col("vec_a"), col("vec_b"))
      Components.detach(
        Components.connectedComponentsStar(pairs, "vec_a", "vec_b")
          .groupBy(col("comp").as("cluster_id"))
          .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
          .orderBy(col("cluster_id")))
    },

    // --- dd12: MinHash estimator-quality evaluation ------------------
    // ss08's counterpart for the dedup side: over the min-shingle
    // candidate pairs, compare the k=16 MinHash Jaccard estimate
    // (fraction of agreeing signature components) against the exact
    // shingle-set Jaccard — the sketch-accuracy dial (k) gets
    // measured, not guessed. One persisted signature table, one
    // bucket self-join.
    "dd12_minhash_estimate" -> { (s, d) =>
      // shingle pipeline and exact-Jaccard arithmetic SHARED with
      // dd02 (Dedup.docShingles / Dedup.exactJaccard) — the whole
      // point is comparing the estimator against dd02's exact value,
      // so they must not drift apart
      val base = Dedup.barrier(Dedup.docShingles(s, d)
        .withColumn("sig", Dedup.minhashSig(col("shs")))
        .withColumn("bucket", array_min(col("shs"))))
      // same hot-bucket cap as dd02 (Dedup.MinBucketCap) — the two
      // share the min-shingle candidate definition, so they must
      // share its Σ DF² guard too
      val kept = Dedup.minBucketKept(base)
      val a = base.select(col("bucket"), col("doc_id").as("doc_a"),
        col("shs").as("sh_a"), col("sig").as("sig_a"))
      val b = base.select(col("bucket"), col("doc_id").as("doc_b"),
        col("shs").as("sh_b"), col("sig").as("sig_b"))
      a.join(kept, Seq("bucket")).join(b, Seq("bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("jaccard", Dedup.exactJaccard(col("sh_a"), col("sh_b")))
        .withColumn("mh_est", Det.trunc4(
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
            h => h)).cast("double") / Dedup.MinhashK))
        .select(col("doc_a"), col("doc_b"), col("jaccard"), col("mh_est"),
          Det.trunc4(abs(col("mh_est") - col("jaccard"))).as("abs_err"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // --- ss08: ANN recall evaluation ---------------------------------
    // The eval harness every ANN deployment needs: recall@10 of the
    // sign-LSH bucket search (ss02's scale path) against brute-force
    // ground truth (ss01) — measured, not guessed, and cheap enough
    // to run per index build. One scan + broadcast query row; both
    // rankings share the scored frame.
    "ss08_recall_eval" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .withColumn("bucket", Similarity.signBucket(col("emb")))
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("norm").as("q_norm"),
          col("bucket").as("q_bucket"))
      // both rankings consume scored — persist it or the scan +
      // cosine stage evaluates twice (the dd07 barrier lesson)
      val scored = Dedup.barrier(e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) /
            (col("norm") * col("q_norm")))))
      val truth = scored
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
      val approx = scored.filter(col("bucket") === col("q_bucket"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), lit(1).as("hit"))
      truth.join(approx, Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("n_truth"), col("n_hit"),
          Det.trunc4(col("n_hit").cast("double") / col("n_truth"))
            .as("recall_at_10"))
    },

    // --- ss07: multi-probe LSH shortlist + exact re-rank -------------
    // The production ANN serving shape: a 16-bit sign sketch coarse-
    // filters, the query probes every bucket within hamming ≤ 2 of its
    // own (1+16+120 = 137 enumerated buckets — an EQUI-join on the
    // bucket key, not a non-equi hamming scan), and the shortlist
    // re-ranks by exact cosine. At 100 TB the sketch is a partition
    // key: 137 partition probes instead of a full scan.
    "ss07_rerank" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .withColumn("sketch", Similarity.signBucket(col("emb"), SketchBits))
      val masks = (0 until (1 << SketchBits))
        .filter(m => Integer.bitCount(m) <= HammingR).map(_.toLong)
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("norm").as("q_norm"),
          col("sketch").as("q_sketch"))
        .withColumn("probe",
          explode(array(masks.map(m => col("q_sketch").bitwiseXOR(lit(m))): _*)))
      e.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("sketch") === col("probe"))
        .select(col("vec_id"),
          bit_count(col("sketch").bitwiseXOR(col("q_sketch"))).cast("long").as("hamming"),
          Det.trunc4(Similarity.dot(col("emb"), col("q_emb")) /
            (col("norm") * col("q_norm"))).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    }
  )

  private[operators] val duckSketch16 = (0 until SketchBits).map(i =>
    s"CASE WHEN emb[${i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END").mkString(" + ")

  def oracles: Map[String, String] = Map(
    "dd09_substring_dedup" -> {
      val whExpr = Hashing.duckKrTok("ths", "i", SpanW)
      s"""WITH base AS (
         |  SELECT doc_id,
         |    list_transform(${Dedup.duckToks}, t -> ${Hashing.duckHash64("t")}) AS ths
         |  FROM documents
         |  WHERE len(${Dedup.duckToks}) >= $SpanW),
         |w AS (
         |  SELECT doc_id, unnest(list_transform(range(len(ths) - ${SpanW - 1}),
         |    i -> $whExpr)) AS wh
         |  FROM base),
         |dup AS (
         |  SELECT wh, 1 AS is_dup FROM w GROUP BY wh
         |  HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT w.doc_id, COUNT(*) AS n_windows,
         |  CAST(SUM(COALESCE(is_dup, 0)) AS BIGINT) AS n_dup_windows,
         |  ${Det.duckTrunc("CAST(SUM(COALESCE(is_dup, 0)) AS DOUBLE) / COUNT(*)", 4)} AS dup_frac
         |FROM w LEFT JOIN dup ON w.wh = dup.wh
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
    },

    "dd10_cluster_keeper" -> {
      val dd02 = Dedup.oracles("dd02_ngram_jaccard")
      s"""WITH RECURSIVE pairs AS (
         |  SELECT doc_a, doc_b FROM ($dd02)
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b, doc_a FROM pairs
         |), walk(node, reach) AS (
         |  SELECT src, dst FROM edges UNION SELECT src, src FROM edges
         |  UNION
         |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
         |), comp AS (
         |  SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node
         |), m AS (
         |  SELECT c.cluster_id, c.node, d.n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
         |                       ORDER BY d.n_chars DESC, c.node) AS rk
         |  FROM comp c JOIN documents d ON c.node = d.doc_id)
         |SELECT cluster_id, COUNT(*) AS n_members,
         |  MAX(CASE WHEN rk = 1 THEN node END) AS keeper,
         |  MAX(CASE WHEN rk = 1 THEN n_chars END) AS keeper_chars
         |FROM m GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    },

    "tx12_unigram_lm" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${Dedup.duckToks}) AS token FROM documents),
         |freq AS (SELECT token, COUNT(*) AS tok_freq FROM tok GROUP BY token)
         |SELECT doc_id, COUNT(*) AS n_toks,
         |  ${Det.duckTrunc("CAST(SUM(tok_freq) AS DOUBLE) / COUNT(*)", 4)} AS avg_tok_freq
         |FROM tok JOIN freq USING (token)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "pk02_chunk_overlap" -> {
      val b = ChunkBudget; val st = ChunkStride
      val digest = Hashing.duckHash64(
        s"array_to_string(list_slice(toks, chunk_id * $st + 1, " +
          s"chunk_id * $st + LEAST($b, n - chunk_id * $st)), ' ')")
      s"""WITH base AS (
         |  SELECT doc_id, ${Dedup.duckToks} AS toks,
         |         len(${Dedup.duckToks}) AS n
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks, n,
         |    unnest(range(CASE WHEN n <= $b THEN 1
         |      ELSE CAST(floor((n - ${b + 1} + $st) / $st.0) AS BIGINT) + 1 END)) AS chunk_id
         |  FROM base)
         |SELECT doc_id, chunk_id,
         |  CAST(LEAST($b, n - chunk_id * $st) AS BIGINT) AS chunk_toks,
         |  $digest AS chunk_digest
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin
    },

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

    "ev25_funnel_steps" ->
      s"""WITH su AS (
         |  SELECT user_id, MIN(ts) AS s_ts FROM events
         |  WHERE event_type = 'signup' GROUP BY user_id),
         |vw AS (
         |  SELECT e.user_id, MIN(e.ts) AS v_ts
         |  FROM events e JOIN su ON e.user_id = su.user_id
         |  WHERE e.event_type = 'view' AND e.ts > su.s_ts
         |  GROUP BY e.user_id),
         |pu AS (
         |  SELECT e.user_id, MIN(e.ts) AS p_ts
         |  FROM events e JOIN vw ON e.user_id = vw.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > vw.v_ts
         |  GROUP BY e.user_id)
         |SELECT COUNT(s_ts) AS n_signup, COUNT(v_ts) AS n_viewed,
         |  COUNT(p_ts) AS n_purchased,
         |  ${Det.duckTrunc("CAST(COUNT(v_ts) AS DOUBLE) / COUNT(s_ts)", 4)} AS view_rate,
         |  ${Det.duckTrunc("CAST(COUNT(p_ts) AS DOUBLE) / COUNT(s_ts)", 4)} AS purchase_rate
         |FROM su LEFT JOIN vw ON su.user_id = vw.user_id
         |        LEFT JOIN pu ON su.user_id = pu.user_id""".stripMargin,

    "ev22_cdc_upsert" ->
      """SELECT event_type AS last_event_type, COUNT(*) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |GROUP BY event_type ORDER BY last_event_type""".stripMargin,

    "ev23_late_drop" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN hwm IS NOT NULL AND ts < hwm - INTERVAL 10 MINUTE
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |FROM (
        |  SELECT event_type, ts,
        |    MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "mm05_reassemble" ->
      """WITH a AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(text) > 0 AND NOT regexp_matches(text, '[^\x00-\x7F]')),
        |c AS (
        |  SELECT doc_id, text,
        |    unnest(range(CAST(ceil(length(text) / 64.0) AS BIGINT))) AS ci
        |  FROM a),
        |re AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks,
        |    string_agg(substr(text, CAST(ci * 64 + 1 AS INT), 64), ''
        |      ORDER BY ci) AS reassembled
        |  FROM c GROUP BY doc_id)
        |SELECT a.doc_id, n_chunks,
        |  CAST(md5(reassembled) = md5(text) AS INT) AS ok
        |FROM a JOIN re ON a.doc_id = re.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    "ev24_gap_fill" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM e),
        |grid AS (
        |  SELECT t.event_type, g.h
        |  FROM (SELECT DISTINCT event_type FROM e) t,
        |       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        |        FROM b) g),
        |c AS (SELECT event_type, h, COUNT(*) AS n_events FROM e GROUP BY 1, 2)
        |SELECT grid.event_type, grid.h,
        |  CAST(COALESCE(c.n_events, 0) AS BIGINT) AS n_events
        |FROM grid LEFT JOIN c ON grid.event_type = c.event_type AND grid.h = c.h
        |ORDER BY grid.event_type, grid.h""".stripMargin,

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

    "dd11_semantic_clusters" -> {
      s"""WITH RECURSIVE e AS (
         |  ${Dedup.duckEmbE}),
         |bands AS (
         |  ${Dedup.duckEmbBands}),
         |cand AS (
         |  ${Dedup.duckEmbCand}),
         |pairs AS (
         |  SELECT c.vec_a, c.vec_b
         |  FROM cand c JOIN e ea ON c.vec_a = ea.vec_id
         |              JOIN e eb ON c.vec_b = eb.vec_id
         |  WHERE ${Dedup.duckEmbCos} >= ${Dedup.EmbThreshold}
         |), edges AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM pairs
         |  UNION
         |  SELECT vec_b, vec_a FROM pairs
         |), walk(node, reach) AS (
         |  SELECT src, dst FROM edges UNION SELECT src, src FROM edges
         |  UNION
         |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
         |)
         |SELECT cluster_id, COUNT(*) AS n_members, MAX(node) AS max_member FROM (
         |  SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node)
         |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    },

    "dd12_minhash_estimate" -> {
      import Dedup.{A, B, MinhashK, P}
      val sigList = (0 until MinhashK).map(k =>
        s"list_min(list_transform(shs, h -> (${A(k)} * (h % 4294967296) + ${B(k)}) % $P))")
        .mkString("[", ", ", "]")
      val jac = "CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /" +
        " (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))"
      val est = "CAST(list_sum(list_transform(range(" + MinhashK + ")," +
        " i -> CASE WHEN a.sig[i+1] = b.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / " + MinhashK
      s"""WITH sh_t AS (
         |  SELECT doc_id, shs, $sigList AS sig, list_min(shs) AS bucket
         |  FROM (SELECT doc_id, ${Dedup.duckShs} AS shs FROM documents
         |        WHERE len(${Dedup.duckToks}) >= 3)),
         |kept AS (
         |  SELECT bucket FROM sh_t GROUP BY bucket
         |  HAVING COUNT(*) <= ${Dedup.MinBucketCap})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  ${Det.duckTrunc(jac, 4)} AS jaccard,
         |  ${Det.duckTrunc(est, 4)} AS mh_est,
         |  ${Det.duckTrunc(s"abs((${Det.duckTrunc(est, 4)}) - (${Det.duckTrunc(jac, 4)}))", 4)} AS abs_err
         |FROM sh_t a JOIN kept USING (bucket)
         |            JOIN sh_t b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "ss08_recall_eval" -> {
      val duckNorm = "sqrt(list_sum(list_transform(emb, x -> x * x)))"
      val duckBucket = (0 until 8).map(i =>
        s"CASE WHEN emb[${i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
      val duckCos = Det.duckTrunc(
        "list_sum(list_transform(range(len(emb)), i -> emb[i+1] * q_emb[i+1]))" +
          " / (norm * q_norm)", 4)
      s"""WITH e AS (
         |  SELECT vec_id, emb, $duckNorm AS norm,
         |    CAST($duckBucket AS BIGINT) AS bucket
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |q AS (SELECT emb AS q_emb, norm AS q_norm, bucket AS q_bucket
         |      FROM e WHERE vec_id = 0),
         |scored AS (
         |  SELECT vec_id, bucket, q_bucket, $duckCos AS cos_sim
         |  FROM e, q WHERE vec_id <> 0),
         |truth AS (SELECT vec_id FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10),
         |approx AS (SELECT vec_id, 1 AS hit FROM scored WHERE bucket = q_bucket
         |           ORDER BY cos_sim DESC, vec_id LIMIT 10)
         |SELECT COUNT(*) AS n_truth,
         |  CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
         |  ${Det.duckTrunc("CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / COUNT(*)", 4)} AS recall_at_10
         |FROM truth LEFT JOIN approx ON truth.vec_id = approx.vec_id""".stripMargin
    },

    "ss07_rerank" ->
      s"""WITH e AS (
         |  SELECT vec_id, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm,
         |    CAST($duckSketch16 AS BIGINT) AS sketch
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |q AS (SELECT emb AS q_emb, norm AS q_norm, sketch AS q_sketch
         |      FROM e WHERE vec_id = 0)
         |SELECT vec_id,
         |  CAST(bit_count(xor(sketch, q_sketch)) AS BIGINT) AS hamming,
         |  ${Det.duckTrunc(
              "list_sum(list_transform(range(len(emb)), i -> emb[i+1] * q_emb[i+1]))" +
                " / (norm * q_norm)", 4)} AS cos_sim
         |FROM e, q
         |WHERE vec_id <> 0 AND bit_count(xor(sketch, q_sketch)) <= $HammingR
         |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin
  )
}
