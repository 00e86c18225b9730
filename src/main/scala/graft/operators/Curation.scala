package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-2 coverage: training-data curation + analytics operators
  * beyond the round-1 inventory (SURVEY.md §2).
  *
  * Everything here follows the same scale posture as the round-1
  * operators: candidate generation is bucket-join (never cross join),
  * per-row logic is codegen'd `functions._` expressions, float
  * aggregates go through decimal-exact sums so the DuckDB oracle
  * hash-matches, and iterative algorithms (connected components)
  * checkpoint between rounds so lineage stays bounded.
  */
object Curation extends Operators {

  /** Token-budget sequence packing (LLM pretraining batch shaping):
    * documents are streamed per language in doc_id order, token counts
    * accumulate, and each doc is assigned to the pack its FIRST token
    * lands in — the concat-and-slice packing layout. Window cumsum =
    * one shuffle per language partition; at 100 TB the lang partition
    * key becomes (lang, shard) to bound partition width.
    */
  val PackBudget = 512L

  /** Regex scrub (PII-redaction shape): count + replace pattern hits,
    * fingerprint the redacted text so the rewrite itself is verified.
    * The gated query scrubs policy terms the corpus exercises; for
    * real PII swap the pattern for digit-run/email regexes. ONE
    * constant feeds both the Spark query and the DuckDB oracle — the
    * syntax is common to both engines, and a single definition keeps
    * them locked together.
    */
  val ScrubPattern = "\\b(customer|value)\\b"

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk01: token-budget sequence packing -------------------------
    "pk01_token_packing" -> { (s, d) =>
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(toks(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_tokens")) / lit(PackBudget)).cast("long"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
        .orderBy(col("lang"), col("pack_id"))
    },

    // --- tx09: repetition signals (Gopher-style quality filter) ------
    "tx09_repetition" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("toks"))
        .withColumn("n_tokens", size(col("toks")))
        .filter(col("n_tokens") >= 8)
        .withColumn("bigrams", transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))))
        .withColumn("dup_bigram_frac", Det.trunc4(
          lit(1.0) - size(array_distinct(col("bigrams"))).cast("double") / size(col("bigrams"))))
      base
        .select(col("doc_id"), col("n_tokens"), col("dup_bigram_frac"),
          explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("n_tokens"), col("dup_bigram_frac"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("n_tokens"), col("dup_bigram_frac"))
        .agg(max(col("c")).as("top_c"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          Det.trunc4(col("top_c") / col("n_tokens")).as("top_token_frac"),
          col("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    // --- tx10: regex scrub / redaction census ------------------------
    "tx10_regex_scrub" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_red", regexp_count(col("text"), lit(ScrubPattern)).cast("long"))
        .withColumn("red_fp",
          Hashing.hash64(regexp_replace(col("text"), ScrubPattern, "<X>")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_red") > 0, 1L).otherwise(0L)).as("n_docs_redacted"),
          sum(col("n_red")).as("n_redactions"),
          expr("bit_xor(red_fp)").as("fp_xor"))
        .orderBy(col("source"))
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

    // --- dd06: near-dup clusters (connected components) --------------
    // Candidate pairs (dd02 semantics) → undirected edges → iterative
    // min-label propagation to a fixpoint. Each round is one
    // shuffle-join + aggregate; localCheckpoint truncates lineage so
    // round N doesn't replay rounds 1..N-1. Near-dup graphs are
    // star-shaped, so convergence is O(longest chain) rounds — at
    // 100 TB this is the standard large/small-star CC with the same
    // join shape.
    "dd06_dedup_clusters" -> { (s, d) =>
      val pairs = Dedup.queries("dd02_ngram_jaccard")(s, d)
        .select(col("doc_a"), col("doc_b"))
      Components.connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy(col("comp").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
        .orderBy(col("cluster_id"))
    },

    // --- ev16: dead-letter split under the oracle --------------------
    // The reference logs-and-drops invalid events (events.rs:310-340);
    // the scalable analog routes them to a dead-letter frame. Inject a
    // deterministic corruption (every 7th event gets an illegal name
    // char) and census both sides of the split.
    "ev16_dead_letter" -> { (s, d) =>
      val ev = graft.core.Par.scatter(Tables.events(s, d))
      val logs = ev.select(EventPipeline.logLines(
        when(pmod(col("event_id"), lit(7)) === 0,
          concat(col("event_type"), lit("!"))).otherwise(col("event_type"))): _*)
      // single pass: a status column from the SAME validity predicate
      // the dead-letter split uses — a union of the two split branches
      // would re-run the whole render+parse pipeline per branch
      graft.streaming.EventStreams.extractEvents(logs)
        .withColumn("status",
          when(graft.streaming.EventStreams.isValid, "valid").otherwise("dead"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_events"), countDistinct(col("event")).as("n_names"))
        .orderBy(col("status"))
    },

    // --- ev17: interval join via binned equi-join --------------------
    // Purchases pick up all same-user clicks in the prior 30 minutes.
    // RangeJoin.binned turns the non-equi predicate into an equi-join
    // on (user_id, time-bin) — one shuffle, no nested loop.
    "ev17_interval_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"), col("value"))
      RangeJoin.binned(purchases, clicks, "ts", "start_ts", "end_ts", 1800L, Seq("user_id"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy(col("event_id"))
    },

    // --- ss04: k-means assignment step (IVF quantizer training) ------
    // Per-label centroid from decimal-exact per-dimension sums (order-
    // independent), then every vector scored against its centroid.
    // This is the E-step that trains the ss03 IVF coarse quantizer; at
    // scale the posexplode aggregation is one shuffle on (label, dim)
    // and the centroid table broadcasts.
    "ss04_kmeans_assign" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
      val dims = e.select(col("label"), posexplode(col("emb")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,10)")).cast("double") / count(lit(1))).as("c"))
      val cents = dims.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("cent"))
        .withColumn("c_norm", Similarity.l2norm(col("cent")))
      e.withColumn("norm", Similarity.l2norm(col("emb")))
        .join(broadcast(cents), Seq("label"))
        .withColumn("cos",
          Similarity.dot(col("emb"), col("cent")) / (col("norm") * col("c_norm")))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          Det.trunc4(max(col("c_norm"))).as("centroid_norm"),
          Det.trunc4(sum(col("cos").cast("decimal(18,8)")).cast("double") / count(lit(1))).as("avg_cos"))
        .orderBy(col("label"))
    },

    // --- dd08: EXACT set-similarity join via prefix filtering --------
    // Jaccard >= 0.5 pairs with NO recall loss: for J >= t, two sets
    // must share an element within each side's (|S| - ceil(t*|S|) + 1)-
    // prefix under a global element order (Chaudhuri et al. prefix
    // filter) — so candidates come from an equi-join on exploded
    // prefix elements, and the exact J filter runs only within
    // buckets. The oracle is the plain ALL-PAIRS definition: the gate
    // proves the prefix filter loses nothing. This is the principled
    // version of dd02's min-shingle heuristic (min-shingle = prefix of
    // length 1 = only exact for t = 1).
    "dd08_jaccard_prefix" -> { (s, d) =>
      val t = 0.5
      // CANONICAL document-frequency-ascending shingle order (the
      // PPJoin ordering, as in dd15): prefix filtering is exact under
      // ANY total order, but DF-ascending prefixes hold each doc's
      // RAREST shingles, so candidate buckets are sized by
      // rare-shingle DF instead of stop-shingle DF — at t = 0.5 the
      // prefix is half of every doc, and hash order would drag every
      // hot shingle into half the prefixes (Σ DF² bucket blowup)
      val ds0 = Dedup.barrier(
        Tables.documents(s, d)
          .withColumn("toks", split(trim(col("text")), "\\s+"))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"), Dedup.shingleHashes(col("toks")).as("shs")))
      val dfreq = ds0.select(explode(col("shs")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("dfc"))
      // keyed scatter (r13 opt): the DF-order rebuild — collect_list +
      // array_sort per doc — is compute-bound but byte-tiny, so AQE
      // coalesced its exchange to ONE task (Probe stage census: 1.5 s single-
      // task stage). Partitioning on doc_id (a subset of the grouping
      // keys) replaces the same exchange with an AQE-exempt count.
      val ds = Dedup.barrierAlso(graft.core.Par.scatterBy(ds0
          .select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("h"))
          .join(dfreq, Seq("h")), col("doc_id"))
        .groupBy(col("doc_id"), col("n"))
        .agg(transform(array_sort(collect_list(struct(col("dfc"), col("h")))),
          x => x.getField("h")).as("shs"))
        .withColumn("pfx_len", (col("n") - ceil(col("n") * t) + 1).cast("int")))
      // SLIM prefix join: only (p, doc_id, n) travels through the
      // candidate shuffle — carrying the full shingle arrays here
      // multiplied the shuffle by the doc size (measured 20 s → ~3 s
      // at sf0.1); the arrays rejoin from the barriered signature
      // table only for the surviving candidate id pairs
      // keyed scatter on the prefix-element key (r13 opt): the
      // candidate self-join's exchanges are byte-tiny → AQE folded the
      // position-filter + distinct stage to one task (Probe stage census:
      // 1.1 s). Both join sides derive from this frame, so one keyed
      // scatter co-partitions the self-join at full parallelism with
      // NO join-side exchanges (2 exchanges → 1 here).
      val pfx = graft.core.Par.scatterBy(
        ds.select(col("doc_id"), col("n"),
          posexplode(slice(col("shs"), lit(1), col("pfx_len"))))
          .withColumnRenamed("col", "p").withColumnRenamed("pos", "i"),
        col("p"))
      val a = pfx.select(col("p"), col("doc_id").as("doc_a"),
        col("n").as("n_a"), col("i").as("ia"))
      val b = pfx.select(col("p"), col("doc_id").as("doc_b"),
        col("n").as("n_b"), col("i").as("ib"))
      val cand0 = a.join(b, Seq("p"))
        .filter(col("doc_a") < col("doc_b"))
        // length-ratio pruning (implied by J >= t, so lossless)
        .filter(col("n_a") >= col("n_b") * t && col("n_b") >= col("n_a") * t)
        // PPJoin position filter (Xiao et al.): a match at 0-based
        // DF-order positions (ia, ib) bounds the overlap by
        // 1 + min(n_a-1-ia, n_b-1-ib) — elements common to both sets
        // sit at or after the first shared prefix element in BOTH
        // sorted signatures. J >= t needs overlap >=
        // ceil(t/(1+t)·(n_a+n_b)) = ceil((n_a+n_b)/3) at t = 0.5, in
        // exact integer form below. A pair survives if ANY of its
        // prefix matches passes (OR over matches = the distinct),
        // which is the paper's rule, so recall is untouched — the
        // all-pairs oracle re-proves it. Cuts verified candidates
        // ~2.5x (310k → 125k at sf0.1); candidate volume IS the
        // shuffle, so the cut compounds at scale.
        .filter(lit(1) + least(col("n_a") - 1 - col("ia"), col("n_b") - 1 - col("ib"))
          >= expr("(n_a + n_b + 2) div 3"))
      // keyed scatters through the verify (r13 opt): doc_a partitioning
      // satisfies BOTH the pair distinct and the first array rejoin
      // (subset of each key set), and the doc_b scatter replaces the
      // second rejoin's exchange — so the per-pair IntersectCountExpr
      // loop (the verify's real compute) keeps full parallelism
      // instead of the one task AQE's byte-sized coalescing left it
      val cand = graft.core.Par.scatterBy(cand0, col("doc_a"))
        .select(col("doc_a"), col("doc_b")).distinct()
      graft.core.Par.scatterBy(
          cand.join(ds.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")),
            Seq("doc_a")),
          col("doc_b"))
        .join(ds.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")), Seq("doc_b"))
        .withColumn("n_common", graft.functions.IntersectCountExpr(col("sh_a"), col("sh_b")))
        .withColumn("jaccard", Det.trunc4(
          col("n_common").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("n_common"))))
        .filter(col("jaccard") >= t)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // --- dd07: SimHash hamming pairs via band bucketing --------------
    // Near-dup pairs with hamming(simhash) <= 3 — candidates from 4
    // disjoint 15-bit bands of the 60-bit simhash. With all 60 bits
    // covered by 4 disjoint bands, pigeonhole makes the cover EXACT
    // for this layout: <= 3 flipped bits across 4 bands always leave
    // at least one band clean, so every distance-<=3 pair shares a
    // band and the candidate set is complete (banding only becomes a
    // recall/cost dial when the threshold reaches the band count).
    // Band width is the SCALE dial: 2^15 bucket values per band keeps
    // bucket occupancy ~n/32768, where the 6-bit layout this replaced
    // degenerated to n/64-sized buckets (candidate pairs O(n²/64) —
    // a near cross join at corpus scale). The oracle mirrors the same
    // banding so the gate checks this construction, not a different
    // one.
    "dd07_hamming_pairs" -> { (s, d) =>
      // barrier-materialize the signature table: without it BOTH sides
      // of the self-join recompute the full tokenize+md5 simhash
      // pipeline (the round-1 dd02 lesson applied here)
      // Hot-bucket cap + star fallback (VERDICT r7): a near-constant
      // 15-bit band value (or a corpus-scale dup cluster — measured
      // 1,582 docs in one bucket at sf0.1) would make the self-join
      // pay Σ occ² pairs in ONE bucket. Buckets over SimhashBucketCap
      // degrade to O(occ) hub probing instead of all-pairs, on both
      // engine sides (Dedup.simhashCandidatePairs; dd40 prices the
      // recall cost of the cap sweep).
      val banded = Dedup.barrier(Dedup.simhashBanded(s, d))
      Dedup.simhashCandidatePairs(banded)
        .withColumn("hamming",
          expr("bit_count(sh_a ^ sh_b)").cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // --- ss05: batched k-NN join (the ANN serving shape) -------------
    // A SET of query vectors (vec_id < 10) each probes its own
    // sign-LSH bucket for top-3 neighbors: broadcast the query set,
    // bucket equi-join (never cross join), rank within query. Ranking
    // uses the TRUNCATED cosine so the order is engine-proof.
    "ss05_knn_join" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .withColumn("bucket", Similarity.signBucket(col("emb")))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"), col("bucket"))
      val byQuery = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      e.filter(col("vec_id") >= 10)
        .join(broadcast(qs), Seq("bucket"))
        .withColumn("cos_sim", Det.trunc4(
          Similarity.dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))))
        .withColumn("rank", row_number().over(byQuery).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("vec_id"), col("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    },

    // --- tx11: TF-IDF-style term scoring -----------------------------
    // Top-3 terms per document by tf·idf. The idf is the BM25-style
    // RATIONAL form (N - df + 0.5)/(df + 0.5): pure arithmetic, so
    // both engines compute bit-identical doubles (ln() differs in the
    // last ulp across libm implementations and would flake the gate).
    "tx11_tfidf" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // N as a broadcast scalar frame, not an eager driver count():
      // an eager count would re-scan the corpus at every invocation
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n"))
      // tf is MATERIALIZED: df aggregates a column-pruned (distinct
      // doc,tok) twin of tf, so the two subplans are not canonically
      // equal and AQE stage reuse cannot dedupe them — unbarriered,
      // the scan+explode+shuffle pipeline runs twice (measured 1.24 s
      // quiet at sf0.1; the r7 artifact's 0.79 s shape)
      val tf = Dedup.barrier(
        docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val byDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok"))
      tf.join(df, Seq("tok"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score", Det.trunc4(
          col("tf") * (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("rank", row_number().over(byDoc).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("tok"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // --- ss06: maximum-inner-product top-k (retrieval scoring) -------
    // Same scan+broadcast shape as ss01 but scored by raw dot product
    // — the MIPS objective retrieval rankers use (cosine normalizes
    // away magnitude; MIPS keeps it).
    "ss06_mips_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
      val q = e.filter(col("vec_id") === 0).select(col("emb").as("q_emb"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("dot", Det.trunc4(Similarity.dot(col("emb"), col("q_emb"))))
        .select(col("vec_id"), col("label"), col("dot"))
        .orderBy(col("dot").desc, col("vec_id"))
        .limit(10)
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

    // --- ev20: NEP-171 array flatten under the oracle ----------------
    // try_flatten_nep171_event (event_types.rs:42-66): a mint carrying
    // an ARRAY of token payloads explodes to one flat event per token.
    // Mint logs are rendered deterministically from events rows so the
    // oracle can mirror the flattening arithmetic.
    "ev20_nep171_flatten" -> { (s, d) =>
      val ev = graft.core.Par.scatter(Tables.events(s, d))
        .filter(col("event_type") === "purchase")
      val logs = ev.select(
        concat(
          lit("EVENT_JSON:{\"standard\":\"nep171\",\"version\":\"1.0.0\",\"event\":\"nft_mint\",\"data\":[{\"owner_id\":\"u"),
          col("user_id"),
          lit("\",\"token_ids\":[\"t"), col("event_id"),
          lit("a\",\"t"), col("event_id"), lit("b\"]}]}")).as("log"),
        concat(lit("r"), col("event_id")).as("receipt_id"),
        col("ts").cast("long").as("block_timestamp"),
        col("event_id").as("block_height"),
        pmod(col("user_id"), lit(4)).as("shard_id"),
        concat(lit("c"), col("user_id")).as("contract_account_id"))
      val flat = graft.streaming.EventStreams.flattenNep171(
        graft.streaming.EventStreams.validated(
          graft.streaming.EventStreams.extractEvents(logs)))
      flat.groupBy(col("owner_id"))
        .agg(count(lit(1)).as("n_tokens"), min(col("token_id")).as("min_token"))
        .orderBy(col("owner_id"))
    },

    // --- ev21: streaming dedup-by-key (dropDuplicatesWithinWatermark)
    // The reference keys every Kafka record by contract; repeated
    // deliveries collapse. Run through the streaming engine, then
    // census the surviving keys (representative rows are arbitrary,
    // the KEY SET is deterministic and oracle-checkable).
    "ev21_stream_dedup" -> { (s, d) =>
      // the oracle states a GLOBAL distinct contract, so the watermark
      // must exceed the corpus's event-time span — otherwise a
      // multi-batch read (multiple files / maxFilesPerTrigger) would
      // evict dedup state mid-stream and late duplicates would
      // survive. 10 years >> any test corpus; at production scale
      // pick the real dedup horizon instead.
      val dedup = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
      // file snapshot, not memory: the deduped stream is EVENT-
      // proportional, and the r13 1000x rung proved that class of
      // memory sink dies on driver result size (ev47 at 100M events)
      graft.streaming.StreamJobs
        .runFileSnapshot(dedup)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"))
        .orderBy(col("event_type"))
    },

    // --- mm04: stride downsampling (resize stub) ---------------------
    // The deterministic stand-in for a resize/downsample codec: keep
    // every 4th byte. A real codec drops into the same slot (per-item
    // transform over the payload, digest-verified output); the gated
    // query uses the ASCII corpus so byte and char stride agree and
    // DuckDB can mirror the transform exactly.
    "mm04_resize_stride" -> { (s, d) =>
      val stride = 4
      val ascii = Tables.documents(s, d)
        .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      ascii
        .withColumn("resized", array_join(
          transform(
            sequence(lit(0L), ceil(length(col("text")) / lit(stride.toDouble)).cast("long") - 1),
            i => col("text").substr((i * stride + 1).cast("int"), lit(1))), ""))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(length(col("resized"))).as("total_resized_chars"),
          min(md5(col("resized"))).as("min_digest"))
        .orderBy(col("source"))
    },

    // --- mm03: binary chunking (frame-sample plumbing) ---------------
    // Fixed-size chunk split over opaque binary payloads — the shape of
    // frame sampling / shard-chunk upload. Chunk slicing happens on the
    // binary column (no string round-trip); digests verify the slices.
    "mm03_chunk_digest" -> { (s, d) =>
      val ascii = Tables.documents(s, d)
        .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      Multimodal.asMedia(ascii)
        .withColumn("n_chunks", ceil(col("byte_len").cast("double") / 64.0).cast("long"))
        .withColumn("ci", explode(sequence(lit(0L), col("n_chunks") - 1)))
        .withColumn("digest",
          md5(col("payload").substr((col("ci") * 64 + 1).cast("int"), lit(64))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("digest")).as("n_uniq_chunks"),
          min(col("digest")).as("min_digest"))
        .orderBy(col("source"))
    }
  )

  private val duckToks = """string_split_regex(trim(text), '\s+')"""

  def oracles: Map[String, String] = Map(
    "pk01_token_packing" ->
      s"""SELECT lang, CAST(floor((cum - n_tokens) / $PackBudget) AS BIGINT) AS pack_id,
         | COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
         |FROM (
         |  SELECT lang, doc_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM (SELECT lang, doc_id, len($duckToks) AS n_tokens FROM documents))
         |GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin,

    "tx09_repetition" ->
      s"""SELECT doc_id, n_tokens,
         | floor((top_c / n_tokens) * 10000) / 10000 AS top_token_frac,
         | dup_bigram_frac
         |FROM (
         |  SELECT doc_id, n_tokens, dup_bigram_frac, MAX(c) AS top_c FROM (
         |    SELECT doc_id, n_tokens, dup_bigram_frac, tok, COUNT(*) AS c FROM (
         |      SELECT doc_id, n_tokens,
         |        floor((1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)) * 10000) / 10000 AS dup_bigram_frac,
         |        unnest(toks) AS tok
         |      FROM (
         |        SELECT doc_id, toks, len(toks) AS n_tokens,
         |          list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2]) AS bigrams
         |        FROM (SELECT doc_id, $duckToks AS toks FROM documents)
         |        WHERE len(toks) >= 8))
         |    GROUP BY doc_id, n_tokens, dup_bigram_frac, tok)
         |  GROUP BY doc_id, n_tokens, dup_bigram_frac)
         |ORDER BY doc_id""".stripMargin,

    "tx10_regex_scrub" ->
      s"""SELECT source, COUNT(*) AS n_docs,
         | CAST(SUM(CASE WHEN n_red > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_redacted,
         | CAST(SUM(n_red) AS BIGINT) AS n_redactions,
         | bit_xor(red_fp) AS fp_xor
         |FROM (
         |  SELECT source,
         |    len(regexp_extract_all(text, '$ScrubPattern')) AS n_red,
         |    ${Hashing.duckHash64(s"regexp_replace(text, '$ScrubPattern', '<X>', 'g')")} AS red_fp
         |  FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin,

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

    "dd06_dedup_clusters" -> {
      // pairs = the dd02 oracle (same candidate + threshold semantics)
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
         |)
         |SELECT cluster_id, COUNT(*) AS n_members, MAX(node) AS max_member FROM (
         |  SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node)
         |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    },

    "ev16_dead_letter" ->
      """SELECT status, COUNT(*) AS n_events, COUNT(DISTINCT name) AS n_names FROM (
        |  SELECT CASE WHEN event_id % 7 = 0 THEN 'dead' ELSE 'valid' END AS status,
        |         CASE WHEN event_id % 7 = 0 THEN event_type || '!' ELSE event_type END AS name
        |  FROM events)
        |GROUP BY status ORDER BY status""".stripMargin,

    "ev17_interval_join" ->
      """SELECT p.event_id, COUNT(*) AS n_overlaps,
        | CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, ts AS start_ts, ts + INTERVAL 30 MINUTE AS end_ts, value
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.start_ts AND p.ts <= c.end_ts
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,

    "ss04_kmeans_assign" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |dims AS (
        |  SELECT label, i, CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
        |  FROM (SELECT label, generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS v FROM e)
        |  GROUP BY label, i),
        |cents AS (
        |  SELECT label, list(c ORDER BY i) AS cent FROM dims GROUP BY label),
        |cn AS (
        |  SELECT label, cent, sqrt(list_sum(list_transform(cent, x -> x * x))) AS c_norm
        |  FROM cents),
        |j AS (
        |  SELECT e.label, cn.c_norm,
        |    list_sum(list_transform(range(len(e.emb)), i -> e.emb[i+1] * cn.cent[i+1]))
        |      / (sqrt(list_sum(list_transform(e.emb, x -> x * x))) * cn.c_norm) AS cos
        |  FROM e JOIN cn ON e.label = cn.label)
        |SELECT label, COUNT(*) AS n_vecs,
        |  floor(MAX(c_norm) * 10000) / 10000 AS centroid_norm,
        |  floor((CAST(SUM(CAST(cos AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*)) * 10000) / 10000 AS avg_cos
        |FROM j GROUP BY label ORDER BY label""".stripMargin,

    // ALL-PAIRS oracle (no candidate logic): proves the prefix filter
    // + length pruning lose nothing
    "dd08_jaccard_prefix" -> {
      val jac =
        """floor((CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
          |        (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))) * 10000) / 10000""".stripMargin
      s"""WITH ds AS (
         |  SELECT doc_id, shs
         |  FROM (SELECT doc_id, ${Dedup.duckShs} AS shs FROM documents
         |        WHERE len(${Dedup.duckToks}) >= 3))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jac AS jaccard
         |FROM ds a JOIN ds b ON a.doc_id < b.doc_id
         |WHERE $jac >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "dd07_hamming_pairs" -> {
      val dd04 = Dedup.oracles("dd04_simhash")
      s"""WITH sims AS ($dd04),
         |banded AS (
         |  SELECT doc_id, simhash, b AS band,
         |    (simhash >> (b * ${Dedup.SimhashBandBits})) & ${Dedup.SimhashBandMask} AS bval
         |  FROM sims CROSS JOIN (SELECT unnest(range(${Dedup.SimhashBands})) AS b) t),
         |${Dedup.duckSimhashPairCtes("banded")}
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
         |FROM banded_pairs
         |WHERE bit_count(xor(sh_a, sh_b)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "ss05_knn_join" -> {
      val duckBucket = (0 until 8).map(i =>
        s"CASE WHEN emb[${i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm,
         |    CAST($duckBucket AS BIGINT) AS bucket
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
         |qs AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm, bucket
         |       FROM e WHERE vec_id < 10),
         |j AS (
         |  SELECT qs.q_id, e.vec_id,
         |    floor((list_sum(list_transform(range(len(e.emb)),
         |            i -> e.emb[i+1] * qs.q_emb[i+1])) / (e.norm * qs.q_norm)) * 10000) / 10000 AS cos_sim
         |  FROM e JOIN qs ON e.bucket = qs.bucket WHERE e.vec_id >= 10)
         |SELECT q_id, rank, vec_id, cos_sim FROM (
         |  SELECT q_id, vec_id, cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
         |  FROM j) WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
    },

    "tx11_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest($duckToks) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, tok,
         |    floor((tf * (n - df + 0.5) / (df + 0.5)) * 10000) / 10000 AS score
         |  FROM tf JOIN df USING (tok), n)
         |SELECT doc_id, rank, tok, score FROM (
         |  SELECT doc_id, tok, score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
         |  FROM scored) WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "ss06_mips_topk" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  floor(list_sum(list_transform(range(len(emb)), i -> emb[i+1] * q_emb[i+1])) * 10000) / 10000 AS dot
        |FROM e, q WHERE vec_id <> 0
        |ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin,

    "q29_range_window" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |   PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |   RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
        |FROM orders WHERE o_custkey <= 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

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

    "ev20_nep171_flatten" ->
      """SELECT 'u' || user_id AS owner_id,
        | COUNT(*) * 2 AS n_tokens,
        | MIN('t' || event_id || 'a') AS min_token
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY owner_id""".stripMargin,

    "ev21_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_keys
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "mm04_resize_stride" ->
      """SELECT source, COUNT(*) AS n_items,
        | CAST(SUM(length(resized)) AS BIGINT) AS total_resized_chars,
        | MIN(md5(resized)) AS min_digest
        |FROM (
        |  SELECT source,
        |    array_to_string(list_transform(
        |      range(CAST(ceil(length(text) / 4.0) AS BIGINT)),
        |      i -> substr(text, CAST(i * 4 + 1 AS INT), 1)), '') AS resized
        |  FROM documents
        |  WHERE length(text) > 0 AND regexp_matches(text, '^[\x00-\x7F]*$'))
        |GROUP BY source ORDER BY source""".stripMargin,

    "mm03_chunk_digest" ->
      """SELECT source, COUNT(*) AS n_chunks,
        | COUNT(DISTINCT digest) AS n_uniq_chunks, MIN(digest) AS min_digest
        |FROM (
        |  SELECT source,
        |    unnest(list_transform(range(CAST(ceil(strlen(text) / 64.0) AS BIGINT)),
        |      ci -> md5(substr(text, CAST(ci * 64 + 1 AS INT), 64)))) AS digest
        |  FROM documents
        |  WHERE length(text) > 0 AND regexp_matches(text, '^[\x00-\x7F]*$'))
        |GROUP BY source ORDER BY source""".stripMargin
  )
}
