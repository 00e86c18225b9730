package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Det, Hashing}

/** Round-4 coverage. dd13: the evaluation harness that keeps the
  * approximate scale path honest — the embedding-dedup counterpart of
  * ss08/dd12, measuring the banded sign-LSH candidate generation that
  * dd05/dd11 ship (Dedup.embCandidates) against the exact all-pairs
  * ground truth, so the recall/cost dials of the banding geometry are
  * numbers under the oracle gate, not assumptions. ev26: the last
  * stats.rs field (the in-flight gauge) re-expressed as a partitioned
  * sweep-line.
  */
object Round4 extends Operators {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd13: banded-LSH recall/precision evaluation -----------------
    // Ground truth = ALL within-label pairs at the verify threshold
    // (the one intentionally quadratic arm in the engine — it exists
    // to measure the scale path and runs on eval-sized samples, like
    // ss08's brute-force arm). Candidates/hits come from the SAME
    // helpers dd05/dd11 execute, so the measured recall is the
    // shipped construction's recall, not a reimplementation's.
    "dd13_lsh_recall" -> { (s, d) =>
      val e = Dedup.embBase(s, d)
      val a = e.select(col("label"), col("vec_id").as("vec_a"),
        col("emb").as("emb_a"), col("norm").as("norm_a"))
      val b = e.select(col("label"), col("vec_id").as("vec_b"),
        col("emb").as("emb_b"), col("norm").as("norm_b"))
      val truth = a.join(b, Seq("label"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(Det.trunc4(Similarity.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b"))) >= Dedup.EmbThreshold)
        .select(col("vec_a"), col("vec_b"))
      val cand = Dedup.embCandidates(s, d)
      val hits = Dedup.scoreCandidates(s, d, cand)
        .filter(col("cos_sim") >= Dedup.EmbThreshold)
        .select(col("vec_a"), col("vec_b"), lit(1).as("hit"))
      truth.join(hits, Seq("vec_a", "vec_b"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          Det.trunc4(col("n_hit").cast("double") / col("n_truth")).as("recall"),
          Det.trunc4(col("n_hit").cast("double") / col("n_cand")).as("verify_rate"))
    },

    // --- dd14: benchmark decontamination census ----------------------
    // The pre-training hygiene step: a train document is contaminated
    // if it shares any 13-token gram with the held-out eval set
    // (GPT-3-style n-gram decontamination). The eval set here is a
    // deterministic 5% hash-sample standing in for a benchmark suite;
    // at 100 TB the eval side is benchmark-sized (fixed, small), so
    // its distinct gram hashes broadcast and the corpus-sized train
    // gram stream never shuffles — drop the broadcast hint if the
    // eval side ever grows fact-sized and the same equi-join shuffles.
    "dd14_contamination" -> { (s, d) =>
      val W = 13
      // docs shorter than one gram are still TRAIN DOCS (trivially
      // uncontaminated) — they stay in the census denominator; only
      // gram GENERATION filters on length
      val docs = Dedup.barrier(graft.core.Tables.documents(s, d)
        .withColumn("toks", split(trim(col("text")), "\\s+"))
        .withColumn("is_eval",
          Hashing.hash64(col("doc_id").cast("string")) % 20 === 0)
        .select(col("doc_id"), col("source"), col("is_eval"), col("toks")))
      // explode_OUTER: a plain explode of this inline-computed gram
      // array lets InferFiltersFromGenerate re-evaluate the whole
      // 13-gram hash pipeline per row in a pushed filter (the
      // dd20/dd33/dd44 trap — PlanAuditSpec's generate lint). Outer
      // generates infer no filters; ≥W-token docs always emit ≥1 gram,
      // so the isNotNull on the OUTPUT is semantically free.
      val grams = docs.filter(size(col("toks")) >= W)
        .select(col("doc_id"), col("is_eval"),
          explode_outer(transform(sequence(lit(0), size(col("toks")) - W),
            i => Hashing.hash64(concat_ws(" ", slice(col("toks"), i + 1, lit(W))))))
            .as("g"))
        .filter(col("g").isNotNull)
      val evalGrams = grams.filter(col("is_eval"))
        .select(col("g")).distinct().withColumn("hit", lit(1))
      val hitDocs = grams.filter(!col("is_eval"))
        .join(broadcast(evalGrams), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(max(coalesce(col("hit"), lit(0))).as("contaminated"))
      docs.filter(!col("is_eval"))
        .select(col("doc_id"), col("source"))
        .join(hitDocs, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_train_docs"),
          sum(coalesce(col("contaminated"), lit(0))).cast("long").as("n_contaminated"),
          Det.trunc4(sum(coalesce(col("contaminated"), lit(0))).cast("double") /
            count(lit(1))).as("contamination_rate"))
        .orderBy(col("source"))
    },

    // --- tx13: bigram-LM fluency score -------------------------------
    // tx12 one order up: corpus bigram frequencies (shuffle on the
    // bigram — a fact-sized table, no broadcastable-vocab assumption),
    // each doc scored by its mean bigram corpus-frequency. Rational
    // arithmetic (integer sums, one final division) so the oracle
    // hash-matches without libm. Fluent prose reuses common word
    // PAIRS; shuffled/gibberish text scores near 1 even when its
    // unigrams are common — the pair-level fluency signal tx12's
    // unigram model cannot see.
    "tx13_bigram_lm" -> { (s, d) =>
      val bg = Dedup.barrier(graft.core.Tables.documents(s, d)
        .withColumn("toks", split(trim(col("text")), "\\s+"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)))).as("bigram")))
      val freq = bg.groupBy(col("bigram")).agg(count(lit(1)).as("bg_freq"))
      bg.join(freq, Seq("bigram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("bg_freq")).as("sum_freq"))
        .select(col("doc_id"), col("n_bigrams"),
          Det.trunc4(col("sum_freq").cast("double") / col("n_bigrams"))
            .as("avg_bg_freq"))
        .orderBy(col("doc_id"))
    },

    // --- ss09: full Lloyd iteration (assign to NEAREST centroid) -----
    // ss04 scores vectors against their OWN label's centroid; this is
    // the real k-means step: every vector re-assigns to the nearest of
    // ALL K centroids (argmax cosine, ties to the lower label), then
    // centroids update from their new members. The K centroids travel
    // as ONE broadcast row (sorted array of structs) and the argmax is
    // a sequential fold over that array — assignment stays narrow (no
    // K-times row blowup, no shuffle beyond the (cluster, dim) update
    // agg). Census: per-cluster size, migration count, and centroid
    // drift (cos of old vs new centroid).
    "ss09_kmeans_iterate" -> { (s, d) =>
      val e = graft.core.Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      // train the K-centroid model with ONE distributed aggregation,
      // then hold it driver-side (K × dim doubles — the quantizer
      // model a real pipeline keeps on the driver, like a fitted
      // KMeansModel). The packed assignment row and the drift join
      // both derive from this same local frame, so no plan branch can
      // re-run the expensive (label, dim) aggregation — nor disagree
      // with the other branch's copy of the model.
      val centRows = e.select(col("label"), posexplode(col("emb")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,10)")).cast("double") /
          count(lit(1))).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("cent"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
      val cents = {
        import s.implicits._
        centRows.toSeq.toDF("label", "cent")
          .withColumn("c_norm", Similarity.l2norm(col("cent")))
      }
      val packed = cents.agg(array_sort(collect_list(
        struct(col("label"), col("cent"), col("c_norm")))).as("cs"))
      val assigned = Dedup.barrier(e
        .withColumn("norm", Similarity.l2norm(col("emb")))
        .crossJoin(broadcast(packed))
        .withColumn("best", aggregate(col("cs"),
          struct(lit(-2.0).as("cos"), lit(-1).as("lbl")),
          (acc, cst) => {
            val cos = Similarity.dot(col("emb"), cst.getField("cent")) /
              (col("norm") * cst.getField("c_norm"))
            when(cos > acc.getField("cos"),
              struct(cos.as("cos"), cst.getField("label").as("lbl")))
              .otherwise(acc)
          }))
        .select(col("vec_id"), col("label"), col("emb"),
          col("best").getField("lbl").as("cluster")))
      val newCents = assigned.select(col("cluster"), posexplode(col("emb")))
        .groupBy(col("cluster"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,10)")).cast("double") /
          count(lit(1))).as("c"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("new_cent"))
        .withColumn("n_norm", Similarity.l2norm(col("new_cent")))
      assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_assigned"),
          sum(when(col("label") =!= col("cluster"), 1L).otherwise(0L)).as("n_moved"))
        .join(newCents, Seq("cluster"))
        .join(broadcast(cents.select(col("label").as("cluster"),
          col("cent"), col("c_norm"))), Seq("cluster"))
        .select(col("cluster"), col("n_assigned"), col("n_moved"),
          Det.trunc4(Similarity.dot(col("cent"), col("new_cent")) /
            (col("c_norm") * col("n_norm"))).as("centroid_drift"))
        .orderBy(col("cluster"))
    },

    // --- ev26: in-flight processing gauge ----------------------------
    // The reference's `block_heights_processing` gauge (stats.rs:8-10,
    // stats.rs:85-97 start/end_process_block): how many items are
    // concurrently in flight. Re-expressed as a sweep-line over
    // processing spans [ts, ts + value sec): each span splits into the
    // days it covers and contributes +1/-1 at its CLIPPED in-day
    // start/end, so every (type, day) partition sweeps its TRUE
    // concurrency — spans carried over midnight count in both days.
    // Deltas net per distinct instant (tie-order independence),
    // running sum = the gauge, daily peak per type. Partitions are
    // bounded day slices, no global sort; integer microseconds
    // end-to-end so both engines agree exactly.
    "ev26_inflight_gauge" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = graft.core.Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("value"))
        .withColumn("s_us", expr("unix_micros(ts)"))
        .withColumn("e_us",
          col("s_us") + floor(col("value") * lit(1000000.0)).cast("long"))
      val spans = ev
        .select(col("event_type"), col("s_us"), col("e_us"),
          explode(sequence(to_date(col("ts")),
            to_date(timestamp_micros(col("e_us"))))).as("day"))
        .withColumn("day_s", expr("unix_micros(cast(day as timestamp))"))
        .withColumn("cs", greatest(col("s_us"), col("day_s")))
        .withColumn("ce", least(col("e_us"), col("day_s") + lit(86400000000L)))
      val pts = spans.select(col("event_type"), col("day"), col("cs").as("t"),
          lit(1L).as("delta"))
        .unionByName(spans.select(col("event_type"), col("day"), col("ce").as("t"),
          lit(-1L).as("delta")))
        .groupBy(col("event_type"), col("day"), col("t"))
        .agg(sum(col("delta")).as("net"))
      val w = Window.partitionBy(col("event_type"), col("day")).orderBy(col("t"))
      pts.withColumn("inflight", sum(col("net")).over(w))
        .groupBy(col("event_type"), col("day"))
        .agg(max(col("inflight")).as("day_peak"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          max(col("day_peak")).as("peak_inflight"),
          Det.trunc4(avg(col("day_peak"))).as("avg_daily_peak"))
        .orderBy(col("event_type"))
    }
  )

  def oracles: Map[String, String] = Map(
    "dd13_lsh_recall" -> {
      val cosAB = "floor((list_sum(list_transform(range(len(a.emb))," +
        " i -> a.emb[i+1] * b.emb[i+1])) / (a.norm * b.norm)) * 10000) / 10000"
      s"""WITH e AS (
         |  ${Dedup.duckEmbE}),
         |bands AS (
         |  ${Dedup.duckEmbBands}),
         |cand AS (
         |  ${Dedup.duckEmbCand}),
         |truth AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE $cosAB >= ${Dedup.EmbThreshold}),
         |hits AS (
         |  SELECT c.vec_a, c.vec_b
         |  FROM cand c JOIN e ea ON c.vec_a = ea.vec_id
         |              JOIN e eb ON c.vec_b = eb.vec_id
         |  WHERE ${Dedup.duckEmbCos} >= ${Dedup.EmbThreshold}),
         |t AS (
         |  SELECT COUNT(*) AS n_truth,
         |    CAST(SUM(CASE WHEN h.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM truth LEFT JOIN hits h
         |    ON truth.vec_a = h.vec_a AND truth.vec_b = h.vec_b),
         |c AS (SELECT COUNT(*) AS n_cand FROM cand)
         |SELECT n_truth, n_cand, n_hit,
         |  ${Det.duckTrunc("CAST(n_hit AS DOUBLE) / n_truth", 4)} AS recall,
         |  ${Det.duckTrunc("CAST(n_hit AS DOUBLE) / n_cand", 4)} AS verify_rate
         |FROM t, c""".stripMargin
    },

    "dd14_contamination" -> {
      val duckToks = """string_split_regex(trim(text), '\s+')"""
      s"""WITH base AS (
         |  SELECT doc_id, source, $duckToks AS toks,
         |    (${graft.functions.Hashing.duckHash64("CAST(doc_id AS VARCHAR)")} % 20 = 0) AS is_eval
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, is_eval,
         |    unnest(list_transform(range(len(toks) - 12),
         |      i -> ${graft.functions.Hashing.duckHash64("array_to_string(toks[i+1:i+13], ' ')")})) AS g
         |  FROM base WHERE len(toks) >= 13),
         |ev AS (SELECT DISTINCT g FROM grams WHERE is_eval),
         |perdoc AS (
         |  SELECT t.doc_id,
         |    MAX(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS contaminated
         |  FROM grams t LEFT JOIN ev ON t.g = ev.g
         |  WHERE NOT t.is_eval
         |  GROUP BY t.doc_id)
         |SELECT source, COUNT(*) AS n_train_docs,
         |  CAST(SUM(COALESCE(contaminated, 0)) AS BIGINT) AS n_contaminated,
         |  ${Det.duckTrunc("CAST(SUM(COALESCE(contaminated, 0)) AS DOUBLE) / COUNT(*)", 4)} AS contamination_rate
         |FROM base LEFT JOIN perdoc USING (doc_id)
         |WHERE NOT is_eval
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "tx13_bigram_lm" ->
      s"""WITH base AS (
         |  SELECT doc_id, ${Dedup.duckToks} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
         |  FROM base WHERE len(toks) >= 2),
         |freq AS (SELECT bigram, COUNT(*) AS bg_freq FROM bg GROUP BY bigram)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ${Det.duckTrunc("CAST(SUM(bg_freq) AS DOUBLE) / COUNT(*)", 4)} AS avg_bg_freq
         |FROM bg JOIN freq USING (bigram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ss09_kmeans_iterate" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |dims AS (
         |  SELECT label, i, CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM (SELECT label, generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS v FROM e)
         |  GROUP BY label, i),
         |cn AS (
         |  SELECT label, cent, sqrt(list_sum(list_transform(cent, x -> x * x))) AS c_norm
         |  FROM (SELECT label, list(c ORDER BY i) AS cent FROM dims GROUP BY label)),
         |scored AS (
         |  SELECT e.vec_id, e.label, e.emb, cn.label AS clbl,
         |    list_sum(list_transform(range(len(e.emb)), i -> e.emb[i+1] * cn.cent[i+1]))
         |      / (sqrt(list_sum(list_transform(e.emb, x -> x * x))) * cn.c_norm) AS cos
         |  FROM e CROSS JOIN cn),
         |best AS (
         |  SELECT vec_id, label, emb, clbl AS cluster FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, clbl) AS rk
         |    FROM scored)
         |  WHERE rk = 1),
         |nd AS (
         |  SELECT cluster, i, CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM (SELECT cluster, generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS v FROM best)
         |  GROUP BY cluster, i),
         |nc AS (
         |  SELECT cluster, new_cent,
         |    sqrt(list_sum(list_transform(new_cent, x -> x * x))) AS n_norm
         |  FROM (SELECT cluster, list(c ORDER BY i) AS new_cent FROM nd GROUP BY cluster)),
         |census AS (
         |  SELECT cluster, COUNT(*) AS n_assigned,
         |    CAST(SUM(CASE WHEN label != cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |  FROM best GROUP BY cluster)
         |SELECT census.cluster, n_assigned, n_moved,
         |  ${Det.duckTrunc(
               "list_sum(list_transform(range(len(cn.cent)), i -> cn.cent[i+1] * nc.new_cent[i+1]))" +
               " / (cn.c_norm * nc.n_norm)", 4)} AS centroid_drift
         |FROM census JOIN nc ON census.cluster = nc.cluster
         |            JOIN cn ON census.cluster = cn.label
         |ORDER BY census.cluster""".stripMargin,

    "ev26_inflight_gauge" ->
      s"""WITH ev AS (
         |  SELECT event_type, ts, epoch_us(ts) AS s_us,
         |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
         |  FROM events),
         |spans AS (
         |  SELECT event_type, s_us, e_us,
         |    CAST(unnest(generate_series(CAST(ts AS DATE),
         |      CAST(make_timestamp(e_us) AS DATE), INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM ev),
         |clip AS (
         |  SELECT event_type, day,
         |    GREATEST(s_us, epoch_us(CAST(day AS TIMESTAMP))) AS cs,
         |    LEAST(e_us, epoch_us(CAST(day AS TIMESTAMP)) + 86400000000) AS ce
         |  FROM spans),
         |pts AS (
         |  SELECT event_type, day, t, CAST(SUM(delta) AS BIGINT) AS net FROM (
         |    SELECT event_type, day, cs AS t, 1 AS delta FROM clip
         |    UNION ALL
         |    SELECT event_type, day, ce AS t, -1 AS delta FROM clip)
         |  GROUP BY event_type, day, t),
         |gauge AS (
         |  SELECT event_type, day,
         |    SUM(net) OVER (PARTITION BY event_type, day ORDER BY t) AS inflight
         |  FROM pts),
         |daily AS (
         |  SELECT event_type, day, MAX(inflight) AS day_peak
         |  FROM gauge GROUP BY event_type, day)
         |SELECT event_type, COUNT(*) AS n_days,
         |  CAST(MAX(day_peak) AS BIGINT) AS peak_inflight,
         |  ${Det.duckTrunc("AVG(day_peak)", 4)} AS avg_daily_peak
         |FROM daily GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
