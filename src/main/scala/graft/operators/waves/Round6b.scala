package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-6 second wave: train/test n-gram novelty sweep (dd25),
  * IVF-residual product quantization (ss21), the streaming first-seen
  * twin of ev41 (ev42), and interleaved multimodal packing with a
  * two-level prefix sum (mm08).
  *
  * Posture notes: dd25 needs NO join — the anti-join ("test grams
  * unseen in train") folds into one conditional aggregate on the
  * gram-hash key, one shuffle per n; ss21 broadcast-joins the
  * label-centroid table (K rows) and the residual codebook
  * (PqM×PqK rows), the IVF-PQ shape production ANN serving ships;
  * ev42 keeps O(users) streaming state — the canonical
  * first-occurrence cost — and snapshots it; mm08 replaces the
  * per-group running sum with the ev30 two-level decomposition
  * (shard partials + bounded offset window + within-shard cumsum)
  * so no source's documents ever funnel through one task.
  */
object Round6b extends Operators {

  private val Fx = 1000000L
  private val DayUs = 86400000000L

  /** Fake ViT patch cost for an opaque payload: ceil(bytes / 256). */
  private val PatchBytes = 256L

  /** mm08 bin budget in positions (text tokens + image patches). */
  private val PackBudget = 2048L

  /** mm08 shard width on the doc_id axis — contiguous, so shard order
    * IS document order and the two-level prefix sum reproduces the
    * sequential cumsum exactly.
    */
  private val ShardW = 64L

  private def grams(toks: Column, n: Int): Column =
    if (n == 1) toks
    else transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dd25: n-gram novelty sweep -----------------------------------
    // Memorization risk, sized per gram order: for n ∈ {1,2,3}, how
    // many of the test split's distinct n-grams (and what occurrence
    // mass) never appear in train? dd14 answers the binary
    // contamination question at one n; this is the dial curve. The
    // train-lookup is NOT a join: both splits fold into one
    // (gram-hash → train_occ, test_occ) aggregate, and novelty is a
    // conditional sum over it — one shuffle per n, grams travel as
    // 8-byte hashes (both engines hash with the shared hash64, so
    // even a collision cannot diverge the census).
    "dd25_ngram_novelty" -> { (s, d) =>
      val perN = (1 to 3).map { n =>
        val base = Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= n)
          .withColumn("is_train",
            pmod(Hashing.hash64(col("doc_id").cast("string")), lit(10)) < 8)
        val g = base
          .select(col("is_train"), explode_outer(grams(col("toks"), n)).as("gram"))
          .filter(col("gram").isNotNull && col("gram") =!= "")
          .select(col("is_train"), Hashing.hash64(col("gram")).as("h"))
        g.groupBy(col("h"))
          .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("train_occ"),
            sum(when(!col("is_train"), 1L).otherwise(0L)).as("test_occ"))
          .filter(col("test_occ") > 0)
          .agg(count(lit(1)).cast("long").as("test_distinct"),
            sum(col("test_occ")).cast("long").as("test_occurrences"),
            sum(when(col("train_occ") === 0, 1L).otherwise(0L))
              .cast("long").as("novel_distinct"),
            sum(when(col("train_occ") === 0, col("test_occ")).otherwise(0L))
              .cast("long").as("novel_occurrences"))
          .withColumn("n", lit(n))
      }
      perN.reduce(_ unionByName _)
        .withColumn("novel_share_fx",
          expr(s"(novel_distinct * $Fx) div test_distinct"))
        .select(col("n"), col("test_distinct"), col("test_occurrences"),
          col("novel_distinct"), col("novel_occurrences"), col("novel_share_fx"))
        .orderBy(col("n"))
    },

    // --- ss21: IVF-residual product quantization ----------------------
    // The production ANN memory layout: a coarse per-label centroid
    // (IVF cell) plus a PQ code over the RESIDUAL — residuals
    // concentrate near zero, so the same codebook budget loses less
    // than ss12's direct PQ (the gate-comparable number). Geometry
    // and codebook convention are ss12's (PqM×PqSubDim, first-PqK
    // rows); centroids compute in ONE distributed decimal-exact
    // aggregate and come back as a K-row broadcast join; the codebook
    // is a PqM×PqK-row broadcast. Facts stay narrow end to end.
    "ss21_ivf_pq_residual" -> { (s, d) =>
      import Round5b.{PqM, PqSubDim, PqK, MixFx}
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val cents = e.select(col("label"), posexplode(col("emb")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,10)")).cast("double") /
          count(lit(1))).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("cent"))
      val resid = e.join(broadcast(cents), Seq("label"))
        .withColumn("res", zip_with(col("emb"), col("cent"), (x, c) => x - c))
      val subs = resid
        .select(col("vec_id"), col("res"),
          explode(sequence(lit(0), lit(PqM - 1))).as("m"))
        .withColumn("sub", slice(col("res"), col("m") * PqSubDim + 1, lit(PqSubDim)))
        .select(col("vec_id"), col("m"), col("sub"))
      val cb = subs.filter(col("vec_id") < PqK)
        .select(col("m"), col("vec_id").cast("int").as("code"), col("sub").as("csub"))
      val byVm = Window.partitionBy(col("vec_id"), col("m"))
        .orderBy(col("d2t"), col("code"))
      val assigned = subs.join(broadcast(cb), Seq("m"))
        .withColumn("d2t", floor(
          aggregate(zip_with(col("sub"), col("csub"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, z) => acc + z) * lit(MixFx)).cast("long"))
        .withColumn("rn", row_number().over(byVm))
        .filter(col("rn") === 1)
      val reconRes = assigned.groupBy(col("vec_id"))
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("m"), col("csub")))),
          x => x.getField("csub"))).as("rres"))
      resid.join(reconRes, Seq("vec_id"))
        .withColumn("recon", zip_with(col("cent"), col("rres"), (c, r) => c + r))
        .withColumn("cos", Similarity.dot(col("emb"), col("recon")) /
          (Similarity.l2norm(col("emb")) * Similarity.l2norm(col("recon"))))
        .withColumn("cos_i4", floor(col("cos") * lit(10000)).cast("long"))
        .withColumn("max_err", array_max(transform(
          sequence(lit(0), lit(PqM * PqSubDim - 1)),
          i => abs(element_at(col("emb"), i + 1) - element_at(col("recon"), i + 1)))))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          Det.trunc4(sum(col("cos_i4")).cast("double") /
            (count(lit(1)) * lit(10000.0))).as("avg_recon_cos"),
          Det.trunc4(max(col("max_err"))).as("max_abs_err"))
        .orderBy(col("label"))
    },

    // --- ev42: first-seen census THROUGH Structured Streaming ---------
    // The streaming half of ev41's growth accounting: per-user MIN(ts)
    // maintained as streaming state (complete mode; the state is
    // O(users) — the canonical, unavoidable cost of exact
    // first-occurrence detection, the same bound streaming dedup
    // carries), snapshot folded to new-users-per-day. Gated by the
    // batch definition; the spec additionally pins it to ev41's n_new
    // column.
    "ev42_stream_first_seen" -> { (s, d) =>
      val firsts = graft.streaming.StreamJobs.eventsFileStream(s, d)
        .select(col("user_id"), col("ts"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
      val snap = graft.streaming.StreamJobs
        .runMemorySnapshot(firsts, "graft_ev42_mem", "complete")
      snap
        .select(expr(Det.truncDiv("unix_micros(first_ts)", DayUs)).as("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_new"))
        .orderBy(col("day"))
    },

    // --- mm08: interleaved multimodal packing -------------------------
    // Interleaved image-text training mixes modal costs in ONE
    // position budget: a document costs its text tokens plus
    // ceil(bytes/256) fake ViT patches for its (stand-in) image
    // payload. Docs pack into 2048-position bins per source in
    // doc_id order — computed WITHOUT a per-source sequential scan:
    // doc_ids shard into contiguous ShardW-wide ranges, shard sums
    // aggregate in one pass, an (unpartitioned but shards-sized)
    // window turns them into shard offsets, and the within-shard
    // cumsum runs partitioned by (source, shard). offset + local
    // cumsum ≡ the sequential running sum, bit-exactly — ev30's
    // two-level recipe applied to packing, replacing the
    // one-task-per-source window pk01 accepts.
    "mm08_interleaved_pack" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          (size(TextAnalysis.tokens(col("text"))).cast("long") +
            expr(s"(length(cast(text as binary)) + ${PatchBytes - 1}) div $PatchBytes"))
            .as("cost"))
        .withColumn("shard", expr(Det.truncDiv("doc_id", ShardW)))
      val shardSums = base.groupBy(col("source"), col("shard"))
        .agg(sum(col("cost")).as("shard_cost"))
        .withColumn("offset",
          sum(col("shard_cost")).over(Window.partitionBy(col("source"))
            .orderBy(col("shard"))) - col("shard_cost"))
        .select(col("source"), col("shard"), col("offset"))
      base
        .join(shardSums, Seq("source", "shard"))
        .withColumn("local_cum", sum(col("cost")).over(
          Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))))
        .withColumn("cum", col("offset") + col("local_cum"))
        .withColumn("pack_id",
          expr(s"(cum - cost) div $PackBudget").cast("long"))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cost")).cast("long").as("pack_cost"))
        .withColumn("fill_fx", expr(s"(pack_cost * $Fx) div $PackBudget"))
        .select(col("source"), col("pack_id"), col("n_docs"), col("pack_cost"),
          col("fill_fx"))
        .orderBy(col("source"), col("pack_id"))
    })

  private def duckGrams(n: Int): String =
    if (n == 1) Dedup.duckToks
    else s"list_transform(range(len(${Dedup.duckToks}) - ${n - 1}), i -> " +
      (1 to n).map(j => s"${Dedup.duckToks}[i+$j]").mkString(" || ' ' || ") + ")"

  def oracles: Map[String, String] = Map(
    "dd25_ngram_novelty" -> {
      val h = Hashing.duckHash64("CAST(doc_id AS VARCHAR)")
      val parts = (1 to 3).map { n =>
        s"""r$n AS (
           |  SELECT $n AS n, CAST(COUNT(*) AS BIGINT) AS test_distinct,
           |    CAST(SUM(te) AS BIGINT) AS test_occurrences,
           |    CAST(SUM(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS novel_distinct,
           |    CAST(SUM(CASE WHEN tr = 0 THEN te ELSE 0 END) AS BIGINT)
           |      AS novel_occurrences
           |  FROM (
           |    SELECT ${Hashing.duckHash64("gram")} AS hh,
           |      SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS tr,
           |      SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS te
           |    FROM (
           |      SELECT (($h) % 10 + 10) % 10 < 8 AS is_train,
           |        unnest(${duckGrams(n)}) AS gram
           |      FROM documents WHERE len(${Dedup.duckToks}) >= $n)
           |    WHERE gram <> '' GROUP BY hh)
           |  WHERE te > 0)""".stripMargin
      }
      s"""WITH ${parts.mkString(",\n")}
         |SELECT n, test_distinct, test_occurrences, novel_distinct,
         |  novel_occurrences,
         |  (novel_distinct * $Fx) // test_distinct AS novel_share_fx
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |      UNION ALL SELECT * FROM r3)
         |ORDER BY n""".stripMargin
    },

    "ss21_ivf_pq_residual" -> {
      import Round5b.{PqM, PqSubDim, PqK, MixFx}
      val d2 = s"""CAST(floor(list_sum(list_transform(range($PqSubDim),
                  | i -> (s.sub[i+1] - c.csub[i+1]) * (s.sub[i+1] - c.csub[i+1])))
                  | * $MixFx) AS BIGINT)""".stripMargin.replace("\n", "")
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |dims AS (
         |  SELECT label, i, CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM (SELECT label, generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS v FROM e)
         |  GROUP BY label, i),
         |cents AS (
         |  SELECT label, list(c ORDER BY i) AS cent FROM dims GROUP BY label),
         |resid AS (
         |  SELECT e.vec_id, e.label, e.emb, cents.cent,
         |    list_transform(range(${PqM * PqSubDim}),
         |      i -> e.emb[i+1] - cents.cent[i+1]) AS res
         |  FROM e JOIN cents USING (label)),
         |subs AS (
         |  SELECT vec_id, m, list_slice(res, m * $PqSubDim + 1, (m + 1) * $PqSubDim) AS sub
         |  FROM resid, (SELECT unnest(range($PqM)) AS m) t),
         |cb AS (
         |  SELECT m, CAST(vec_id AS INT) AS code, sub AS csub
         |  FROM subs WHERE vec_id < $PqK),
         |assigned AS (
         |  SELECT vec_id, m, csub FROM (
         |    SELECT s.vec_id, s.m, c.csub,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY $d2, c.code) AS rn
         |    FROM subs s JOIN cb c ON s.m = c.m) WHERE rn = 1),
         |recon AS (
         |  SELECT vec_id, flatten(list(csub ORDER BY m)) AS rres
         |  FROM assigned GROUP BY vec_id),
         |scored AS (
         |  SELECT r.label,
         |    CAST(floor((list_sum(list_transform(range(${PqM * PqSubDim}),
         |        i -> r.emb[i+1] * (r.cent[i+1] + rres[i+1])))
         |      / (sqrt(list_sum(list_transform(r.emb, x -> x * x)))
         |         * sqrt(list_sum(list_transform(range(${PqM * PqSubDim}),
         |             i -> (r.cent[i+1] + rres[i+1]) * (r.cent[i+1] + rres[i+1]))))))
         |      * 10000) AS BIGINT) AS cos_i4,
         |    list_max(list_transform(range(${PqM * PqSubDim}),
         |      i -> abs(r.emb[i+1] - (r.cent[i+1] + rres[i+1])))) AS max_err
         |  FROM resid r JOIN recon USING (vec_id))
         |SELECT label, COUNT(*) AS n_vecs,
         |  ${Det.duckTrunc("CAST(SUM(cos_i4) AS DOUBLE) / (COUNT(*) * 10000.0)", 4)}
         |    AS avg_recon_cos,
         |  ${Det.duckTrunc("MAX(max_err)", 4)} AS max_abs_err
         |FROM scored GROUP BY label ORDER BY label""".stripMargin
    },

    "ev42_stream_first_seen" ->
      s"""WITH f AS (
         |  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id)
         |SELECT epoch_us(first_ts) // $DayUs AS day,
         |  CAST(COUNT(*) AS BIGINT) AS n_new
         |FROM f GROUP BY day ORDER BY day""".stripMargin,

    "mm08_interleaved_pack" ->
      s"""WITH b AS (
         |  SELECT source, doc_id,
         |    CAST(len(${Dedup.duckToks}) AS BIGINT)
         |      + (strlen(text) + ${PatchBytes - 1}) // $PatchBytes AS cost
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, cost,
         |    CAST(SUM(cost) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
         |      AS cum
         |  FROM b),
         |p AS (
         |  SELECT source, (cum - cost) // $PackBudget AS pack_id, cost FROM c)
         |SELECT source, pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(cost) AS BIGINT) AS pack_cost,
         |  (CAST(SUM(cost) AS BIGINT) * $Fx) // $PackBudget AS fill_fx
         |FROM p GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin)
}
