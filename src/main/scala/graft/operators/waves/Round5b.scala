package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Det, Hashing}

/** Round-5 second wave: the remaining curation-pipeline primitives a
  * 100 TB training-data build runs between raw corpus and batches —
  * shift-resistant chunking (pk04), product-quantized ANN storage
  * (ss12), incremental-aggregate maintenance proof (q38), and the
  * corpus mixing allocation (tx17).
  *
  * Same posture as every other gated operator: candidate/work
  * generation is closed-form or bucket-join, per-row logic stays in
  * codegen'd `functions._` expressions, ratios truncate through
  * [[Det]] so the DuckDB oracle hash-matches, and the only broadcasts
  * are provably tiny frames (a 1-row total, a lang-count allocation, a
  * 64-row codebook).
  */
object Round5b extends Operators {

  /** pk04: a token ends a chunk when hash64(token) % CdcDivisor == 0 —
    * expected chunk length = the divisor. 16 keeps chunk counts
    * readable at sf0.01; production would use 256-2048.
    */
  val CdcDivisor = 16L

  /** ss12 geometry: 64-dim embeddings → PqM subspaces × PqSubDim dims,
    * codebook of PqK centroids per subspace (vec_id < PqK by the same
    * first-K convention as ss03's IVF coarse quantizer). A code is
    * log2(16)=4 bits; a full vector compresses 64 doubles → 4 nibbles.
    */
  val PqM = 4
  val PqSubDim = 16
  val PqK = 16

  /** tx17: total token budget the mixture allocates. */
  val MixBudget = 1000000L
  /** Fixed-point scale for sqrt weights (see tx17 notes). */
  val MixFx = 1000000L

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk04: content-defined chunking ------------------------------
    // Fixed-size chunking (pk02) re-chunks the WHOLE corpus tail when
    // one token is inserted upstream; content-defined chunking cuts at
    // positions the CONTENT chooses (hash64(token) % D == 0), so an
    // edit only disturbs the chunk it lands in — the dedup-friendly
    // chunker (LBFS/FastCDC lineage) for incrementally-refreshed
    // corpora, where stable chunk digests make re-embedding/re-dedup
    // incremental. Boundaries come from one narrow pass (hash each
    // token once); chunk spans are closed-form from the boundary list
    // (pk02's explode-a-sequence recipe — no window, no self-join), so
    // the whole plan is a per-row pipeline + one explode: embarrassingly
    // parallel at 100 TB. Production uses D=256-2048 plus min/max span
    // clamps (a mapPartitions fold); the unclamped rule keeps the
    // oracle exact.
    "pk04_cdc_chunks" -> { (s, d) =>
      // Per-token formulation: explode to (doc_id, pos, tok) rows, a
      // token STARTS a chunk when it is the doc's first or the
      // previous token's hash hits the divisor (the boundary-after-i
      // rule restated per token; i ≤ n−2 holds automatically), and
      // chunk ids are the running start-flag sum. One shuffle total:
      // lag + cumsum share the (doc_id, pos) window, and the chunk
      // rollup's groupBy(doc_id, chunk_id) is satisfied by the
      // window's doc_id hash partitioning. Linear data volume — the
      // earlier slice-from-starts shape duplicated each doc's full
      // token array into every chunk row, O(chunks × doc_len) copies
      // (measured 8.1 s at sf0.1; this shape ~1 s).
      val wo = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
        .withColumn("prev_h", lag(Hashing.hash64(col("tok")), 1).over(wo))
        .withColumn("sflag",
          when(col("prev_h").isNull || col("prev_h") % lit(CdcDivisor) === 0, 1)
            .otherwise(0))
        .withColumn("chunk_id",
          (sum(col("sflag")).over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
            .cast("long"))
        .groupBy(col("doc_id"), col("chunk_id"))
        .agg(count(lit(1)).cast("long").as("chunk_toks"),
          Hashing.hash64(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok")), " ")).as("chunk_digest"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // --- ss12: product quantization ----------------------------------
    // The ANN-index compression step past ss10's scalar quantizer: PQ
    // stores each vector as PqM codebook ids (16 bytes → 2 bytes here;
    // 256 bytes → 8 at production dims), the memory layout IVF-PQ
    // serving actually ships. Codebook = first-PqK convention (ss03);
    // assignment joins the sub-vector table to the broadcast codebook
    // on the subspace id — M·K rows total, so the join fanout is K per
    // sub-vector, linear in n. Distances rank as floor(d²·1e6) longs
    // (ties → lowest code), reconstruction re-assembles the chosen
    // centroids in subspace order, and the output measures what the
    // compression loses, per label — directly comparable to ss10's
    // scalar-quant numbers.
    "ss12_pq_quantize" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val subs = e
        .select(col("vec_id"), col("emb"),
          explode(sequence(lit(0), lit(PqM - 1))).as("m"))
        .withColumn("sub", slice(col("emb"), col("m") * PqSubDim + 1, lit(PqSubDim)))
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
      val recon = assigned.groupBy(col("vec_id"))
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("m"), col("csub")))),
          x => x.getField("csub"))).as("recon"))
      e.join(recon, Seq("vec_id"))
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

    // --- tx17: corpus mixing allocation ------------------------------
    // The mixture step that turns curated shards into a training run:
    // temperature-weighted language sampling (weight ∝ tokens^0.5, the
    // multilingual-LM upsampling rule) allocates a global token budget
    // across languages, then pro-rates each language's quota over its
    // sources; epochs = alloc/avail is the upsampling factor the run
    // will apply (>1 means repeated data — the low-resource-language
    // tradeoff made visible). All arithmetic is fixed-point/integer
    // until the two final display ratios: sqrt is correctly-rounded
    // IEEE in both engines, floor(sqrt·1e6) longs sum exactly in any
    // order, and every division is integer-on-positives — so the plan
    // is deterministic AND the per-lang frame (a handful of rows at
    // any corpus size) broadcasts back onto the (lang, source) census.
    "tx17_mix_plan" -> { (s, d) =>
      val perLS = Tables.documents(s, d)
        .select(col("lang"), col("source"),
          size(toks(col("text"))).cast("long").as("ntok"))
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("ntok")).as("tok_ls"))
      val perL = perLS.groupBy(col("lang")).agg(sum(col("tok_ls")).as("tok_l"))
        .withColumn("sqfx",
          floor(sqrt(col("tok_l").cast("double")) * lit(MixFx)).cast("long"))
      val tot = perL.agg(sum(col("sqfx")).as("totfx"))
      val alloc = perL.crossJoin(broadcast(tot))
        .withColumn("alloc_l", expr(s"($MixBudget * sqfx) div totfx"))
      perLS.join(broadcast(alloc), Seq("lang"))
        .withColumn("alloc_tokens", expr("(alloc_l * tok_ls) div tok_l"))
        .select(col("lang"), col("source"), col("tok_ls").as("avail_tokens"),
          Det.trunc4(col("sqfx").cast("double") / col("totfx")).as("mix_weight"),
          col("alloc_tokens"),
          Det.trunc4(col("alloc_tokens").cast("double") / col("tok_ls")).as("epochs"))
        .orderBy(col("lang"), col("source"))
    })

  def oracles: Map[String, String] = Map(
    "pk04_cdc_chunks" ->
      s"""WITH base AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |    list_transform(toks, t -> ${Hashing.duckHash64("t")}) AS ths
         |  FROM (SELECT doc_id, ${Dedup.duckToks} AS toks FROM documents)),
         |st AS (
         |  SELECT doc_id, toks, n,
         |    list_prepend(0, list_transform(
         |      list_filter(range(n), i -> i < n - 1 AND ths[i+1] % $CdcDivisor = 0),
         |      i -> i + 1)) AS starts
         |  FROM base),
         |ch AS (
         |  SELECT doc_id, toks,
         |    unnest(list_transform(range(len(starts)), i ->
         |      {'cid': i, 'cs': starts[i+1], 'ce': coalesce(starts[i+2], n)})) AS c
         |  FROM st)
         |SELECT doc_id, CAST(c.cid AS BIGINT) AS chunk_id,
         |  CAST(c.ce - c.cs AS BIGINT) AS chunk_toks,
         |  ${Hashing.duckHash64("array_to_string(list_slice(toks, c.cs + 1, c.ce), ' ')")}
         |    AS chunk_digest
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "ss12_pq_quantize" -> {
      val d2 = s"""CAST(floor(list_sum(list_transform(range($PqSubDim),
                  | i -> (s.sub[i+1] - c.csub[i+1]) * (s.sub[i+1] - c.csub[i+1])))
                  | * $MixFx) AS BIGINT)""".stripMargin.replace("\n", "")
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |subs AS (
         |  SELECT vec_id, m, list_slice(emb, m * $PqSubDim + 1, (m + 1) * $PqSubDim) AS sub
         |  FROM e, (SELECT unnest(range($PqM)) AS m) t),
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
         |  SELECT vec_id, flatten(list(csub ORDER BY m)) AS recon
         |  FROM assigned GROUP BY vec_id),
         |scored AS (
         |  SELECT label,
         |    CAST(floor((list_sum(list_transform(range(${PqM * PqSubDim}),
         |        i -> emb[i+1] * recon[i+1]))
         |      / (sqrt(list_sum(list_transform(emb, x -> x * x)))
         |         * sqrt(list_sum(list_transform(recon, x -> x * x)))))
         |      * 10000) AS BIGINT) AS cos_i4,
         |    list_max(list_transform(range(${PqM * PqSubDim}),
         |      i -> abs(emb[i+1] - recon[i+1]))) AS max_err
         |  FROM e JOIN recon USING (vec_id))
         |SELECT label, COUNT(*) AS n_vecs,
         |  ${Det.duckTrunc("CAST(SUM(cos_i4) AS DOUBLE) / (COUNT(*) * 10000.0)", 4)}
         |    AS avg_recon_cos,
         |  ${Det.duckTrunc("MAX(max_err)", 4)} AS max_abs_err
         |FROM scored GROUP BY label ORDER BY label""".stripMargin
    },

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

    "tx17_mix_plan" ->
      s"""WITH ls AS (
         |  SELECT lang, source, CAST(SUM(len(${Dedup.duckToks})) AS BIGINT) AS tok_ls
         |  FROM documents GROUP BY lang, source),
         |l AS (
         |  SELECT lang, CAST(SUM(tok_ls) AS BIGINT) AS tok_l,
         |    CAST(floor(sqrt(CAST(SUM(tok_ls) AS DOUBLE)) * $MixFx) AS BIGINT) AS sqfx
         |  FROM ls GROUP BY lang),
         |t AS (SELECT CAST(SUM(sqfx) AS BIGINT) AS totfx FROM l),
         |a AS (
         |  SELECT lang, tok_l, sqfx, totfx,
         |    ($MixBudget * sqfx) // totfx AS alloc_l
         |  FROM l, t)
         |SELECT ls.lang, source, tok_ls AS avail_tokens,
         |  ${Det.duckTrunc("CAST(sqfx AS DOUBLE) / totfx", 4)} AS mix_weight,
         |  (alloc_l * tok_ls) // tok_l AS alloc_tokens,
         |  ${Det.duckTrunc("CAST((alloc_l * tok_ls) // tok_l AS DOUBLE) / tok_ls", 4)}
         |    AS epochs
         |FROM ls JOIN a ON ls.lang = a.lang
         |ORDER BY ls.lang, source""".stripMargin)
}
