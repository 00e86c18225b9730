package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.{Det, Hashing}
import Operators.{Fx, Fx4}

/** Packing: shaping a document corpus into training input — token-
  * budget sequence packing, chunking, shard layouts and manifests,
  * epoch shuffles, curricula and tokenizer (BPE) censuses.
  *
  * Every `pk` operator and its oracle live in this object.
  */
object Packing extends Operators {

  /** Token-budget sequence packing (LLM pretraining batch shaping):
    * documents are streamed per language in doc_id order, token counts
    * accumulate, and each doc is assigned to the pack its FIRST token
    * lands in — the concat-and-slice packing layout. Window cumsum =
    * one shuffle per language partition; at 100 TB the lang partition
    * key becomes (lang, shard) to bound partition width.
    */
  val PackBudget = 512L

  /** pk02: context-window chunking geometry (tokens). */
  val ChunkBudget = 32L

  val ChunkStride = 24L // budget − overlap(8)

  /** pk04: a token ends a chunk when hash64(token) % CdcDivisor == 0 —
    * expected chunk length = the divisor. 16 keeps chunk counts
    * readable at sf0.01; production would use 256-2048.
    */
  val CdcDivisor = 16L

  /** pk05: per-bin token budget (a context-window batch). */
  val BinBudget = 1024L

  /** pk06: candidate context lengths (tokens) the curve prices. */
  val CtxLens: Seq[Long] = Seq(32L, 64L, 96L, 128L)

  /** pk07: output shard count for the packed corpus manifest. */
  val ManifestShards = 32L

  /** pk08: epochs to materialize and the shard fan-out. */
  val Epochs: Seq[Int] = Seq(0, 1)

  val ShuffleShards = 16L

  /** pk10: curriculum phases (quality quartiles, 1 = lowest). */
  val Phases = 4

  /** pk15's attention window: cross-boundary pairs are counted at
    * token distance < W.
    */
  private val AttnW = 64L

  /** pk16's candidate context lengths. */
  private val Ctxs = Seq(512L, 1024L, 2048L, 4096L)

  private val NShards = 64L

  private val NWorkers = 8L

  private val ChangeMod = 20L

  /** pk20: context sizes (tokens) the mixing census is priced at. */
  val CtxSizes: Seq[Long] = Seq(512L, 2048L, 8192L)

  /** Unrolled merge rounds — enough to see the curve bend; each adds
    * one vocab symbol, exactly like a real tokenizer build's first
    * steps.
    */
  val NMerges = 8

  /** (word, cnt, seq) — corpus vocabulary with prefix-delimited char
    * sequences.
    */
  private def wordTable(s: SparkSession, d: String): DataFrame =
    wordTableOf(Tables.documents(s, d))

  private[operators] def wordTableOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("seq", regexp_replace(col("word"), "(.)", "|$1|"))

  /** Adjacent symbol pairs of a seq frame, space-joined ("x y"),
    * weighted by word count: (p, n). Symbols are the `[a-z]+` runs
    * between the delimiter pairs.
    */
  private def pairCounts(words: DataFrame): DataFrame = {
    val sy = regexp_extract_all(col("seq"), lit("[a-z]+"), lit(0))
    words
      .select(col("cnt"),
        explode(when(size(sy) >= 2,
            transform(sequence(lit(1), size(sy) - 1), k =>
              concat(element_at(sy, k), lit(" "), element_at(sy, k + 1))))
          .otherwise(array().cast("array<string>"))).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).cast("long").as("n"))
  }

  /** One curve row, syms filled a round later (see [[train]]). */
  private final class CurveRow(val round: Long, val symX: String,
      val symY: String, val pairN: Long, var syms: Long)

  /** Run the training loop. The argmax per round is a bounded 1-row
    * driver collect (the ss09 fitted-model hold: merge RULES are
    * model state, embedding them as literals keeps every round a
    * flat projection), and each round's frame is localCheckpoint-ed —
    * without lineage truncation the per-round plan tree grows and
    * Catalyst re-optimization dominates (measured: 50 s
    * scale-INDEPENDENT for the chained-plan formulation vs seconds
    * checkpointed). Per-round symbol counts fall out of the next
    * round's pair total (syms = Σ weighted adjacent pairs + Σ word
    * mass, since a word of k symbols has exactly k−1 adjacent
    * pairs) — no extra aggregate per round.
    *
    * Returns (final encoded words frame, curve rows).
    */
  private def train(s: SparkSession, d: String): (DataFrame, Seq[CurveRow]) = {
    var words = wordTable(s, d).localCheckpoint()
    val w = words.agg(sum(col("cnt"))).head.getLong(0)
    val rows = scala.collection.mutable.ArrayBuffer(
      new CurveRow(0L, "", "", 0L, -1L))
    var saturated = false
    for (r <- 1 to NMerges if !saturated) {
      val pa = pairCounts(words).persist()
      val total = pa.agg(coalesce(sum(col("n")), lit(0L)).cast("long"))
        .head.getLong(0)
      rows.last.syms = total + w // k-symbol word ⇒ k−1 pairs
      val best = pa.orderBy(col("n").desc, col("p")).limit(1).collect()
      pa.unpersist()
      if (best.isEmpty) saturated = true
      else {
        val p = best(0).getAs[String]("p")
        val n = best(0).getAs[Long]("n")
        val Array(x, y) = p.split(" ", 2)
        words = words
          .withColumn("seq", replace(col("seq"),
            lit("|" + x + "||" + y + "|"), lit("|" + x + y + "|")))
          .localCheckpoint()
        rows += new CurveRow(r.toLong, x, y, n, -1L)
      }
    }
    if (!saturated)
      rows.last.syms = words
        .agg(sum(expr(
          "cnt * ((length(seq) - length(replace(seq, '|', ''))) div 2)"))
          .cast("long"))
        .head.getLong(0)
    (words, rows.toSeq)
  }

  /** Oracle CTE chain shared by both oracles: w, s0, then
    * (p_r, b_r, s_r) per round — the exact relational steps the Spark
    * side runs.
    */
  private def duckTrainCtes: String = {
    val rounds = (1 to NMerges).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (
         |  SELECT p, CAST(SUM(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
         |      k -> sy[k] || ' ' || sy[k + 1])) AS p
         |    FROM (SELECT cnt, regexp_extract_all(seq, '[a-z]+') AS sy
         |          FROM $prev))
         |  GROUP BY p),
         |b$r AS (SELECT p, n FROM p$r ORDER BY n DESC, p LIMIT 1),
         |s$r AS MATERIALIZED (
         |  -- LEFT JOIN against the ≤1-row argmax + COALESCE: when no
         |  -- pair remains (b$r empty) the round passes the last
         |  -- vocabulary through unchanged, mirroring the Spark loop —
         |  -- and keeps ONE reference to $prev (a UNION ALL guard
         |  -- would reference it twice and DuckDB's CTE inlining then
         |  -- grows the chain 3^rounds). MATERIALIZED pins the linear
         |  -- evaluation the chain needs.
         |  SELECT word, cnt,
         |    COALESCE(replace(seq, '|' || replace(p, ' ', '||') || '|',
         |      '|' || replace(p, ' ', '') || '|'), seq) AS seq
         |  FROM $prev LEFT JOIN b$r ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS word
       |    FROM documents)
       |  GROUP BY word),
       |s0 AS (
       |  SELECT word, cnt, regexp_replace(word, '(.)', '|\\1|', 'g') AS seq
       |  FROM w),
       |$rounds""".stripMargin
  }

  private def duckSyms(tbl: String): String =
    s"""(SELECT CAST(SUM(cnt * ((len(seq) - len(replace(seq, '|', ''))) // 2))
       |    AS BIGINT) FROM $tbl)""".stripMargin

  /** pk23: prefix lengths (tokens) priced for cache sharing. */
  private val PrefixLens = Seq(8, 32, 128)

  /** pk24: token budget as a share of the corpus (30%). */
  private val BudgetPct = 30L

  /** pk25: shard byte target (1 MiB) and TAR per-entry overhead. */
  private val TargetBytes = 1L << 20

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

  private[operators] def byteCensus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).agg(
      count(lit(1)).cast("long").as("n_docs"),
      // char count as the byte proxy (`length` agrees across engines;
      // a lake deployment swaps in octet_length over the raw bytes)
      sum(length(col("text"))).cast("long").as("total_chars"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pk01: token-budget sequence packing -------------------------
    //
    // Everything here follows the same scale posture as the round-1
    // operators: candidate generation is bucket-join (never cross join),
    // per-row logic is codegen'd `functions._` expressions, float
    // aggregates go through decimal-exact sums so the DuckDB oracle
    // hash-matches, and iterative algorithms (connected components)
    // checkpoint between rounds so lineage stays bounded.
    "pk01_token_packing" -> { (s, d) =>
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_tokens")) / lit(PackBudget)).cast("long"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
        .orderBy(col("lang"), col("pack_id"))
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
        .withColumn("toks", TextAnalysis.tokens(col("text")))
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

    // --- pk03: padding-waste census ----------------------------------
    // Batch-shaping audit for fixed-shape training: docs bucket to the
    // next multiple of 64 tokens; waste = padded − real tokens per
    // bucket. One aggregation, map-side combinable — the dial that
    // decides between padding and pk01-style packing.
    //
    // Scale postures follow the house rules: candidate pairs only from
    // equi-join buckets, windows always partitioned by a real key, float
    // aggregation via integer/decimal arithmetic so the DuckDB oracle
    // hash-matches, broadcast only for frames that are provably small
    // (per-dim stats, packed model rows).
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
    //
    // Same posture as every other gated operator: candidate/work
    // generation is closed-form or bucket-join, per-row logic stays in
    // codegen'd `functions._` expressions, ratios truncate through
    // [[Det]] so the DuckDB oracle hash-matches, and the only broadcasts
    // are provably tiny frames (a 1-row total, a lang-count allocation, a
    // 64-row codebook).
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
        .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
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

    // --- pk05: batch-construction pack plan --------------------------
    // The step between pk01's budget census and an actual training
    // run: assign documents to fixed-budget bins. True first-fit is
    // inherently sequential, so the scalable plan is the standard
    // shard-local recipe — within each (lang, source) shard, order by
    // (tokens desc, doc_id) and slice the running sum at PackBudget
    // boundaries (next-fit on sorted order). The window partitions by
    // the shard key, so no global sort exists; each bin's tokens land
    // in [budget − max_doc, budget + max_doc), and the output censuses
    // exactly that: docs/tokens per bin plus the over-budget flag the
    // trainer uses to decide truncate-vs-spill. ROWS frame, not the
    // default RANGE, so peer rows never collapse (doc_id makes the
    // order total; both engines agree).
    //
    // Same posture as the rest of the library: no O(n²) candidate step,
    // windows partitioned by real shard keys (or provably tiny frames),
    // fixed-point/integer arithmetic wherever the DuckDB oracle must
    // hash-match, broadcasts only for 1-row bounds or top-K lists.
    "pk05_pack_plan" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("source"), col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("ntok").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs
        .withColumn("cum_before", sum(col("ntok")).over(w) - col("ntok"))
        .withColumn("bin_id", expr(s"cum_before div $BinBudget"))
        .groupBy(col("lang"), col("source"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("long").as("bin_tokens"),
          max(col("ntok")).as("max_doc_tokens"))
        .withColumn("over_budget", col("bin_tokens") > lit(BinBudget))
        .orderBy(col("lang"), col("source"), col("bin_id"))
    },

    // --- pk06: context-length pricing curve ---------------------------
    // The decision input for the trainer's context length: for each
    // candidate L, how many docs truncate, how many tokens are lost
    // past L, how many padding tokens one-doc-per-sequence batching
    // would waste, and the resulting utilization. One narrow pass
    // computes per-doc token counts; the candidate grid is a bounded
    // ×|CtxLens| explode (the ev30 recipe); utilization is
    // fixed-point kept·1e6 div (docs·L). Read together with pk05:
    // this prices the budget pk05's pack plan then fills.
    "pk06_ctx_curve" -> { (s, d) =>
      Tables.documents(s, d)
        .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
        .select(col("ntok"), explode(typedLit(CtxLens)).as("ctx_len"))
        .groupBy(col("ctx_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ntok") > col("ctx_len"), 1L).otherwise(0L))
            .cast("long").as("n_truncated"),
          sum(greatest(col("ntok") - col("ctx_len"), lit(0L)))
            .cast("long").as("lost_tokens"),
          sum(greatest(col("ctx_len") - col("ntok"), lit(0L)))
            .cast("long").as("pad_tokens"),
          sum(least(col("ntok"), col("ctx_len"))).cast("long").as("kept_tokens"))
        .withColumn("util_fx",
          expr("(kept_tokens * 1000000) div (n_docs * ctx_len)"))
        .orderBy(col("ctx_len"))
    },

    // --- pk07: output shard manifest ----------------------------------
    // Writing the curated corpus means assigning every document a
    // stable output shard: shard = hash64(doc_id) mod NShards —
    // content-addressed, reproducible across runs and cluster sizes
    // (the mm06 placement audit, applied to the text corpus). The
    // manifest censuses docs/tokens/bytes per shard plus each shard's
    // doc share vs the balanced 1/N ideal; at 100 TB `shard` is the
    // partitionBy key of the final write.
    "pk07_shard_manifest" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("shard", pmod(Hashing.hash64(
          col("doc_id").cast("string")), lit(ManifestShards)))
        .withColumn("n_toks", size(TextAnalysis.tokens(col("text"))).cast("long"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      docs.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("n_tokens"),
          sum(col("n_chars")).cast("long").as("n_bytes"))
        .crossJoin(broadcast(total))
        .withColumn("share_fx", expr("(n_docs * 1000000) div n_total"))
        .withColumn("imb_fx", expr(s"(n_docs * $ManifestShards * 1000000) div n_total"))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_bytes"),
          col("share_fx"), col("imb_fx"))
        .orderBy(col("shard"))
    },

    // --- pk08: reproducible epoch shuffle -----------------------------
    // Deterministic global training-data shuffle WITHOUT a global
    // sort: each (epoch, doc) gets a seeded-hash position, the shard
    // is hash mod ShuffleShards (one exchange partitions by
    // (epoch, shard)), and the within-shard order is a shard-local
    // sort by (hash, doc_id) — a total order, so reruns and both
    // engines agree bit-for-bit. Different epochs permute
    // independently for free (the seed mixes into the hash).
    //
    // Posture notes: pk08 is the 100 TB shuffle recipe — a hash-
    // derived permutation needs ONE partition-by-shard exchange plus
    // shard-local sorts, never a global sort
    "pk08_epoch_shuffle" -> { (s, d) =>
      val w = Window.partitionBy(col("epoch"), col("shard"))
        .orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(typedLit(Epochs)).as("epoch"))
        .withColumn("h", Hashing.hash64(concat_ws("|",
          col("epoch").cast("string"), col("doc_id").cast("string"))))
        .withColumn("shard", pmod(col("h"), lit(ShuffleShards)))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("epoch"), col("shard"), col("doc_id"), col("pos"))
    },

    // --- pk09: power-of-2 length bucketing ----------------------------
    // Trainers batch fixed-length sequences; padding every doc to the
    // GLOBAL max burns compute, padding to a power-of-2 bucket cap
    // recovers most of it without dynamic shapes. Per bucket
    // (2^k <= n_tokens < 2^(k+1)): docs, real tokens, observed cap,
    // the bucket's own pad-waste, and the fixed-point share of pad
    // tokens saved vs padding to the global max. One hash aggregate
    // over the corpus; the global max is a 1-row broadcast; the
    // bucket table is ~log2(max_len) rows.
    //
    // Posture notes: pk09 and tx21 use an integer-exact floor-log2
    // (`length(bin(n)) - 1` — both engines print binary without
    // leading zeros), never libm `log`, so the bucket key is engine-
    // proof
    "pk09_length_buckets" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
        .filter(col("n") > 0)
        .withColumn("bucket", TextAnalysis.log2floor(col("n")))
      val g = docs.agg(max(col("n")).as("gmax"))
      docs.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("long").as("sum_tokens"),
          max(col("n")).as("cap_tokens"))
        .crossJoin(broadcast(g))
        .withColumn("bucket_waste_fx",
          expr(s"((n_docs * cap_tokens - sum_tokens) * $Fx) div (n_docs * cap_tokens)"))
        .withColumn("saved_vs_global_fx",
          expr(s"((n_docs * (gmax - cap_tokens)) * $Fx) div (n_docs * gmax)"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          col("cap_tokens"), col("bucket_waste_fx"), col("saved_vs_global_fx"))
        .orderBy(col("bucket"))
    },

    // --- pk10: curriculum phase manifest ------------------------------
    // Curriculum training feeds cleaner data in later phases: docs
    // rank by tx02's quality score (4-decimal fixed point → integer
    // key) and cut into exact quartiles with Rank.ntileExact — ANSI
    // NTILE bit-for-bit, but planned as range buckets + one hash
    // shuffle instead of a single-partition global sort, so the
    // manifest still computes at corpus scale. Per phase: docs,
    // token mass, token share, and the quality envelope — the
    // schedule a trainer consumes together with pk08's shuffle and
    // tx17's mix plan.
    //
    // Posture notes: pk10 runs the library's exact global ntile
    // ([[Rank.ntileExact]] — range-bucketed, one hash shuffle, nothing
    // single-partition at scale) over tx02's quality score to cut the
    // corpus into curriculum quartiles; the manifest is a 4-row
    // census. ev39 reuses ev09's exact session construction (30-min
    // gap, (ts, event_id) total order) and folds sessions into a size-
    // keyed census — windows partition by user, the census table is
    // bounded by the max session length.
    "pk10_curriculum_phases" -> { (s, d) =>
      val scored = TextAnalysis.queries("tx02_quality_score")(s, d)
        .withColumn("q4", floor(col("quality") * 10000).cast("long"))
      val phased = Rank.ntileExact(scored, Phases, "phase",
        col("q4"), Seq(col("doc_id")))
      val census = phased.groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          min(col("q4")).as("min_q4"), max(col("q4")).as("max_q4"))
      val total = census.agg(sum(col("n_tokens")).cast("long").as("t_tokens"))
      census.crossJoin(broadcast(total))
        .withColumn("token_share_fx", expr(s"(n_tokens * $Fx) div t_tokens"))
        .select(col("phase"), col("n_docs"), col("n_tokens"),
          col("token_share_fx"), col("min_q4"), col("max_q4"))
        .orderBy(col("phase"))
    },

    // --- pk11: curate → dedup → pack, end to end ----------------------
    //
    // Posture notes: every stage keeps its original scale shape — the
    // rule battery is a narrow projection, the dedup keeper is one
    // fingerprint-partitioned window, the packer is pk01's per-lang
    // running sum (partitioned window, no global sort), and the
    // manifest is a langs-sized census. Nothing new is invented here;
    // the value is the PROOF (oracle + spec) that the composition of
    // the shipped stages is itself exactly reproducible.
    "pk11_curate_pack_e2e" -> { (s, d) =>
      val fl = TextAnalysis.ruleFlags(Tables.documents(s, d))
        .withColumn("fp", Hashing.hash64(
          lower(regexp_replace(trim(col("text")), "\\s+", " "))))
        .select(col("doc_id"), col("lang"), col("n_words"), col("keep"), col("fp"))
      val wfp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val finals = fl.filter(col("keep"))
        .withColumn("rn", row_number().over(wfp))
        .filter(col("rn") === 1)
      val wl = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      finals
        .withColumn("cum", sum(col("n_words")).over(wl))
        .withColumn("pack_id",
          floor((col("cum") - col("n_words")) / lit(PackBudget)).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_final"),
          sum(col("n_words")).cast("long").as("tokens_final"),
          (max(col("pack_id")) + 1).cast("long").as("n_packs"))
        .withColumn("fill_fx",
          expr(s"(tokens_final * $Fx) div (n_packs * ${PackBudget})"))
        .select(col("lang"), col("docs_final"), col("tokens_final"),
          col("n_packs"), col("fill_fx"))
        .orderBy(col("lang"))
    },

    // --- pk12: deterministic split manifest ---------------------------
    // Every corpus build ships a train/val/test split that must be
    // reproducible on any cluster layout and any run: assignment is
    // hash64(doc_id) mod 100 (96/2/2), never random() or row order.
    // The census per (split, source) — docs, tokens, and each
    // source's share within its split — is the manifest reviewers
    // audit for stratification skew. One aggregate; the split is a
    // per-row expression.
    //
    // pk12 assigns splits by deterministic hash64 so the manifest is
    // reproducible on any cluster layout.
    "pk12_split_manifest" -> { (s, d) =>
      val bucket = pmod(Hashing.hash64(col("doc_id").cast("string")), lit(100))
      val split = when(bucket < 96, "train").when(bucket < 98, "val")
        .otherwise("test")
      val base = Tables.documents(s, d)
        .select(split.as("split"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
      base
        .withColumn("split_docs",
          sum(col("n_docs")).over(Window.partitionBy(col("split"))).cast("long"))
        .withColumn("source_share_fx", expr(s"(n_docs * $Fx) div split_docs"))
        .select(col("split"), col("source"), col("n_docs"), col("n_tokens"),
          col("source_share_fx"))
        .orderBy(col("split"), col("source"))
    },

    // --- pk13: shard rebalance plan -----------------------------------
    // When pk07's manifest shows skew, nobody reshuffles 100 TB —
    // they move the smallest correcting slice. One deterministic
    // greedy step: shards above the balanced target pair rank-for-
    // rank with shards below it (1st-biggest donor → 1st-emptiest
    // receiver), each move being min(excess, deficit). Everything
    // runs on the NShards-row census; the plan row also prices the
    // residual imbalance the single step leaves.
    //
    // pk13's greedy pairing runs entirely on the 16-row shard census —
    // windows above aggregates only, the audit-enforced shape.
    "pk13_shard_rebalance" -> { (s, d) =>
      val shards = Tables.documents(s, d)
        .withColumn("shard", pmod(Hashing.hash64(
          col("doc_id").cast("string")), lit(16)))
        .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))
      val tot = shards.agg(sum(col("n_docs")).cast("long").as("total"))
      val sized = shards.crossJoin(broadcast(tot))
        .withColumn("target", expr("total div 16"))
        .withColumn("excess", col("n_docs") - col("target"))
      val donors = sized.filter(col("excess") > 0)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("excess").desc, col("shard"))))
        .select(col("rk"), col("shard").as("from_shard"),
          col("excess"))
      val receivers = sized.filter(col("excess") < 0)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("excess").asc, col("shard"))))
        .select(col("rk"), col("shard").as("to_shard"),
          (-col("excess")).as("deficit"))
      donors.join(receivers, Seq("rk"))
        .withColumn("moved", least(col("excess"), col("deficit")))
        .withColumn("residual", col("excess") - col("moved"))
        .select(col("rk").cast("long").as("pair_rank"), col("from_shard"),
          col("to_shard"), col("moved").cast("long").as("moved"),
          col("residual").cast("long").as("residual"))
        .orderBy(col("pair_rank"))
    },

    // --- pk14: tokenizer fertility ------------------------------------
    // The tokenizer-eval number every corpus report carries: BPE-ish
    // subword tokens per whitespace word (fertility), per language.
    // High fertility = the tokenizer fragments that language's text
    // (spending context budget); the census prices it per lang from
    // ONE narrow scan folding both tokenizations map-side — no
    // shuffle beyond the langs-sized aggregate.
    //
    // pk14 is one narrow scan folding both tokenizations per doc map-
    // side.
    "pk14_tokenizer_fertility" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("ws"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).cast("long").as("ws_tokens"),
          sum(col("bpe")).cast("long").as("bpe_tokens"))
        .withColumn("fertility_fx", expr(s"(bpe_tokens * $Fx) div ws_tokens"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          col("fertility_fx"))
        .orderBy(col("lang"))
    },

    // --- pk15: packing attention-contamination census ------------------
    // Packing unrelated docs into one sequence lets attention windows
    // straddle document boundaries — cross-doc token pairs the model
    // attends to for no reason. Under pk01's packing, each internal
    // boundary (a tokens before it in the pack, b after) contributes
    // exactly #{(u,v): u<=a, v<=b, u+v<=W} cross pairs at distance
    // < W — a CLOSED-FORM integer count (clamped arithmetic series),
    // no per-token rows, no window-sized explode. Per lang: packs,
    // boundaries, cross pairs, total within-window pairs, and the
    // contamination share. The only window is pk01's own running sum.
    //
    // pk15 is closed-form integer arithmetic per pack boundary (no
    // window-sized explode, no per-token rows)
    "pk15_boundary_window" -> { (s, d) =>
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_tokens")) / lit(PackBudget)).cast("long"))
      val inPack = Window.partitionBy(col("lang"), col("pack_id"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packTot = Window.partitionBy(col("lang"), col("pack_id"))
      val bounds = docs
        .withColumn("a", sum(col("n_tokens")).over(inPack))
        .withColumn("pack_tokens", sum(col("n_tokens")).over(packTot))
        .withColumn("b", col("pack_tokens") - col("a"))
        .filter(col("b") > 0)
        // "capA" not "A": Spark column resolution is case-insensitive,
        // so a column named A would shadow the offset column a
        .withColumn("capA", least(col("a"), lit(AttnW - 1)))
        .withColumn("tc", greatest(lit(0L), least(lit(AttnW) - col("b"), col("capA"))))
        // the subtracted arithmetic-series term is always even and
        // non-negative — shiftright is the exact integer halving
        // (a plain / would be double division)
        .withColumn("cross",
          col("tc") * col("b") + (col("capA") - col("tc")) * lit(AttnW) -
            shiftright(col("capA") * (col("capA") + 1L) -
              col("tc") * (col("tc") + 1L), 1))
      val packs = docs.groupBy(col("lang"), col("pack_id"))
        .agg(sum(col("n_tokens")).as("L"))
        .withColumn("D", least(lit(AttnW - 1), col("L") - 1L))
        .withColumn("total",
          col("D") * col("L") - shiftright(col("D") * (col("D") + 1L), 1))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_packs"),
          sum(col("total")).cast("long").as("total_pairs"))
      val crosses = bounds.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_boundaries"),
          sum(col("cross")).cast("long").as("cross_pairs"))
      packs.join(crosses, Seq("lang"), "left")
        .select(col("lang"), col("n_packs"),
          coalesce(col("n_boundaries"), lit(0L)).as("n_boundaries"),
          coalesce(col("cross_pairs"), lit(0L)).as("cross_pairs"),
          col("total_pairs"))
        .withColumn("cross_share_fx",
          expr(s"(cross_pairs * $Fx) div greatest(total_pairs, 1)"))
        .orderBy(col("lang"))
    },

    // --- pk16: truncate-vs-keep pricing --------------------------------
    // The cheapest long-doc policy is truncation; its cost is the
    // tail it throws away. Per candidate context length: docs
    // affected, tokens lost, and the lost share of the corpus — the
    // table a pipeline reads before choosing truncate (lose the
    // tail) over pk02's chunking (pay the overlap). One narrow scan,
    // a 4-value explode, one aggregate.
    //
    // pk16 is one narrow scan exploded over four context lengths
    "pk16_truncation_loss" -> { (s, d) =>
      Tables.documents(s, d)
        .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
        .select(col("n"), explode(typedLit(Ctxs)).as("ctx"))
        .groupBy(col("ctx"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n")).cast("long").as("total_tokens"),
          sum(when(col("n") > col("ctx"), 1L).otherwise(0L))
            .cast("long").as("docs_truncated"),
          sum(greatest(col("n") - col("ctx"), lit(0L)))
            .cast("long").as("tokens_lost"))
        .withColumn("loss_share_fx", expr(s"(tokens_lost * $Fx) div total_tokens"))
        .orderBy(col("ctx"))
    },

    // --- pk17: dataloader worker balance ---------------------------------
    // A packed corpus is read by W dataloader workers, each owning
    // every Wth shard (round-robin). Per worker: shards, docs, token
    // mass, and relative load (1.0 = ideal) — the imbalance that sets
    // epoch makespan, since the slowest worker gates every step.
    "pk17_worker_skew" -> { (s, d) =>
      val sharded = Tables.documents(s, d)
        .select(
          pmod(Hashing.hash64(col("doc_id").cast("string")), lit(NShards)).as("shard"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).as("tokens"))
      val byWorker = sharded
        .groupBy(pmod(col("shard"), lit(NWorkers)).as("worker"))
        .agg(count(lit(1)).cast("long").as("n_shards"),
          sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("tokens")).cast("long").as("tokens"))
      val total = byWorker.agg(sum(col("tokens")).as("total_tokens"))
      byWorker.crossJoin(broadcast(total))
        .withColumn("load_fx", expr(s"(tokens * $NWorkers * $Fx) div total_tokens"))
        .select(col("worker"), col("n_shards"), col("n_docs"),
          col("tokens"), col("load_fx"))
        .orderBy(col("worker"))
    },

    // --- pk18: epoch-shuffle locality audit ------------------------------
    // A good epoch shuffle leaves no source runs: adjacent docs in
    // shard order should collide on source no more often than
    // random (Σ p_s²). Per epoch: adjacent pairs, same-source
    // pairs, the observed share, and the random-expectation share —
    // observed >> expected means the shuffle key leaks ordering and
    // the model sees source-correlated batches. Windows run within
    // (epoch, shard) only; the expectation folds from source shares.
    //
    // Posture notes: pk18 windows ONLY within (epoch, shard) — pk08's
    // own partitioning, shard-bounded — and the expected-collision
    // baseline folds from the |sources|-row share table. ev61 is one
    // hour-bucketed fact fold against a 1-row broadcast baseline.
    "pk18_shuffle_locality" -> { (s, d) =>
      val shuffled = queries("pk08_epoch_shuffle")(s, d)
      val sources = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val w = Window.partitionBy(col("epoch"), col("shard")).orderBy(col("pos"))
      val adj = shuffled.join(sources, Seq("doc_id"))
        .withColumn("prev_source", lag(col("source"), 1).over(w))
        .filter(col("prev_source").isNotNull)
      val obs = adj.groupBy(col("epoch"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(when(col("source") === col("prev_source"), 1L).otherwise(0L))
            .cast("long").as("n_same"))
      val shares = sources.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_s"))
      val total = shares.agg(sum(col("n_s")).cast("long").as("n"))
      val expected = shares.crossJoin(broadcast(total))
        .select(expr(s"(n_s * $Fx) div n").as("p_fx"))
        .agg(sum(expr(s"(p_fx * p_fx) div $Fx")).cast("long").as("exp_fx"))
      obs.crossJoin(broadcast(expected))
        .withColumn("obs_fx", expr(s"(n_same * $Fx) div n_pairs"))
        .select(col("epoch"), col("n_pairs"), col("n_same"),
          col("obs_fx"), col("exp_fx"))
        .orderBy(col("epoch"))
    },

    // --- pk19: shard write amplification ---------------------------------
    // An incremental corpus update rewrites every shard it touches:
    // with a deterministic 1-in-20 changed-doc sample, hash sharding
    // scatters the changes across ~every shard (write amp ≈ corpus /
    // changes) while id-range sharding keeps them local when edits
    // cluster by recency. Per strategy: shards touched, bytes
    // changed, bytes rewritten, and the amplification — the layout
    // decision for an incrementally-updated corpus store.
    //
    // Posture note: one doc fold computes both layouts' shard keys
    // (hash and id-range from broadcast bounds); the per-shard and
    // per-strategy censuses run on bounded tables.
    "pk19_write_amplification" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("bytes"))
      val bounds = docs.agg(
        min(col("doc_id")).as("lo"),
        (max(col("doc_id")) - min(col("doc_id")) + 1L).as("span"))
      val keyed = Dedup.barrier(docs.crossJoin(broadcast(bounds))
        .withColumn("changed",
          pmod(Hashing.hash64(col("doc_id").cast("string")), lit(ChangeMod)) === 0)
        .withColumn("hash_shard",
          pmod(Hashing.hash64(concat_ws("|", lit("shard"),
            col("doc_id").cast("string"))), lit(NShards)))
        .withColumn("range_shard",
          expr(s"((doc_id - lo) * $NShards) div span")))
      def arm(strategy: String, shardCol: String): DataFrame = {
        val shards = keyed.groupBy(col(shardCol).as("shard"))
          .agg(sum(col("bytes")).cast("long").as("shard_bytes"),
            sum(when(col("changed"), col("bytes")).otherwise(0L))
              .cast("long").as("changed_bytes"),
            max(when(col("changed"), 1L).otherwise(0L)).as("touched"))
        shards.agg(
            count(lit(1)).cast("long").as("n_shards"),
            sum(col("touched")).cast("long").as("shards_touched"),
            sum(col("changed_bytes")).cast("long").as("bytes_changed"),
            sum(when(col("touched") === 1L, col("shard_bytes")).otherwise(0L))
              .cast("long").as("bytes_rewritten"))
          .select(lit(strategy).as("strategy"), col("n_shards"),
            col("shards_touched"), col("bytes_changed"), col("bytes_rewritten"))
          // decimal staging (r13 sf1 audit class): shard byte sums
          // cross the int64 Fx-multiply cliff at ~10^12 bytes
          .withColumn("amp_fx",
            expr(s"(CAST(bytes_rewritten AS DECIMAL(20,0)) * $Fx) " +
              "div greatest(bytes_changed, 1)"))
      }
      arm("hash", "hash_shard").unionByName(arm("range", "range_shard"))
        .orderBy(col("strategy"))
    },

    // --- pk20: context-window document mixing ------------------------------
    // Token-level packing fills every context window completely, but
    // each doc boundary inside a window dilutes attention (or costs
    // an attention-mask reset — pk15's boundary effects). Per
    // context size C: windows in the packed corpus, average docs
    // touching a window, and the share of docs that straddle ≥ 2
    // windows (truncation-risk mass). Closed form from the
    // per-(lang, source) packing stream prefix: doc d touches
    // ((p_end−1) div C) − (p_start div C) + 1 windows — no window
    // materialization, one slice-partitioned cumsum.
    //
    // Posture notes: pk20's packing stream is per-(lang, source) — all
    // prefix windows are slice-partitioned, the C-sweep is closed-form
    // integer arithmetic on the prefix
    "pk20_window_doc_mixing" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("source"), col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
        .filter(col("ntok") > 0)
        .withColumn("p_end", sum(col("ntok")).over(w).cast("long"))
        .withColumn("p_start", col("p_end") - col("ntok"))
      val slices = docs.groupBy(col("lang"), col("source"))
        .agg(max(col("p_end")).as("slice_tokens"))
      val ctx = CtxSizes.toDF("ctx")
      val perDoc = docs.crossJoin(broadcast(ctx))
        .withColumn("touched",
          expr("((p_end - 1) div ctx) - (p_start div ctx) + 1"))
      val docAgg = perDoc.groupBy(col("ctx"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("touched")).cast("long").as("touch_sum"),
          sum(when(col("touched") >= 2L, 1L).otherwise(0L)).cast("long")
            .as("n_straddlers"))
      val winAgg = slices.crossJoin(broadcast(ctx))
        .groupBy(col("ctx"))
        .agg(sum(expr("(slice_tokens + ctx - 1) div ctx")).cast("long")
          .as("n_windows"))
      docAgg.join(winAgg, Seq("ctx"))
        .withColumn("avg_docs_per_window_fx",
          expr(s"(touch_sum * $Fx) div n_windows"))
        .withColumn("straddle_share_fx",
          expr(s"(n_straddlers * $Fx) div n_docs"))
        .select(col("ctx"), col("n_windows"), col("n_docs"),
          col("n_straddlers"), col("avg_docs_per_window_fx"),
          col("straddle_share_fx"))
        .orderBy(col("ctx"))
    },

    // --- pk21: BPE training curve -----------------------------------------
    // The first NMerges merge rules a real BPE vocabulary build
    // learns from this corpus, with the compression curve: per round,
    // the winning adjacent-symbol pair, its weighted count, and the
    // corpus symbol occurrences after applying it (round 0 = the
    // character baseline). The page that says which subwords the
    // tokenizer budget buys first, measured, not assumed.
    //
    // Representation: every symbol is wrapped in its OWN delimiters —
    // a word's sequence is `|s1||s2||s3|` — so applying merge (x, y) is
    // `replace(seq, "|x||y|", "|xy|")` with BOTH boundaries exact: the
    // pattern cannot fire where y is a proper prefix of the following
    // symbol (`|c||ab|` does NOT match pair (c, a) — a left- or
    // right-open pattern would), and consecutive occurrences share no
    // characters, so both engines' sequential left-to-right
    // non-overlapping replace() is exactly BPE's greedy within-round
    // application (`|a||a||a|` merges to `|aa||a|`, never `|a||aa|`;
    // `|a||b||a||b|` merges BOTH pairs in one pass).
    //
    // Scale posture: training folds the corpus ONCE to the (word, cnt)
    // vocabulary table; every merge round is a vocab-sized
    // pair-explode + argmax (ONE broadcast row) + projection — the
    // corpus text is never rescanned, and the unrolled 8 rounds are
    // each barriered so round k+1 reads round k's materialization, not
    // a 2^k recompute tree.
    "pk21_bpe_train" -> { (s, d) =>
      import s.implicits._
      train(s, d)._2
        .map(r => (r.round, r.symX, r.symY, r.pairN, r.syms))
        .toDF("round", "sym_x", "sym_y", "pair_n", "corpus_syms")
        .orderBy(col("round"))
    },

    // --- pk22: learned-vocabulary fertility per language ------------------
    // pk14's fertility used a regex pre-tokenizer stand-in; this
    // encodes with the vocabulary pk21 actually LEARNS (all NMerges
    // applied) and reports per-language symbols-per-word — the
    // fragmentation number a real tokenizer build would hand the
    // packing planner. Word occurrences per language fold map-side;
    // the learned encoding joins on the bounded vocab table.
    "pk22_bpe_fertility" -> { (s, d) =>
      val enc = train(s, d)._1
        .select(col("word"),
          expr("(length(seq) - length(replace(seq, '|', ''))) div 2")
            .cast("long").as("syms"))
      val langWords = Tables.documents(s, d)
        .select(col("lang"),
          explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
            .as("word"))
        .groupBy(col("lang"), col("word"))
        .agg(count(lit(1)).cast("long").as("lcnt"))
      langWords.join(enc, Seq("word"))
        .groupBy(col("lang"))
        .agg(sum(col("lcnt")).cast("long").as("n_words"),
          sum(col("lcnt") * col("syms")).cast("long").as("bpe_tokens"))
        .withColumn("fertility_fx", expr(s"(bpe_tokens * $Fx) div n_words"))
        .select(col("lang"), col("n_words"), col("bpe_tokens"),
          col("fertility_fx"))
        .orderBy(col("lang"))
    },

    // --- pk23: shared-prefix cache yield ------------------------------
    // Prompt/prefix caching economics: docs sharing an IDENTICAL
    // first-L-token prefix pay the prefix compute once. Per L, the
    // census: docs long enough, distinct prefixes, saved tokens
    // Σ(group−1)·L, and the saved share of total corpus tokens.
    // Prefix groups key on md5 of the space-joined first L tokens —
    // ONE flat expression per L (a Karp-Rabin fold here would nest
    // L-deep Column trees; at L=128 that overflows the default JVM
    // stack during Catalyst analysis), bijective because tokens are
    // whitespace-split; state is the bounded (L, prefix) census.
    "pk23_prefix_cache_yield" -> { (s, d) =>
      val base = Dedup.barrier(Tables.documents(s, d)
        .withColumn("toks", TextAnalysis.tokens(col("text")))
        .select(col("doc_id"), size(col("toks")).cast("long").as("ntok"),
          col("toks")))
      val tot = base.agg(sum(col("ntok")).cast("long").as("corpus_tokens"))
      val perL = PrefixLens.map { l =>
        base.filter(col("ntok") >= l)
          .select(lit(l.toLong).as("prefix_len"),
            md5(concat_ws(" ", slice(col("toks"), 1, l))).as("ph"))
          .groupBy(col("prefix_len"), col("ph"))
          .agg(count(lit(1)).cast("long").as("grp"))
          .groupBy(col("prefix_len"))
          .agg(sum(col("grp")).cast("long").as("n_docs"),
            count(lit(1)).cast("long").as("n_prefixes"),
            sum((col("grp") - 1) * col("prefix_len")).cast("long")
              .as("saved_tokens"))
      }.reduce(_ unionByName _)
      // a lens no doc reaches still reports (zeros) — stable schema
      // across scales
      import s.implicits._
      val lens = PrefixLens.map(_.toLong).toDF("prefix_len")
      lens.join(perL, Seq("prefix_len"), "left")
        .select(col("prefix_len"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_prefixes"), lit(0L)).as("n_prefixes"),
          coalesce(col("saved_tokens"), lit(0L)).as("saved_tokens"))
        .crossJoin(broadcast(tot))
        .withColumn("saved_share_fx",
          expr(s"(saved_tokens * $Fx4) div corpus_tokens"))
        .select(col("prefix_len"), col("n_docs"), col("n_prefixes"),
          col("saved_tokens"), col("saved_share_fx"))
        .orderBy(col("prefix_len"))
    },

    // --- pk24: budgeted mixture waterfill -----------------------------
    // The curation-planning step after scoring: a token budget (30% of
    // the corpus) fills from the highest-quality source down — quality
    // here is source-level type-token ratio (lexical diversity), ties
    // broken by source id. Greedy waterfill in closed form: one
    // window cumsum over the |sources|-row table; allocated =
    // clamp(budget − cum_before, 0, source_tokens).
    "pk24_budget_waterfill" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val bySrc = tok.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("src_tokens"),
          countDistinct(col("tok")).cast("long").as("distinct_toks"))
        .withColumn("ttr_fx", expr(s"(distinct_toks * $Fx4) div src_tokens"))
      val tot = bySrc.agg(sum(col("src_tokens")).as("corpus_tokens"))
        .select(expr(s"(corpus_tokens * $BudgetPct) div 100").as("budget"))
      val ord = Window.orderBy(col("ttr_fx").desc, col("source"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bySrc.crossJoin(broadcast(tot))
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("cum_before",
          sum(col("src_tokens")).over(run) - col("src_tokens"))
        .withColumn("allocated", greatest(lit(0L),
          least(col("src_tokens"), col("budget") - col("cum_before"))))
        .select(col("rank"), col("source"), col("src_tokens"), col("ttr_fx"),
          col("allocated"),
          expr(s"(allocated * $Fx4) div budget").as("budget_share_fx"))
        .orderBy(col("rank"))
    },

    // --- pk25: next-fit shard packing ------------------------------------
    //
    // pk25 is the planner mm18's accounting exists for: cut a source's
    // doc stream into TAR shards near a byte target. Next-fit by byte
    // offset in CLOSED FORM — shard = start_offset div target over one
    // per-source cumsum window (no iterative packer, no driver loop);
    // a doc straddling the boundary rides the shard it starts in, so a
    // shard overshoots by at most one doc (spec-pinned).
    "pk25_shard_packer" -> { (s, d) =>
      val run = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val perShard = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          (lit(512L) + expr("((octet_length(text) + 511) div 512) * 512"))
            .as("disk"))
        .withColumn("cum", sum(col("disk")).over(run))
        .withColumn("shard", expr(s"(cum - disk) div $TargetBytes"))
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          (sum(col("disk")) + 1024L).cast("long").as("shard_bytes"))
      perShard.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_shards"),
          sum(col("n_docs")).cast("long").as("n_docs"),
          max(col("shard_bytes")).cast("long").as("max_shard_bytes"),
          expr(s"sum(shard_bytes) * $Fx4 div (count(1) * $TargetBytes)")
            .cast("long").as("fill_fx"),
          sum(when(col("shard_bytes") > TargetBytes, 1L).otherwise(0L))
            .cast("long").as("n_overshot"))
        .orderBy(col("source"))
    },

    // The pipeline composition the pk and dd families exist for, priced
    // end-to-end: exact dedup (dd01's keeper rule — min doc_id per
    // normalized-text fingerprint, corpus-global) runs BEFORE the shard
    // packer (pk25's next-fit-by-offset in closed form, TAR byte
    // accounting), and the census shows what dedup buys the storage
    // bill: docs, bytes and shards before vs after, per source. Both
    // packing passes are the same per-source cumsum window; keeper
    // selection is one fingerprint aggregate joined back — no new
    // machinery, which is the point: the stages COMPOSE.
    "pk26_dedup_aware_packing" -> { (s, d) =>
      val base = Dedup.barrier(Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          Hashing.hash64(lower(regexp_replace(trim(col("text")),
            "\\s+", " "))).as("fp"),
          (lit(512L) + expr("((octet_length(text) + 511) div 512) * 512"))
            .as("disk")))
      val keepers = base.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"))
      val kept = base.join(keepers, Seq("fp"))
        .filter(col("doc_id") === col("keeper"))
        .select(col("source"), col("doc_id"), col("disk"))
      def packed(docs: DataFrame, tag: String): DataFrame = {
        val run = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs.withColumn("cum", sum(col("disk")).over(run))
          .withColumn("shard", expr(s"(cum - disk) div $TargetBytes"))
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as(s"docs_$tag"),
            sum(col("disk")).cast("long").as(s"bytes_$tag"),
            (countDistinct(col("shard")).cast("long"))
              .as(s"shards_$tag"))
      }
      packed(base.select(col("source"), col("doc_id"), col("disk")), "before")
        .join(packed(kept, "after"), Seq("source"))
        .withColumn("saved_bytes_fx", expr(
          s"(bytes_before - bytes_after) * $Fx4 div bytes_before"))
        .select(col("source"), col("docs_before"), col("docs_after"),
          col("bytes_before"), col("bytes_after"), col("shards_before"),
          col("shards_after"), col("saved_bytes_fx"))
        .orderBy(col("source"))
    },

    // --- pk27: shard-size autopick --------------------------------------
    // pk07 manifests shards and pk19 prices write amplification; pk27
    // decides the target file size: largest stop that keeps the file
    // count above the parallelism floor. One aggregate over the corpus,
    // then arithmetic on a 4-row dial — the 100 TB posture is the same
    // rule with the cluster's core count as the floor.
    "pk27_shard_size_autopick" -> { (s, d) =>
      shardAutopick(byteCensus(s, d)).orderBy(col("target_mib"))
    }
  )

  def oracles: Map[String, String] = Map(
    "pk01_token_packing" ->
      s"""SELECT lang, CAST(floor((cum - n_tokens) / $PackBudget) AS BIGINT) AS pack_id,
         | COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
         |FROM (
         |  SELECT lang, doc_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM (SELECT lang, doc_id, len(${Dedup.duckToks}) AS n_tokens FROM documents))
         |GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin,

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

    "pk05_pack_plan" ->
      s"""WITH d AS (
         |  SELECT lang, source, doc_id, CAST(len(${Dedup.duckToks}) AS BIGINT) AS ntok
         |  FROM documents),
         |b AS (
         |  SELECT lang, source, ntok,
         |    (sum(ntok) OVER (PARTITION BY lang, source
         |       ORDER BY ntok DESC, doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok)
         |      // $BinBudget AS bin_id
         |  FROM d)
         |SELECT lang, source, CAST(bin_id AS BIGINT) AS bin_id,
         |  COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS bin_tokens,
         |  MAX(ntok) AS max_doc_tokens,
         |  CAST(SUM(ntok) AS BIGINT) > $BinBudget AS over_budget
         |FROM b GROUP BY lang, source, bin_id
         |ORDER BY lang, source, bin_id""".stripMargin,

    "pk06_ctx_curve" ->
      s"""WITH d AS (
         |  SELECT CAST(len(${Dedup.duckToks}) AS BIGINT) AS ntok FROM documents),
         |x AS (
         |  SELECT ntok, CAST(ctx_len AS BIGINT) AS ctx_len
         |  FROM d CROSS JOIN
         |    (SELECT unnest([${CtxLens.mkString(", ")}]) AS ctx_len) ls)
         |SELECT ctx_len, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN ntok > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_truncated,
         |  CAST(SUM(greatest(ntok - ctx_len, 0)) AS BIGINT) AS lost_tokens,
         |  CAST(SUM(greatest(ctx_len - ntok, 0)) AS BIGINT) AS pad_tokens,
         |  CAST(SUM(least(ntok, ctx_len)) AS BIGINT) AS kept_tokens,
         |  (CAST(SUM(least(ntok, ctx_len)) AS BIGINT) * 1000000)
         |    // (COUNT(*) * ctx_len) AS util_fx
         |FROM x GROUP BY ctx_len ORDER BY ctx_len""".stripMargin,

    "pk07_shard_manifest" -> {
      val h = Hashing.duckHash64("CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT $h % $ManifestShards AS shard,
         |    CAST(len(${Dedup.duckToks}) AS BIGINT) AS n_toks, n_chars
         |  FROM documents),
         |t AS (SELECT COUNT(*) AS n_total FROM d)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
         |  (COUNT(*) * 1000000) // n_total AS share_fx,
         |  (COUNT(*) * $ManifestShards * 1000000) // n_total AS imb_fx
         |FROM d CROSS JOIN t GROUP BY shard, n_total ORDER BY shard""".stripMargin
    },

    "pk08_epoch_shuffle" -> {
      val h = Hashing.duckHash64(
        "concat_ws('|', CAST(epoch AS VARCHAR), CAST(doc_id AS VARCHAR))")
      s"""WITH s AS (
         |  SELECT CAST(epoch AS INTEGER) AS epoch, doc_id, $h AS h
         |  FROM documents
         |  CROSS JOIN (SELECT unnest([${Epochs.mkString(", ")}]) AS epoch) e)
         |SELECT epoch, h % $ShuffleShards AS shard, doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY epoch, h % $ShuffleShards
         |    ORDER BY h, doc_id) AS pos
         |FROM s""".stripMargin
    },

    "pk09_length_buckets" ->
      s"""WITH d AS (
         |  SELECT CAST(len(${Dedup.duckToks}) AS BIGINT) AS n FROM documents
         |  WHERE len(${Dedup.duckToks}) > 0),
         |b AS (SELECT n, CAST(length(bin(n)) - 1 AS INTEGER) AS bucket FROM d),
         |g AS (SELECT MAX(n) AS gmax FROM b),
         |a AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n) AS BIGINT) AS sum_tokens, MAX(n) AS cap_tokens
         |  FROM b GROUP BY bucket)
         |SELECT bucket, n_docs, sum_tokens, cap_tokens,
         |  ((n_docs * cap_tokens - sum_tokens) * $Fx) // (n_docs * cap_tokens)
         |    AS bucket_waste_fx,
         |  ((n_docs * (gmax - cap_tokens)) * $Fx) // (n_docs * gmax)
         |    AS saved_vs_global_fx
         |FROM a CROSS JOIN g ORDER BY bucket""".stripMargin,

    "pk10_curriculum_phases" -> {
      // quality is tx02's SHARED oracle fragment — one definition,
      // both oracles, no silent drift
      val q = TextAnalysis.duckQuality
      s"""WITH base AS (
         |  SELECT doc_id, len(${Dedup.duckToks}) AS n_tokens,
         |    CAST(${TextAnalysis.duckStop} AS DOUBLE) / len(${Dedup.duckToks})
         |      AS stop_ratio,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text)
         |      AS punct_ratio
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(floor(($q) * 10000) AS BIGINT) AS q4
         |  FROM base),
         |phased AS (
         |  SELECT n_tokens, q4,
         |    NTILE($Phases) OVER (ORDER BY q4, doc_id) AS phase
         |  FROM scored),
         |census AS (
         |  SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |    MIN(q4) AS min_q4, MAX(q4) AS max_q4
         |  FROM phased GROUP BY phase),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tokens FROM census)
         |SELECT phase, n_docs, n_tokens,
         |  (n_tokens * $Fx) // t_tokens AS token_share_fx,
         |  min_q4, max_q4
         |FROM census CROSS JOIN t ORDER BY phase""".stripMargin
    },

    "pk11_curate_pack_e2e" -> {
      val fp = Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
      s"""${TextAnalysis.duckRuleFlagsCtes},
         |fps AS (
         |  SELECT doc_id, $fp AS fp FROM documents),
         |fl AS (
         |  SELECT flags.doc_id, lang, n_words, keep, fp
         |  FROM flags JOIN fps ON flags.doc_id = fps.doc_id),
         |finals AS (
         |  SELECT doc_id, lang, n_words FROM (
         |    SELECT doc_id, lang, n_words,
         |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |    FROM fl WHERE keep)
         |  WHERE rn = 1),
         |packed AS (
         |  SELECT lang, n_words,
         |    CAST(floor((cum - n_words) / ${PackBudget}) AS BIGINT)
         |      AS pack_id
         |  FROM (
         |    SELECT lang, n_words,
         |      SUM(n_words) OVER (PARTITION BY lang ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM finals))
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs_final,
         |  CAST(SUM(n_words) AS BIGINT) AS tokens_final,
         |  CAST(MAX(pack_id) + 1 AS BIGINT) AS n_packs,
         |  (CAST(SUM(n_words) AS BIGINT) * $Fx)
         |    // (CAST(MAX(pack_id) + 1 AS BIGINT) * ${PackBudget})
         |    AS fill_fx
         |FROM packed GROUP BY lang ORDER BY lang""".stripMargin
    },

    "pk12_split_manifest" -> {
      val h = Hashing.duckHash64("CAST(doc_id AS VARCHAR)")
      s"""WITH b AS (
         |  SELECT CASE WHEN (($h) % 100 + 100) % 100 < 96 THEN 'train'
         |              WHEN (($h) % 100 + 100) % 100 < 98 THEN 'val'
         |              ELSE 'test' END AS split,
         |    source, len(${Dedup.duckToks}) AS n_tokens
         |  FROM documents),
         |g AS (
         |  SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |  FROM b GROUP BY split, source)
         |SELECT split, source, n_docs, n_tokens,
         |  (n_docs * $Fx) // CAST(SUM(n_docs) OVER (PARTITION BY split) AS BIGINT)
         |    AS source_share_fx
         |FROM g ORDER BY split, source""".stripMargin
    },

    "pk13_shard_rebalance" -> {
      val h = Hashing.duckHash64("CAST(doc_id AS VARCHAR)")
      s"""WITH shards AS (
         |  SELECT (($h) % 16 + 16) % 16 AS shard,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM shards),
         |sized AS (
         |  SELECT shard, n_docs, total // 16 AS target,
         |    n_docs - total // 16 AS excess
         |  FROM shards CROSS JOIN tot),
         |donors AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY excess DESC, shard) AS rk,
         |    shard AS from_shard, excess
         |  FROM sized WHERE excess > 0),
         |receivers AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY excess ASC, shard) AS rk,
         |    shard AS to_shard, -excess AS deficit
         |  FROM sized WHERE excess < 0)
         |SELECT CAST(d.rk AS BIGINT) AS pair_rank, from_shard, to_shard,
         |  CAST(least(excess, deficit) AS BIGINT) AS moved,
         |  CAST(excess - least(excess, deficit) AS BIGINT) AS residual
         |FROM donors d JOIN receivers r ON d.rk = r.rk
         |ORDER BY pair_rank""".stripMargin
    },

    "pk14_tokenizer_fertility" ->
      s"""WITH b AS (
         |  SELECT lang, CAST(len(${Dedup.duckToks}) AS BIGINT) AS ws,
         |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         |      AS BIGINT) AS bpe
         |  FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
         |  (CAST(SUM(bpe) AS BIGINT) * $Fx) // CAST(SUM(ws) AS BIGINT)
         |    AS fertility_fx
         |FROM b GROUP BY lang ORDER BY lang""".stripMargin,

    "pk15_boundary_window" ->
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |    CAST(len(${Dedup.duckToks}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT lang, doc_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM d),
         |p AS (
         |  SELECT lang, doc_id, n_tokens,
         |    CAST(FLOOR((cum - n_tokens) / ${PackBudget}) AS BIGINT) AS pack_id
         |  FROM c),
         |x AS (
         |  SELECT lang, pack_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang, pack_id ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS a,
         |    SUM(n_tokens) OVER (PARTITION BY lang, pack_id) AS pack_tokens
         |  FROM p),
         |b AS (
         |  SELECT lang, a, pack_tokens - a AS b,
         |    LEAST(a, ${AttnW - 1}) AS bigA
         |  FROM x WHERE pack_tokens - a > 0),
         |cr AS (
         |  SELECT lang,
         |    GREATEST(0, LEAST($AttnW - b, bigA)) * b
         |      + (bigA - GREATEST(0, LEAST($AttnW - b, bigA))) * $AttnW
         |      - (bigA * (bigA + 1)
         |         - GREATEST(0, LEAST($AttnW - b, bigA))
         |           * (GREATEST(0, LEAST($AttnW - b, bigA)) + 1)) // 2 AS cross_n
         |  FROM b),
         |pk AS (
         |  SELECT lang, pack_id, SUM(n_tokens) AS L FROM p GROUP BY lang, pack_id),
         |pt AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_packs,
         |    CAST(SUM(LEAST(${AttnW - 1}, L - 1) * L
         |      - LEAST(${AttnW - 1}, L - 1) * (LEAST(${AttnW - 1}, L - 1) + 1) // 2)
         |      AS BIGINT) AS total_pairs
         |  FROM pk GROUP BY lang),
         |ct AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_boundaries,
         |    CAST(SUM(cross_n) AS BIGINT) AS cross_pairs
         |  FROM cr GROUP BY lang)
         |SELECT pt.lang, n_packs,
         |  COALESCE(n_boundaries, 0) AS n_boundaries,
         |  COALESCE(cross_pairs, 0) AS cross_pairs, total_pairs,
         |  (COALESCE(cross_pairs, 0) * $Fx) // GREATEST(total_pairs, 1)
         |    AS cross_share_fx
         |FROM pt LEFT JOIN ct ON pt.lang = ct.lang
         |ORDER BY pt.lang""".stripMargin,

    "pk16_truncation_loss" ->
      s"""WITH d AS (
         |  SELECT CAST(len(${Dedup.duckToks}) AS BIGINT) AS n FROM documents),
         |x AS (
         |  SELECT n, unnest([${Ctxs.mkString(", ")}]) AS ctx FROM d)
         |SELECT ctx, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CASE WHEN n > ctx THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_truncated,
         |  CAST(SUM(GREATEST(n - ctx, 0)) AS BIGINT) AS tokens_lost,
         |  (CAST(SUM(GREATEST(n - ctx, 0)) AS BIGINT) * $Fx)
         |    // CAST(SUM(n) AS BIGINT) AS loss_share_fx
         |FROM x GROUP BY ctx ORDER BY ctx""".stripMargin,

    "pk17_worker_skew" ->
      s"""WITH sharded AS (
         |  SELECT ${Hashing.duckHash64("CAST(doc_id AS VARCHAR)")} % $NShards AS shard,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(len(${Dedup.duckToks})) AS BIGINT) AS tokens
         |  FROM documents GROUP BY 1),
         |w AS (
         |  SELECT shard % $NWorkers AS worker,
         |    CAST(COUNT(*) AS BIGINT) AS n_shards,
         |    CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |    CAST(SUM(tokens) AS BIGINT) AS tokens
         |  FROM sharded GROUP BY 1),
         |t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens FROM w)
         |SELECT worker, n_shards, n_docs, tokens,
         |  CAST((tokens * $NWorkers * $Fx) // total_tokens AS BIGINT) AS load_fx
         |FROM w CROSS JOIN t ORDER BY worker""".stripMargin,

    "pk18_shuffle_locality" -> {
      // the pk08 shuffle layout re-derived inline (same hash recipe)
      val h = graft.functions.Hashing.duckHash64(
        "concat_ws('|', CAST(epoch AS VARCHAR), CAST(doc_id AS VARCHAR))")
      s"""WITH sh AS (
         |  SELECT epoch, doc_id, $h AS h,
         |    $h % ${ShuffleShards} AS shard
         |  FROM documents CROSS JOIN
         |    (SELECT unnest([${Epochs.mkString(", ")}]) AS epoch) e),
         |pos AS (
         |  SELECT epoch, shard, doc_id,
         |    row_number() OVER (PARTITION BY epoch, shard
         |      ORDER BY h, doc_id) AS pos
         |  FROM sh),
         |adj AS (
         |  SELECT p.epoch, s.source,
         |    lag(s.source) OVER (PARTITION BY p.epoch, p.shard
         |      ORDER BY p.pos) AS prev_source
         |  FROM pos p JOIN documents s USING (doc_id)),
         |obs AS (
         |  SELECT epoch, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN source = prev_source THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_same
         |  FROM adj WHERE prev_source IS NOT NULL GROUP BY 1),
         |shr AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents
         |  GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM shr),
         |ex AS (
         |  SELECT CAST(SUM(((n_s * $Fx) // n) * ((n_s * $Fx) // n) // $Fx)
         |    AS BIGINT) AS exp_fx
         |  FROM shr CROSS JOIN t)
         |SELECT epoch, n_pairs, n_same,
         |  (n_same * $Fx) // n_pairs AS obs_fx, exp_fx
         |FROM obs CROSS JOIN ex ORDER BY epoch""".stripMargin
    },

    "pk19_write_amplification" -> {
      def arm(strategy: String, shardExpr: String): String =
        s"""SELECT '$strategy' AS strategy,
           |  CAST(COUNT(*) AS BIGINT) AS n_shards,
           |  CAST(SUM(touched) AS BIGINT) AS shards_touched,
           |  CAST(SUM(changed_bytes) AS BIGINT) AS bytes_changed,
           |  CAST(SUM(CASE WHEN touched = 1 THEN shard_bytes ELSE 0 END)
           |    AS BIGINT) AS bytes_rewritten,
           |  CAST((CAST(SUM(CASE WHEN touched = 1 THEN shard_bytes ELSE 0 END)
           |    AS HUGEINT) * $Fx)
           |    // greatest(CAST(SUM(changed_bytes) AS BIGINT), 1)
           |    AS BIGINT) AS amp_fx
           |FROM (
           |  SELECT $shardExpr AS shard,
           |    CAST(SUM(bytes) AS BIGINT) AS shard_bytes,
           |    CAST(SUM(CASE WHEN changed THEN bytes ELSE 0 END) AS BIGINT)
           |      AS changed_bytes,
           |    MAX(CASE WHEN changed THEN 1 ELSE 0 END) AS touched
           |  FROM base GROUP BY 1)""".stripMargin
      s"""WITH b AS (
         |  SELECT MIN(doc_id) AS lo,
         |    MAX(doc_id) - MIN(doc_id) + 1 AS span FROM documents),
         |base AS (
         |  SELECT doc_id, n_chars AS bytes,
         |    ${Hashing.duckHash64("CAST(doc_id AS VARCHAR)")} % $ChangeMod = 0
         |      AS changed,
         |    ${Hashing.duckHash64(
              "concat_ws('|', 'shard', CAST(doc_id AS VARCHAR))")} % $NShards
         |      AS hash_shard,
         |    ((doc_id - lo) * $NShards) // span AS range_shard
         |  FROM documents CROSS JOIN b)
         |SELECT * FROM (
         |  ${arm("hash", "hash_shard")}
         |  UNION ALL
         |  ${arm("range", "range_shard")})
         |ORDER BY strategy""".stripMargin
    },

    "pk20_window_doc_mixing" ->
      s"""WITH docs AS (
         |  SELECT lang, source, doc_id,
         |    CAST(len(${Dedup.duckToks}) AS BIGINT) AS ntok
         |  FROM documents WHERE len(${Dedup.duckToks}) > 0),
         |pre AS (
         |  SELECT lang, source, ntok,
         |    CAST(SUM(ntok) OVER (PARTITION BY lang, source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS p_end
         |  FROM docs),
         |ctx AS (SELECT unnest([${CtxSizes.mkString(", ")}]) AS ctx),
         |perdoc AS (
         |  SELECT c.ctx,
         |    ((p_end - 1) // c.ctx) - ((p_end - ntok) // c.ctx) + 1 AS touched
         |  FROM pre CROSS JOIN ctx c),
         |da AS (
         |  SELECT ctx, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(touched) AS BIGINT) AS touch_sum,
         |    CAST(SUM(CASE WHEN touched >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_straddlers
         |  FROM perdoc GROUP BY 1),
         |slices AS (
         |  SELECT lang, source, MAX(p_end) AS slice_tokens
         |  FROM pre GROUP BY 1, 2),
         |wa AS (
         |  SELECT c.ctx,
         |    CAST(SUM((slice_tokens + c.ctx - 1) // c.ctx) AS BIGINT)
         |      AS n_windows
         |  FROM slices CROSS JOIN ctx c GROUP BY 1)
         |SELECT da.ctx, n_windows, n_docs, n_straddlers,
         |  (touch_sum * $Fx) // n_windows AS avg_docs_per_window_fx,
         |  (n_straddlers * $Fx) // n_docs AS straddle_share_fx
         |FROM da JOIN wa ON da.ctx = wa.ctx ORDER BY da.ctx""".stripMargin,

    "pk21_bpe_train" -> {
      val rows = (1 to NMerges).map { r =>
        s"""SELECT $r AS round, split_part(p, ' ', 1) AS sym_x,
           |  split_part(p, ' ', 2) AS sym_y, n AS pair_n,
           |  ${duckSyms(s"s$r")} AS corpus_syms FROM b$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $duckTrainCtes
         |SELECT CAST(round AS BIGINT) AS round, sym_x, sym_y, pair_n,
         |  corpus_syms
         |FROM (
         |  SELECT 0 AS round, '' AS sym_x, '' AS sym_y,
         |    CAST(0 AS BIGINT) AS pair_n,
         |    ${duckSyms("s0")} AS corpus_syms
         |  UNION ALL
         |  $rows)
         |ORDER BY round""".stripMargin
    },

    "pk22_bpe_fertility" ->
      s"""WITH $duckTrainCtes,
         |enc AS (
         |  SELECT word,
         |    CAST((len(seq) - len(replace(seq, '|', ''))) // 2 AS BIGINT) AS syms
         |  FROM s$NMerges),
         |lw AS (
         |  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS lcnt FROM (
         |    SELECT lang, unnest(regexp_extract_all(text, '[a-z]+')) AS word
         |    FROM documents)
         |  GROUP BY lang, word)
         |SELECT lang, CAST(SUM(lcnt) AS BIGINT) AS n_words,
         |  CAST(SUM(lcnt * syms) AS BIGINT) AS bpe_tokens,
         |  (CAST(SUM(lcnt * syms) AS BIGINT) * $Fx)
         |    // CAST(SUM(lcnt) AS BIGINT) AS fertility_fx
         |FROM lw JOIN enc USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "pk23_prefix_cache_yield" -> {
      val perL = PrefixLens.map { l =>
        s"""SELECT CAST($l AS BIGINT) AS prefix_len,
           |    md5(array_to_string(toks[1:$l], ' ')) AS ph
           |  FROM base WHERE ntok >= $l""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH base AS (
         |  SELECT doc_id, len(toks) AS ntok, toks
         |  FROM (SELECT doc_id, ${Dedup.duckToks} AS toks FROM documents)),
         |pl AS (
         |  $perL),
         |grps AS (
         |  SELECT prefix_len, ph, CAST(COUNT(*) AS BIGINT) AS grp
         |  FROM pl GROUP BY 1, 2),
         |agg AS (
         |  SELECT prefix_len, CAST(SUM(grp) AS BIGINT) AS n_docs,
         |    CAST(COUNT(*) AS BIGINT) AS n_prefixes,
         |    CAST(SUM((grp - 1) * prefix_len) AS BIGINT) AS saved_tokens
         |  FROM grps GROUP BY 1),
         |tot AS (SELECT CAST(SUM(ntok) AS BIGINT) AS corpus_tokens FROM base),
         |lens AS (SELECT CAST(unnest([${PrefixLens.mkString(", ")}]) AS BIGINT)
         |  AS prefix_len)
         |SELECT lens.prefix_len,
         |  COALESCE(n_docs, 0) AS n_docs,
         |  COALESCE(n_prefixes, 0) AS n_prefixes,
         |  COALESCE(saved_tokens, 0) AS saved_tokens,
         |  CAST(COALESCE(saved_tokens, 0) * $Fx4 // corpus_tokens AS BIGINT)
         |    AS saved_share_fx
         |FROM lens LEFT JOIN agg ON agg.prefix_len = lens.prefix_len
         |CROSS JOIN tot ORDER BY lens.prefix_len""".stripMargin
    },

    "pk24_budget_waterfill" ->
      s"""WITH tok AS (
         |  SELECT source, unnest(${Dedup.duckToks}) AS tok FROM documents),
         |bysrc AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS src_tokens,
         |    CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_toks
         |  FROM tok GROUP BY source),
         |q AS (
         |  SELECT source, src_tokens,
         |    (distinct_toks * $Fx4) // src_tokens AS ttr_fx
         |  FROM bysrc),
         |tot AS (
         |  SELECT (CAST(SUM(src_tokens) AS BIGINT) * $BudgetPct) // 100
         |    AS budget FROM q),
         |r AS (
         |  SELECT *, CAST(row_number() OVER w AS BIGINT) AS rank,
         |    SUM(src_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) - src_tokens AS cum_before
         |  FROM q CROSS JOIN tot
         |  WINDOW w AS (ORDER BY ttr_fx DESC, source))
         |SELECT rank, source, src_tokens, CAST(ttr_fx AS BIGINT) AS ttr_fx,
         |  CAST(GREATEST(0, LEAST(src_tokens, budget - cum_before))
         |    AS BIGINT) AS allocated,
         |  CAST(GREATEST(0, LEAST(src_tokens, budget - cum_before)) * $Fx4
         |    // budget AS BIGINT) AS budget_share_fx
         |FROM r ORDER BY rank""".stripMargin,

    "pk25_shard_packer" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    512 + ((strlen(text) + 511) // 512) * 512 AS disk
         |  FROM documents),
         |placed AS (
         |  SELECT source,
         |    (SUM(disk) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - disk)
         |      // $TargetBytes AS shard,
         |    disk
         |  FROM d),
         |per_shard AS (
         |  SELECT source, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(disk) + 1024 AS BIGINT) AS shard_bytes
         |  FROM placed GROUP BY 1, 2)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shards,
         |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |  CAST(MAX(shard_bytes) AS BIGINT) AS max_shard_bytes,
         |  CAST(CAST(SUM(shard_bytes) AS BIGINT) * $Fx4
         |    // (COUNT(*) * $TargetBytes) AS BIGINT) AS fill_fx,
         |  CAST(SUM(CASE WHEN shard_bytes > $TargetBytes THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_overshot
         |FROM per_shard GROUP BY source ORDER BY source""".stripMargin,

    "pk26_dedup_aware_packing" -> {
      val fp = Hashing.duckHash64(
        "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
      s"""WITH base AS (
         |  SELECT source, doc_id, $fp AS fp,
         |    512 + ((strlen(text) + 511) // 512) * 512 AS disk
         |  FROM documents),
         |keepers AS (SELECT fp, MIN(doc_id) AS keeper FROM base GROUP BY fp),
         |kept AS (
         |  SELECT source, doc_id, disk FROM base
         |  JOIN keepers USING (fp) WHERE doc_id = keeper),
         |pb AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_before,
         |    CAST(SUM(disk) AS BIGINT) AS bytes_before,
         |    CAST(COUNT(DISTINCT shard) AS BIGINT) AS shards_before
         |  FROM (SELECT source,
         |      (SUM(disk) OVER (PARTITION BY source ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - disk)
         |        // $TargetBytes AS shard, disk
         |    FROM base)
         |  GROUP BY source),
         |pa AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_after,
         |    CAST(SUM(disk) AS BIGINT) AS bytes_after,
         |    CAST(COUNT(DISTINCT shard) AS BIGINT) AS shards_after
         |  FROM (SELECT source,
         |      (SUM(disk) OVER (PARTITION BY source ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - disk)
         |        // $TargetBytes AS shard, disk
         |    FROM kept)
         |  GROUP BY source)
         |SELECT source, docs_before, docs_after, bytes_before, bytes_after,
         |  shards_before, shards_after,
         |  CAST((bytes_before - bytes_after) * $Fx4 // bytes_before AS BIGINT)
         |    AS saved_bytes_fx
         |FROM pb JOIN pa USING (source) ORDER BY source""".stripMargin
    },

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
         |FROM f ORDER BY target_mib""".stripMargin
  )
}
