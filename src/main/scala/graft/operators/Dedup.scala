package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Deduplication family for training-data curation.
  *
  * Scale posture: NONE of these do an O(n²) cross join. Candidate
  * pairs always come from an equi-join on a bucket key (content hash,
  * min-shingle, LSH band, SimHash value, label bucket), so at 100 TB
  * each variant is shuffle-on-bucket + within-bucket pair check —
  * the standard MinHash-LSH banding construction.
  *
  * Hashing strategy (cost matters: at 100 TB the shingle hash IS the
  * hot loop): each shingle is md5-hashed ONCE ([[Hashing.hash64]], so
  * the DuckDB oracle reproduces it), and the k MinHash families are
  * affine transforms `(a_k·h32 + b_k) mod P` over that single hash —
  * pure 64-bit arithmetic, codegen'd, no per-family md5. Jaccard
  * compares hashed-shingle long arrays, not string arrays.
  */
object Dedup extends Operators {

  // canonical definitions live in graft.functions.Hashing (shared
  // with the native MinhashSigExpr, which cannot depend on this
  // package); these aliases keep the long-standing call sites and
  // oracle builders unchanged
  val MinhashK: Int = Hashing.MinhashK
  val Bands = 4
  val RowsPerBand = 4 // MinhashK / Bands

  /** Affine MinHash family over a 32-bit folded hash: coefficients are
    * fixed (deterministic in k) and small enough that a·h32+b < 2^52
    * never overflows; P is the smallest prime > 2^32.
    */
  val P: Long = Hashing.MinhashP
  val A: IndexedSeq[Long] = Hashing.MinhashA
  val B: IndexedSeq[Long] = Hashing.MinhashB

  /** Word 3-gram shingle strings (with duplicates; distinct applied
    * after hashing).
    */
  def shingleStrings(toks: Column): Column =
    transform(
      sequence(lit(0), size(toks) - 3),
      i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))

  /** Distinct hashed shingles: one md5 per shingle, long array out. */
  def shingleHashes(toks: Column): Column =
    array_distinct(transform(shingleStrings(toks), x => Hashing.hash64(x)))

  /** MinHash signature columns, one per family, fully unrolled with
    * literal coefficients — array-literal lookups inside nested
    * lambdas defeat codegen (measured 8× slower), unrolling keeps the
    * whole thing in one codegen'd projection.
    */
  def minhashSigCols(shs: Column): Seq[Column] =
    (0 until MinhashK).map { k =>
      array_min(transform(shs, h =>
        (lit(A(k)) * pmod(h, lit(4294967296L)) + lit(B(k))) % lit(P)))
    }

  /** MinHash signature as a single array column — the native fused
    * single-pass expression (one traversal computes all 16 minima;
    * bit-identical to `array(minhashSigCols…)`, which remains the
    * spec-checked reference formulation).
    */
  def minhashSig(shs: Column): Column = graft.functions.MinhashSigExpr(shs)

  /** The composed reference form of [[minhashSig]] — kept for the
    * equivalence spec; K array traversals, never used in operators.
    */
  private[graft] def minhashSigComposed(shs: Column): Column =
    array(minhashSigCols(shs): _*)

  /** (doc_id, simhash) — unordered; dd04 adds the ORDER BY, dd07
    * consumes it barrier-materialized for the banded self-join.
    */
  private[operators] def simhashes(s: SparkSession, d: String): DataFrame =
    simhashesOf(Tables.documents(s, d))

  /** Frame-input variant, for specs feeding crafted corpora. */
  private[graft] def simhashesOf(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("token"))
      .withColumn("h", Hashing.hash64(col("token")))
    val bitSums = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$b"))
    val agged = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until SimhashBits).map(b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agged.select(col("doc_id"), simhash.as("simhash"))
  }

  /** Exact Jaccard between two hashed-shingle arrays, oracle-parity
    * truncated. ONE definition feeds dd02 and dd12's estimator
    * comparison — drift here would silently invalidate dd12's
    * reported error while both oracles keep passing.
    */
  private[operators] def exactJaccard(a: Column, b: Column): Column = {
    val common = graft.functions.IntersectCountExpr(a, b)
    graft.functions.Det.trunc4(
      common.cast("double") / (size(a) + size(b) - common))
  }

  /** (doc_id, band, band_hash) — the LSH banding table dd03 joins on
    * and dd23 caps; ONE definition so the capped variant prices
    * exactly the banding the full join uses. NOT barriered here —
    * callers own materialization (barrier is a single-slot cache).
    */
  private[graft] def bandedSignatures(s: SparkSession, d: String): DataFrame =
    bandedSignaturesOf(docShingles(s, d))

  /** Frame-input variant (r13 opt): queries that already hold a
    * barriered shingle table pass it here so the banded build reads
    * the CACHE — the (s, d) overload rebuilds the split+md5 shingle
    * lineage from the scan, and dd32/dd33/dd36/dd37/dd44's barriers
    * were silently running that pipeline twice per query.
    */
  private[graft] def bandedSignaturesOf(shingles: DataFrame): DataFrame =
    // one fused signature pass (MinhashSigExpr), bands sliced out of
    // the array — the shingle array is traversed once per doc, not
    // once per hash family
    bandedFromSigCol(
      shingles.select(col("doc_id"), minhashSig(col("shs")).as("_sig")), "_sig")

  /** Band an EXISTING signature column. Callers whose barriered frame
    * already carries the fused signature (dd37) band off the cached
    * array instead of paying a second MinhashSigExpr pass over every
    * cached shingle array (ADVICE r13).
    */
  private[graft] def bandedFromSigCol(signed: DataFrame, sigCol: String): DataFrame =
    signed.select(col("doc_id"), posexplode(array(bandHashCols(col(sigCol)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

  /** The [[Bands]] band-hash columns sliced from a [[minhashSig]]
    * array — shared by every banding variant so the (4, 4) geometry
    * has one definition.
    */
  private[graft] def bandHashCols(sig: Column): Seq[Column] =
    (0 until Bands).map(b =>
      Hashing.hash64(concat_ws(",",
        (0 until RowsPerBand).map(r =>
          element_at(sig, b * RowsPerBand + r + 1)): _*)))

  /** docs → (doc_id, shs: array<long>) for docs with ≥3 tokens. */
  private[graft] def docShingles(s: SparkSession, d: String): DataFrame =
    docShinglesOf(Tables.documents(s, d))

  /** Frame-input variant, for specs feeding crafted corpora. */
  private[graft] def docShinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), shingleHashes(col("toks")).as("shs"))

  /** SimHash width. 60 bits — the full width of [[Hashing.hash64]]
    * (15 hex chars, always non-negative), so every simhash bit is a
    * real hash bit and none of the bigint sign-bit parity hazards of a
    * 64-bit layout apply. dd07 bands this as 4 disjoint 15-bit bands
    * (32,768 bucket values per band): with n docs per band-bucket
    * averaging n/32768 instead of n/64, candidate pairs grow
    * O(n²/2^15) per band — the difference between a usable LSH join
    * and a near cross join at corpus scale. Pigeonhole exactness for
    * hamming ≤ 3 needs only DISJOINT bands covering all bits (≤ 3
    * flips across 4 disjoint bands always leave one band clean), so
    * widening the bands costs zero recall.
    */
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits = 15 // SimhashBits / SimhashBands
  val SimhashBandMask = (1L << SimhashBandBits) - 1

  /** Hot-bucket occupancy cap for the SimHash band self-joins (dd07,
    * dd33) — the same hazard [[MinBucketCap]] closes for the
    * min-shingle join: a near-constant field or templated text makes
    * ONE 15-bit band value globally hot, and the band equi-join then
    * pays Σ occ² pairs inside that single bucket regardless of how
    * good the other 2^15−1 buckets are. Unlike min-shingle buckets
    * (docs sharing one random shingle — honest occupancy ≤ 19),
    * simhash band buckets legitimately concentrate ENTIRE near-dup
    * clusters, and cluster size scales with the corpus (measured:
    * the testdata's main cluster is 155 docs at sf0.01, 1,582 at
    * sf0.1 — pure dropping at cap 128 loses 91% of true hamming≤3
    * pairs at sf0.1). So the recipe here is cap + STAR FALLBACK, not
    * cap + drop: buckets at ≤ cap do the full within-bucket pair
    * join; hotter buckets degrade to O(occ) hub probing — every
    * member pairs with the bucket's min-doc_id hub — preserving
    * cluster connectivity (the thing dedup actually needs from a
    * mega-cluster) at any scale while bounding the join at
    * cap·(cap−1)/2 per kept bucket plus occ−1 per hot one. dd40
    * PRICES the sweep (dd23's recipe on the simhash pipeline); the
    * adversarial-corpus spec (Round8Spec) exercises the hot path.
    * 1024 keeps the sf0.01 gate corpus un-capped and bites on the
    * sf0.1 mega-cluster, where the star path is measured.
    */
  val SimhashBucketCap = 1024

  /** (doc_id, simhash, band, bval) — the SimHash banding table the
    * batch pair joins consume; ONE definition so dd07, dd33, and the
    * dd40 pricing sweep band identically. NOT barriered here —
    * callers own materialization (barrier is a single-slot cache).
    */
  private[graft] def simhashBanded(s: SparkSession, d: String): DataFrame =
    simhashBandedOf(simhashes(s, d))

  /** Frame-input variant, for specs feeding crafted corpora. */
  private[graft] def simhashBandedOf(sims: DataFrame): DataFrame =
    sims.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimhashBands).map(b =>
          shiftright(col("simhash"), b * SimhashBandBits)
            .bitwiseAND(SimhashBandMask)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bval")

  /** Per-bucket stats the capped pair join needs: occupancy plus the
    * star hub (min doc_id, with its simhash via min_by — doc_id is
    * unique, so min_by is deterministic and matches DuckDB arg_min).
    */
  private[graft] def simhashBucketStats(banded: DataFrame): DataFrame =
    banded.groupBy(col("band"), col("bval"))
      .agg(count(lit(1)).as("occ"),
        min(col("doc_id")).as("hub"),
        min_by(col("simhash"), col("doc_id")).as("hub_sh"))

  /** The kept-bucket filter side: (band, bval) with occupancy ≤
    * [[SimhashBucketCap]], derived from [[simhashBucketStats]] output
    * so the cap predicate has exactly ONE definition (ADVICE r8:
    * a test-only twin of the production filter could silently
    * diverge). Callers pass the stats frame, not the banded frame.
    */
  private[graft] def simhashKept(stats: DataFrame): DataFrame =
    stats.filter(col("occ") <= SimhashBucketCap)
      .select(col("band"), col("bval"))

  /** Capped simhash candidate pairs — distinct
    * (doc_a, doc_b, sh_a, sh_b), doc_a < doc_b: full within-bucket
    * pairs for buckets at ≤ [[SimhashBucketCap]], hub star edges for
    * hotter ones. `banded` should be barrier()-materialized by the
    * caller (it is read three times: stats + two join sides).
    */
  private[graft] def simhashCandidatePairs(banded: DataFrame): DataFrame =
    simhashCandidatePairsRaw(banded).distinct()

  /** [[simhashCandidatePairs]] WITHOUT the final distinct — a pair
    * sharing k kept buckets appears k times. Kept factored for plan
    * experiments, but measured WORSE as a consumer input at sf10:
    * letting a downstream aggregate dedup instead means the
    * pre-distinct pair mass (duplicates per shared band) rides the
    * consumer's shuffle, and at ladder scale that blew the
    * shuffle-spill disk budget the distinct'd frame fits. Production
    * consumers go through the distinct wrapper.
    */
  private[graft] def simhashCandidatePairsRaw(banded: DataFrame): DataFrame = {
    val stats = simhashBucketStats(banded)
    val kept = simhashKept(stats)
    val l = banded.select(col("band"), col("bval"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val r = banded.select(col("band"), col("bval"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    val keptPairs = l.join(kept, Seq("band", "bval")).join(r, Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
    val starPairs = banded
      .join(stats.filter(col("occ") > SimhashBucketCap)
        .select(col("band"), col("bval"), col("hub"), col("hub_sh")),
        Seq("band", "bval"))
      .filter(col("doc_id") =!= col("hub")) // hub is the bucket min ⇒ hub < doc_id
      .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"),
        col("hub_sh").as("sh_a"), col("simhash").as("sh_b"))
    keptPairs.union(starPairs)
  }

  /** Oracle twin of [[simhashCandidatePairs]]: CTE bodies to append
    * after a banded CTE named `banded` (columns doc_id, simhash,
    * band, bval) — ending in `${banded}_pairs` with columns
    * (doc_a, doc_b, sh_a, sh_b) — so every oracle caps and
    * star-falls-back exactly as the Spark side does.
    */
  private[graft] def duckSimhashPairCtes(banded: String): String =
    s"""${banded}_stats AS (
       |  SELECT band, bval, COUNT(*) AS occ, MIN(doc_id) AS hub,
       |    arg_min(simhash, doc_id) AS hub_sh
       |  FROM $banded GROUP BY band, bval),
       |${banded}_pairs AS (
       |  SELECT DISTINCT doc_a, doc_b, sh_a, sh_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      a.simhash AS sh_a, b.simhash AS sh_b
       |    FROM $banded a
       |    JOIN ${banded}_stats st
       |      ON st.band = a.band AND st.bval = a.bval
       |     AND st.occ <= $SimhashBucketCap
       |    JOIN $banded b
       |      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT st.hub AS doc_a, m.doc_id AS doc_b,
       |      st.hub_sh AS sh_a, m.simhash AS sh_b
       |    FROM $banded m
       |    JOIN ${banded}_stats st
       |      ON st.band = m.band AND st.bval = m.bval
       |     AND st.occ > $SimhashBucketCap
       |    WHERE m.doc_id <> st.hub))""".stripMargin

  /** Embedding near-dup banding geometry: 16 bands × 4 sign bits cover
    * all 64 dims once. Candidates = pairs sharing ≥1 band within their
    * label — the MinHash-banding OR-construction applied to sign-LSH,
    * so candidate generation is a (label, band, band_val) equi-join
    * whose buckets are 2^4 sub-splits of each label per band, never an
    * all-pairs join within label. Recall at the verify threshold is a
    * measured dial, not an assumption: dd13_lsh_recall gates the
    * banded candidates against the exact all-pairs ground truth.
    */
  val EmbBands = 16
  val EmbBandBits = 4
  val EmbThreshold = 0.2

  /** The legal stops of spark.graft.emb.bandBits — the widths dd45
    * prices and dd46 auto-picks. One definition so the planner, the
    * chooser, and the conf validation cannot drift.
    */
  val DialBits: Seq[Int] = Seq(4, 8, 16)

  /** Per-band sign values: band j packs the sign bits of dims
    * [j·EmbBandBits, (j+1)·EmbBandBits). Literal indices keep the whole
    * projection in one codegen stage (the minhashSigCols lesson).
    */
  def signBandCols(emb: Column): Seq[Column] =
    signBandColsFor(emb, EmbBandBits)

  /** The DENSITY DIAL (round 10): band width in bits, bands = 64/bits.
    * 4-bit bands (the default, mirrored literally by the DuckDB
    * oracle) collide at ~1/16 per band — the recall-first geometry for
    * eval-scale corpora, but candidate mass grows ~n²/2^bits per band,
    * so a denser corpus must widen the bands: the sf10 ladder's 200k
    * vectors at 4 bits planned ~2×10⁹ pairs (>54 GB of sort spill);
    * at 16 bits the same corpus yields a tractable candidate set, the
    * dd21 b×r S-curve trade (recall recovered by multi-probe, ss07).
    * Sessions opt in via spark.graft.emb.bandBits ∈ {4, 8, 16};
    * oracle laps never set it, so gated results are bit-identical.
    */
  def signBandColsFor(emb: Column, bits: Int): Seq[Column] = {
    require(64 % bits == 0 && bits >= 1 && bits <= 62,
      s"bandBits must divide 64: $bits")
    (0 until 64 / bits).map { j =>
      (0 until bits).map { i =>
        when(element_at(emb, j * bits + i + 1) > 0.0,
          lit((1L << i))).otherwise(lit(0L))
      }.reduce(_ + _)
    }
  }

  /** embeddings → (vec_id, label, emb: array<double>, norm). */
  private[operators] def embBase(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("norm", Similarity.l2norm(col("emb")))

  /** Banded sign-LSH candidate pairs: distinct (label, vec_a, vec_b)
    * sharing ≥1 band. The banded table is slim (ids + band key only —
    * embeddings rejoin AFTER the pair set is known, so the band
    * shuffle never carries vectors) and persisted across the
    * self-join.
    */
  private[operators] def embCandidates(s: SparkSession, d: String): DataFrame = {
    val bits = s.conf.getOption("spark.graft.emb.bandBits")
      .map(_.toInt).getOrElse(EmbBandBits)
    // the dial's legal stops only (ADVICE r10): signBandColsFor's own
    // require also admits 1/2/32, and any non-default value silently
    // breaks parity with the hard-coded 4-bit DuckDB oracle — fail at
    // read time, before a gated lap can run on the wrong geometry
    require(DialBits.contains(bits),
      s"spark.graft.emb.bandBits=$bits is outside the legal dial set " +
        DialBits.mkString("{", ", ", "}") +
        " — oracle laps must leave it unset (4-bit default)")
    val banded = barrier(embBase(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(array(signBandColsFor(col("emb"), bits): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_val"))
    val a = banded.select(col("label"), col("band"), col("band_val"),
      col("vec_id").as("vec_a"))
    val b = banded.select(col("label"), col("band"), col("band_val"),
      col("vec_id").as("vec_b"))
    // NOT scatterBy'd (r13 opt, measured negative): pinning the
    // distinct's exchange at full parallelism read dd05 0.96 → 1.61 s
    // and dd11 5.1 → 5.5 s in a controls-flat basket A/B — the
    // verify's per-pair dot work here is too small (a few k candidate
    // pairs) to pay for 32-task stages. The cold-run stage census
    // flagged this spot, but the converged cost says leave it to AQE.
    a.join(b, Seq("label", "band", "band_val"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"))
      .distinct()
  }

  /** Exact-cosine verify over a candidate pair frame: rejoins the
    * embeddings per side (co-partitioned on vec id) and scores each
    * pair. Shared by dd05/dd11/dd13 so the arithmetic cannot drift.
    */
  private[operators] def scoreCandidates(
      s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    val e = embBase(s, d)
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
        col("norm").as("norm_a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
        col("norm").as("norm_b")), Seq("vec_b"))
      .withColumn("cos_sim", graft.functions.Det.trunc4(
        Similarity.dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b"))))
  }

  /** Materialization barrier for signature tables that are self-joined
    * (without it each join side re-runs the whole md5-shingle pipeline).
    * Caches from the PREVIOUS invocation are released here so repeated
    * queries in one long-lived session don't accumulate executor
    * memory; unpersisting a frame a caller still holds merely degrades
    * to recompute, never to wrong results.
    */
  private val liveCaches = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private[operators] def barrier(df: DataFrame): DataFrame = {
    var old = liveCaches.poll()
    while (old != null) { old.unpersist(blocking = false); old = liveCaches.poll() }
    val p = df.persist()
    liveCaches.add(p)
    p
  }

  /** Release every live barrier frame NOW (instead of at the next
    * [[barrier]] call). For callers whose barriered frames are fully
    * consumed into driver-side values (the Tuned censuses): a
    * lingering persisted frame occupies the single cache slot and
    * storage memory a subsequent query wants.
    */
  private[operators] def releaseBarriers(): Unit = {
    var old = liveCaches.poll()
    while (old != null) { old.unpersist(blocking = false); old = liveCaches.poll() }
  }

  /** A SECOND materialization point in the same query: persists
    * WITHOUT releasing the frames the current query already
    * barriered (calling [[barrier]] twice would unpersist the first
    * frame mid-query). Released with everything else at the next
    * query's [[barrier]] call.
    */
  private[operators] def barrierAlso(df: DataFrame): DataFrame = {
    val p = df.persist()
    liveCaches.add(p)
    p
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: content-hash groupBy, keeper = min id
    "dd01_exact" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Hashing.hash64(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .select(col("keeper"), col("n_copies"))
        .orderBy(col("keeper"))
    },

    // n-gram Jaccard near-dup: min-shingle bucket candidates, exact J
    // over hashed shingle sets. The shingle table is persisted before
    // the self-join: without a materialization barrier each side (and
    // the join key) re-evaluates the whole md5-shingle pipeline —
    // at scale this is the "materialize the signature table" step.
    "dd02_ngram_jaccard" -> { (s, d) =>
      val ds = barrier(docShingles(s, d)
        .withColumn("bucket", array_min(col("shs"))))
      // hot-bucket cap (VERDICT r6): one globally-common shingle
      // hashing low would put a corpus fraction in ONE bucket — a
      // Σ DF² pair blowup at 100 TB. Buckets over MinBucketCap are
      // dropped before the self-join (dd23's recipe; dd23 prices the
      // recall cost of exactly this move). Testdata max occupancy is
      // 19 at sf0.1, so the cap is invisible to the gates.
      val kept = minBucketKept(ds)
      val a = ds.select(col("bucket"), col("doc_id").as("doc_a"), col("shs").as("sh_a"))
      val b = ds.select(col("bucket"), col("doc_id").as("doc_b"), col("shs").as("sh_b"))
      a.join(kept, Seq("bucket")).join(b, Seq("bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("jaccard", exactJaccard(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= 0.2)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // MinHash + banded LSH candidate pairs
    "dd03_minhash_lsh" -> { (s, d) =>
      val banded = barrier(bandedSignatures(s, d))
      val l = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
      val r = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
      l.join(r, Seq("band", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared_bands"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // SimHash over distinct-token hashes
    "dd04_simhash" -> { (s, d) =>
      simhashes(s, d).orderBy(col("doc_id"))
    },

    // embedding-cosine near-dup: banded sign-LSH candidates within
    // label (equi-join on (label, band, band_val) — NEVER all pairs
    // within label), then exact-cosine verify of the shortlist. The
    // same candidates→verify construction the text side uses (dd03);
    // dd13 gates its recall against the all-pairs ground truth.
    "dd05_embed_cosine" -> { (s, d) =>
      scoreCandidates(s, d, embCandidates(s, d))
        .filter(col("cos_sim") >= EmbThreshold)
        .select(col("label"), col("vec_a"), col("vec_b"), col("cos_sim"))
        .orderBy(col("label"), col("vec_a"), col("vec_b"))
    }
  )

  /** Hot-bucket occupancy cap for the min-shingle candidate join
    * (dd02/dd12): buckets with more members are dropped before the
    * self-join, bounding worst-case pair fanout at MinBucketCap²/2
    * per bucket regardless of corpus skew. 128 is far above the
    * honest-data occupancy (19 at sf0.1) and far below the
    * adversarial blowup it guards against; dd23 is the operator that
    * PRICES this cap's recall cost on the banded pipeline.
    */
  val MinBucketCap = 128

  /** The kept-bucket filter side (bucket column only — slim). */
  private[graft] def minBucketKept(ds: DataFrame): DataFrame =
    ds.groupBy(col("bucket")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= MinBucketCap)
      .select(col("bucket"))

  private[operators] val duckToks = """string_split_regex(trim(text), '\s+')"""

  /** DuckDB CTE bodies (sh_t, sigs, banded) — the SQL twin of
    * [[bandedSignatures]], shared by the dd03 and dd23 oracles.
    * Callers splice after `WITH ` and may append further CTEs.
    */
  /** sh_t + sigs CTE bodies alone (no banding) — for oracles that
    * band the signature table with their OWN geometry (dd38).
    */
  /** The K signature expressions, ONE definition for every oracle
    * CTE builder (drift here would split the banding constructions).
    */
  private def duckSigExprs: String =
    (0 until MinhashK).map(k =>
      s"list_min(list_transform(shs, h -> (${A(k)} * (h % 4294967296) + ${B(k)}) % $P)) AS sig_$k")
      .mkString(",\n    ")

  private[operators] lazy val duckShTSigsCtes: String =
    s"""sh_t AS (
       |  SELECT doc_id, $duckShs AS shs FROM documents
       |  WHERE len($duckToks) >= 3),
       |sigs AS (
       |  SELECT doc_id,
       |    $duckSigExprs
       |  FROM sh_t)""".stripMargin

  private[operators] lazy val duckBandedCtes: String =
    duckBandedCtesFrom("documents", "")

  /** [[duckBandedCtes]] over an arbitrary (doc_id, text) relation
    * `src`, CTE names prefixed — so an oracle can band TWO corpus
    * snapshots side by side (dd41) with the exact dd03 construction.
    */
  private[operators] def duckBandedCtesFrom(src: String, prefix: String): String = {
    val bandRows = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"CAST(sig_${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ${Hashing.duckHash64(s"($parts)")} AS band_hash FROM ${prefix}sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""${prefix}sh_t AS (
       |  SELECT doc_id, $duckShs AS shs FROM $src
       |  WHERE len($duckToks) >= 3),
       |${prefix}sigs AS (
       |  SELECT doc_id,
       |    $duckSigExprs
       |  FROM ${prefix}sh_t),
       |${prefix}banded AS (
       |  $bandRows)""".stripMargin
  }
  private[operators] val duckShStr =
    s"""list_transform(range(len($duckToks) - 2),
       | i -> $duckToks[i+1] || ' ' || $duckToks[i+2] || ' ' || $duckToks[i+3])""".stripMargin
  private[operators] val duckShs =
    s"list_distinct(list_transform($duckShStr, x -> ${Hashing.duckHash64("x")}))"
  private val duckNorm =
    "sqrt(list_sum(list_transform(emb, x -> x * x)))"

  /** Shared DuckDB CTE bodies for the banded embedding construction —
    * dd05/dd11/dd13 oracles compose these so the SQL twin of
    * [[embCandidates]]/[[scoreCandidates]] has one definition.
    */
  private[operators] val duckEmbE: String =
    s"""SELECT vec_id, label, emb, $duckNorm AS norm
       |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
       |        FROM embeddings)""".stripMargin

  private[operators] val duckEmbBands: String =
    (0 until EmbBands).map { j =>
      val v = (0 until EmbBandBits).map(i =>
        s"CASE WHEN emb[${j * EmbBandBits + i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, label, $j AS band, CAST($v AS BIGINT) AS band_val FROM e"
    }.mkString("\n  UNION ALL\n  ")

  private[operators] val duckEmbCand: String =
    """SELECT DISTINCT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM bands a JOIN bands b
      |    ON a.label = b.label AND a.band = b.band
      |   AND a.band_val = b.band_val AND a.vec_id < b.vec_id""".stripMargin

  /** Exact cosine between candidate sides ea/eb (scoreCandidates' SQL
    * twin, trunc4'd like the Spark side). */
  private[operators] val duckEmbCos: String =
    "floor((list_sum(list_transform(range(len(ea.emb)), i -> ea.emb[i+1] * eb.emb[i+1]))" +
      " / (ea.norm * eb.norm)) * 10000) / 10000"

  def oracles: Map[String, String] = Map(
    "dd01_exact" ->
      s"""SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies FROM (
         |  SELECT doc_id,
         |    ${Hashing.duckHash64("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")} AS fp
         |  FROM documents)
         |GROUP BY fp ORDER BY keeper""".stripMargin,

    "dd02_ngram_jaccard" ->
      s"""WITH ds AS (
         |  SELECT doc_id, shs, list_min(shs) AS bucket
         |  FROM (SELECT doc_id, $duckShs AS shs FROM documents
         |        WHERE len($duckToks) >= 3)),
         |kept AS (
         |  SELECT bucket FROM ds GROUP BY bucket
         |  HAVING COUNT(*) <= $MinBucketCap)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  floor((CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
         |        (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))) * 10000) / 10000 AS jaccard
         |FROM ds a JOIN kept USING (bucket)
         |          JOIN ds b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         |WHERE floor((CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
         |        (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))) * 10000) / 10000 >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd03_minhash_lsh" ->
      s"""WITH $duckBandedCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,

    "dd04_simhash" -> {
      val bitSums = (0 until SimhashBits).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b").mkString(",\n    ")
      val shExpr = (0 until SimhashBits).map(b =>
        s"CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
      s"""SELECT doc_id, CAST($shExpr AS BIGINT) AS simhash FROM (
         |  SELECT doc_id,
         |    $bitSums
         |  FROM (
         |    SELECT doc_id, ${Hashing.duckHash64("token")} AS h FROM (
         |      SELECT doc_id, unnest(list_distinct($duckToks)) AS token
         |      FROM documents))
         |  GROUP BY doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "dd05_embed_cosine" ->
      s"""WITH e AS (
         |  $duckEmbE),
         |bands AS (
         |  $duckEmbBands),
         |cand AS (
         |  $duckEmbCand)
         |SELECT c.label, c.vec_a, c.vec_b, $duckEmbCos AS cos_sim
         |FROM cand c JOIN e ea ON c.vec_a = ea.vec_id
         |            JOIN e eb ON c.vec_b = eb.vec_id
         |WHERE $duckEmbCos >= $EmbThreshold
         |ORDER BY c.label, vec_a, vec_b""".stripMargin
  )
}
