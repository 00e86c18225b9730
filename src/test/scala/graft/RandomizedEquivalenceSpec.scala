package graft

import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded randomized equivalence properties: each custom operator is
  * checked against a trivially-correct formulation on adversarial
  * random data (null keys, null values, duplicate timestamps, skewed
  * key distributions). Seeds are fixed so failures reproduce.
  */
class RandomizedEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def randomAsOfData(seed: Int, nLeft: Int, nRight: Int) = {
    val rnd = new Random(seed)
    def key(): java.lang.Long =
      if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(8).toLong)
    val l = (0 until nLeft).map(i =>
      (i.toLong, key(), rnd.nextInt(50).toLong * 1000 + 500)).toDF("lid", "k", "ts")
    // unique rts per right row: equal (k, ts) ties have no defined
    // winner in EITHER formulation, so the property is only
    // well-defined on tie-free version times
    val r = (0 until nRight).map(i =>
      (key(), rnd.nextInt(50).toLong * 1000 + i,
        if (rnd.nextInt(4) == 0) null else s"v$i", i.toLong))
      .toDF("k", "rts", "v", "rid")
    (l, r)
  }

  test("as-of joins match the naive formulation on random null-heavy data") {
    for (seed <- Seq(1, 7, 42)) {
      val (l, r) = randomAsOfData(seed, 200, 150)
      val naive = l.join(r, l("k") === r("k") && r("rts") <= l("ts"), "left")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lid"))
            .orderBy(col("rts").desc_nulls_last, col("rid").desc_nulls_last)))
        .filter(col("rn") === 1)
        .select(col("lid"), col("v").as("asof_v"), col("rid").as("asof_rid"))
      val naiveFull = l.select(col("lid")).join(naive, Seq("lid"), "left")
      for (impl <- Seq(
          graft.operators.AsOf.joinAsOf(l, r, "k", "ts", "rts", Seq("v", "rid")),
          graft.operators.AsOf.joinAsOfNative(l, r, "k", "ts", "rts", Seq("v", "rid")))) {
        val out = impl.select(col("lid"), col("asof_v"), col("asof_rid"))
        assert(out.count() === 200, s"seed=$seed")
        assert(out.exceptAll(naiveFull).count() === 0, s"seed=$seed")
        assert(naiveFull.exceptAll(out).count() === 0, s"seed=$seed")
      }
    }
  }

  test("salted join equals plain join on skewed random keys") {
    for (seed <- Seq(3, 11)) {
      val rnd = new Random(seed)
      // 80% of rows share one hot key
      val facts = (0 until 500).map { i =>
        val k = if (rnd.nextInt(5) > 0) 1L else rnd.nextInt(20).toLong
        (i.toLong, k)
      }.toDF("id", "k")
      val dim = (0L until 20L).map(k => (k, s"d$k")).toDF("dk", "payload")
      val plain = facts.join(dim, facts("k") === dim("dk"))
        .select(col("id"), col("payload"))
      val salted = graft.operators.Skew
        .saltedJoin(facts, dim, "k", "dk", col("id"), 8)
        .select(col("id"), col("payload"))
      assert(salted.count() === plain.count(), s"seed=$seed")
      assert(salted.exceptAll(plain).count() === 0, s"seed=$seed")
    }
  }

  test("connected components equal union-find on random graphs") {
    for (seed <- Seq(5, 23)) {
      val rnd = new Random(seed)
      val pairs = (0 until 60).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val root = find(p); parent(x) = root; root }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      val got = graft.operators.Components
        .connectedComponents(pairs.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"seed=$seed")
      // the large/small-star variant must agree label-for-label
      val gotStar = graft.operators.Components
        .connectedComponentsStar(pairs.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStar === expected, s"star seed=$seed")
    }
  }

  test("topk aggregator equals sort-take per group on random ties") {
    for (seed <- Seq(13, 29)) {
      val rnd = new Random(seed)
      // few distinct values force ties; tag breaks them
      val rows = (0 until 400).map(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(4).toDouble, i.toLong))
      val df = rows.toDF("g", "v", "tag")
      val viaAgg = df.groupBy(col("g"))
        .agg(graft.operators.TopK.topk(col("v"), col("tag"), 3).as("top"))
        .select(col("g"), explode(col("top")).as("p"))
        .select(col("g"), col("p._1").as("v"), col("p._2").as("tag"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.map(t => (t._2, t._3)).sorted(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long).reverse)
          .take(3).map(t => (g, t._1, t._2))
      }.toSet
      assert(viaAgg === expected, s"seed=$seed")
    }
  }

  test("keyed binned range join equals naive on random points and intervals") {
    for (seed <- Seq(19, 31)) {
      val rnd = new Random(seed)
      val points = (0 until 300).map(i =>
        (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(100000).toLong))
        .toDF("pid", "k", "t")
      val ivs = (0 until 150).map { i =>
        val s = rnd.nextInt(100000).toLong
        (i.toLong, rnd.nextInt(6).toLong, s, s + rnd.nextInt(5000))
      }.toDF("iid", "k", "s", "e")
      val naive = points.join(ivs.withColumnRenamed("k", "ik"),
          col("k") === col("ik") && col("t") >= col("s") && col("t") <= col("e"))
        .select(col("pid"), col("iid"))
      val binned = graft.operators.RangeJoin
        .binned(points, ivs, "t", "s", "e", 1000L, Seq("k"))
        .select(col("pid"), col("iid"))
      assert(binned.count() === naive.count(), s"seed=$seed")
      assert(binned.exceptAll(naive).count() === 0, s"seed=$seed")
      assert(naive.exceptAll(binned).count() === 0, s"seed=$seed")
    }
  }

  test("hash64 stays within the 60-bit non-negative range on random strings") {
    val rnd = new Random(17)
    val strs = (0 until 300).map(_ => rnd.alphanumeric.take(rnd.nextInt(30)).mkString)
    val hs = strs.toDF("s")
      .select(graft.functions.Hashing.hash64(col("s")).as("h"))
      .collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0L && h < (1L << 60)))
    // and it is a function: equal inputs hash equal, run twice
    val hs2 = strs.toDF("s")
      .select(graft.functions.Hashing.hash64(col("s")).as("h"))
      .collect().map(_.getLong(0))
    assert(hs.toSeq === hs2.toSeq)
  }

  test("O(limit)-state stream rate limiter equals the unbounded sliding window on random bursts") {
    // the exactness claim behind StreamRateLimit's capacity bound:
    // keeping only the `limit` newest timestamps never changes a
    // decision. Random bursty traffic with timestamp ties, processed
    // in event-time order (the operator's documented contract).
    import graft.streaming.StreamJobs.RateIn
    for (seed <- Seq(2, 19, 71)) {
      val rnd = new Random(seed)
      val limit = 1 + rnd.nextInt(4)
      val windowUs = 50L
      var t = 0L
      val evs = (0 until 400).map { i =>
        // bursts: usually tiny increments, sometimes a window-sized gap
        t += (if (rnd.nextInt(10) == 0) windowUs + rnd.nextInt(20) else rnd.nextInt(3))
        RateIn(rnd.nextInt(5).toLong, "t", t)
      }
      // the RANGE-frame definition (ev27's batch window): every event
      // counts ALL same-user events in (t-window, t] INCLUDING itself
      // and its same-timestamp peers, so tied peers decide as one
      // group — the operator's documented tie semantics
      val naive = evs.groupBy(_.user_id).toSeq.flatMap { case (_, es) =>
        es.map { e =>
          val cnt = es.count(o => o.t > e.t - windowUs && o.t <= e.t)
          (e.user_id, e.t, cnt > limit)
        }
      }.groupBy(identity).map { case (k, o) => k -> o.size }
      val got = graft.streaming.StreamJobs
        .rateLimit(evs.toDS(), limit, windowUs)
        .collect()
        .map(r => (r.user_id, r.t, r.throttled))
        .groupBy(identity).map { case (k, o) => k -> o.length }
      assert(got === naive, s"seed=$seed limit=$limit")
    }
  }

  test("two-level watermark replay equals the global runmax window on random arrivals") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    // ids with gaps, timestamps wildly out of order, heavy ties —
    // stresses bucket boundaries, the empty-first-prefix case, and
    // greatest() against the Long.MinValue sentinel
    val rows = (0 until 3000).map { i =>
      (i.toLong * (1 + rnd.nextInt(3)), rnd.nextInt(50).toLong - 10L)
    }.distinctBy(_._1)
    val df = rows.toDF("id", "t")
    val direct = df.withColumn("late",
      max(col("t")).over(org.apache.spark.sql.expressions.Window.orderBy(col("id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)) - col("t"))
      .select(col("id"), col("late"))
    // a bucket width that does NOT divide the id range evenly
    val got = graft.operators.EventPipeline.latenessTwoLevel(df, "id", "t", bucket = 97L)
      .select(col("id"), col("late"))
    assert(got.except(direct).isEmpty && direct.except(got).isEmpty,
      "two-level lateness must equal the single-window replay")
  }

  test("dd15's capped-prefix candidates lose no containment pair on random overlapping docs") {
    // the prefix-filter bound: a pair with |A∩B|/|A| >= t always
    // shares an element in A's (|A| - ceil(t|A|) + 1)-prefix under ANY
    // total order; random docs built by mutating shared bases so
    // containment pairs actually exist
    val t = graft.operators.Dedup.ContainT
    for (seed <- Seq(13, 29)) {
      val rnd = new Random(seed)
      val bases = (0 until 6).map(_ =>
        (0 until 30 + rnd.nextInt(40)).map(_ => s"w${rnd.nextInt(50)}"))
      val docTexts = (0 until 80).map { i =>
        val b = bases(rnd.nextInt(bases.size))
        val take = 3 + rnd.nextInt(b.size - 3)
        val start = rnd.nextInt(b.size - take + 1)
        val slice = b.slice(start, start + take)
        val mutated = slice.map(w => if (rnd.nextInt(20) == 0) s"m${rnd.nextInt(50)}" else w)
        (i.toLong, mutated.mkString(" "))
      }
      val docs = docTexts.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val dir = s"/tmp/dd15_prop_$seed"
      docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("dd15_containment")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = docTexts.map { case (id, text) => (id, text.split(" ")) }
        .filter(_._2.length >= 3)
        .map { case (id, w) => (id, w.sliding(3).map(_.mkString(" ")).toSet) }
      val expected = (for {
        (ida, sa) <- sets; (idb, sb) <- sets if ida != idb
        c = math.floor(sa.intersect(sb).size.toDouble / sa.size * 10000) / 10000
        if c >= t
      } yield (ida, idb, c)).toSet
      assert(got === expected, s"seed=$seed")
      assert(expected.nonEmpty, s"seed=$seed produced no containment pairs")
    }
  }

  test("floor-log2 via length(bin(n)) - 1 is exact on random longs") {
    // the octave key used by pk09/tx21/ev36/dd22 — exact floor(log2)
    // for every n >= 1, including exact powers of two where a libm
    // log2 could misround
    val rnd = new Random(19)
    val ns = (Seq(1L, 2L, 3L, 4L, 1023L, 1024L, 1025L, (1L << 40) - 1, 1L << 40) ++
      (0 until 200).map(_ => 1L + (rnd.nextLong().abs % (1L << 50)))).distinct
    val got = ns.toDF("n")
      .select(col("n"), (length(bin(col("n"))) - 1).cast("int").as("oct"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ns.foreach { n =>
      assert(got(n) === 63 - java.lang.Long.numberOfLeadingZeros(n), s"n=$n")
    }
  }

  test("fixed-point squaring chains track the real S-curve within truncation error") {
    // dd21's machinery: s^r and (1-s^r)^b via repeated `(x*x) div 1e6`
    // chains. Each squaring truncates < 1e-6, so the accumulated
    // absolute error over the (16,1)..(1,16) layouts stays < 1e-4 —
    // assert that bound on random similarities, driving the SAME SQL
    // expressions the operator uses.
    val rnd = new Random(23)
    val ss = (0 until 100).map(_ => rnd.nextInt(1000001).toLong)
    val df = ss.toDF("s1")
      .withColumn("s2", expr("(s1*s1) div 1000000"))
      .withColumn("s4", expr("(s2*s2) div 1000000"))
      .withColumn("s8", expr("(s4*s4) div 1000000"))
      .withColumn("s16", expr("(s8*s8) div 1000000"))
    val got = df.collect().map(r => (r.getAs[Long]("s1"), r.getAs[Long]("s2"),
      r.getAs[Long]("s4"), r.getAs[Long]("s8"), r.getAs[Long]("s16")))
    got.foreach { case (s1, s2, s4, s8, s16) =>
      val s = s1.toDouble / 1e6
      Seq(2 -> s2, 4 -> s4, 8 -> s8, 16 -> s16).foreach { case (e, fx) =>
        val exact = math.pow(s, e)
        assert(math.abs(fx / 1e6 - exact) < 1e-4,
          s"s=$s e=$e fx=$fx exact=$exact")
        // truncation only ever rounds DOWN
        assert(fx / 1e6 <= exact + 1e-12)
      }
    }
  }

  test("q50's Morton interleave is a bijection that preserves bucket-prefix locality") {
    // the zone-map claims rest on two properties of the z-value:
    // (a) (xb, yb) -> z is injective over the 8-bit × 8-bit grid, and
    // (b) the top 8 bits of z are exactly interleave(xb >> 4, yb >> 4)
    //     — i.e. a z-file fixes a 16-wide slice of BOTH dimensions.
    // Drive the SAME SQL arithmetic the operator generates.
    val rnd = new Random(31)
    val pts = (0 until 400).map(_ => (rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .distinct
    val zExpr = (0 until 8).map { i =>
      s"(((xb >> $i) & 1) * ${1L << (2 * i + 1)} + ((yb >> $i) & 1) * ${1L << (2 * i)})"
    }.mkString(" + ")
    val got = pts.toDF("xb", "yb")
      .withColumn("z", expr(zExpr))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def refZ(x: Long, y: Long): Long =
      (0 until 8).map(i => (((x >> i) & 1) << (2 * i + 1)) | (((y >> i) & 1) << (2 * i))).sum
    got.foreach { case (x, y, z) =>
      assert(z === refZ(x, y), s"($x,$y)")
      assert(z >= 0 && z < 65536)
      // top 8 bits = interleave of the two 4-bit prefixes
      assert(z >> 8 === refZ(x >> 4, y >> 4), s"prefix ($x,$y)")
    }
    assert(got.map(_._3).distinct.length === got.length, "interleave not injective")
  }

  test("MinhashSigExpr equals the composed 16-column form on adversarial arrays") {
    for (seed <- Seq(4, 29)) {
      val rnd = new Random(seed)
      val rows = (0 until 120).map { i =>
        val n = rnd.nextInt(8)
        val arr: Seq[java.lang.Long] = (0 until n).map { _ =>
          rnd.nextInt(5) match {
            case 0 => null
            case 1 => java.lang.Long.valueOf(-rnd.nextLong().abs % 100000L)
            case _ => java.lang.Long.valueOf(rnd.nextLong().abs % (1L << 60))
          }
        }
        (i.toLong, arr)
      }
      val df = rows.toDF("id", "shs")
      val out = df.select(col("id"),
        graft.functions.MinhashSigExpr(col("shs")).as("fused"),
        graft.operators.Dedup.minhashSigComposed(col("shs")).as("composed"))
        .collect()
      out.foreach { r =>
        assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"seed=$seed id=${r.getLong(0)}")
      }
      // the ONE intentional divergence (see MinhashSigExpr scaladoc):
      // null array → NULL signature (fused, strict) vs an array of
      // 16 nulls (composed) — unreachable from operators, pinned here
      val nul = Seq((0L, null.asInstanceOf[Seq[java.lang.Long]])).toDF("id", "shs")
        .select(graft.functions.MinhashSigExpr(col("shs")).as("f"),
          graft.operators.Dedup.minhashSigComposed(col("shs")).as("c"))
        .collect()(0)
      assert(nul.isNullAt(0))
      assert(!nul.isNullAt(1) && nul.getSeq[Any](1).forall(_ == null))
    }
  }

  test("exactQuantilesByKey matches the sorted-seq reference on skewed random data") {
    for (seed <- Seq(5, 23, 91)) {
      val rnd = new Random(seed)
      // heavy ties + one giant group + singleton groups
      val rows = (0 until 400).map { i =>
        val g = if (rnd.nextInt(4) > 0) "big" else s"g${rnd.nextInt(6)}"
        (g, rnd.nextInt(12).toLong, i.toLong)
      }
      val df = rows.toDF("grp", "v", "id")
      val ps = Seq(50, 90, 99)
      val got = graft.operators.Rank.exactQuantilesByKey(
        df, "grp", col("v"), col("id"), ps, p => s"p$p", "vmax")
        .collect().map(r => r.getAs[String]("grp") -> r).toMap
      rows.groupBy(_._1).foreach { case (g, members) =>
        val sorted = members.map(_._2).sorted
        val r = got(g)
        assert(r.getAs[Long]("n_rows") === members.length.toLong, s"seed=$seed g=$g")
        ps.foreach { p =>
          val expect = sorted(((members.length - 1) * p / 100).toInt)
          assert(r.getAs[Long](s"p$p") === expect, s"seed=$seed g=$g p=$p")
        }
        assert(r.getAs[Long]("vmax") === sorted.last, s"seed=$seed g=$g")
      }
    }
  }

  test("lake ingest round-trips random StreamerMessage corpora exactly") {
    import graft.sources.LakeIngest
    for (seed <- Seq(2, 17)) {
      val rnd = new Random(seed)
      // random blocks: 1-4 shards, 0-3 outcomes each, 0-4 logs per
      // outcome with EVENT_JSON lines mixed into noise at random
      var expected = 0
      val docs = (0 until 40).map { h =>
        val shards = (0 until 1 + rnd.nextInt(4)).map { sid =>
          val outs = (0 until rnd.nextInt(4)).map { o =>
            val logs = (0 until rnd.nextInt(5)).map { li =>
              if (rnd.nextBoolean()) {
                expected += 1
                s"""\"EVENT_JSON:{\\\"standard\\\":\\\"nep297\\\",\\\"version\\\":\\\"1.0.0\\\",\\\"event\\\":\\\"e$li\\\",\\\"data\\\":[]}\""""
              } else s"""\"noise $h $sid $o $li\""""
            }.mkString("[", ",", "]")
            s"""{"receipt":{"receipt_id":"r$h-$sid-$o","receiver_id":"c$o.near"},
               |"execution_outcome":{"id":"r$h-$sid-$o","outcome":{"logs":$logs}}}"""
              .stripMargin.replaceAll("\n", "")
          }.mkString("[", ",", "]")
          s"""{"shard_id":$sid,"receipt_execution_outcomes":$outs}"""
        }.mkString("[", ",", "]")
        s"""{"block":{"header":{"height":${9000 + h},"timestamp":${h * 1000}}},"shards":$shards}"""
      }
      val parsed = graft.streaming.EventStreams.validated(
        graft.streaming.EventStreams.extractEvents(
          LakeIngest.outcomeLogs(docs.toDF("value"), col("value"))))
      assert(parsed.count() === expected.toLong, s"seed=$seed")
      // every emitted row keeps coherent emit_info coordinates
      val bad = parsed.filter(
        col("emit_info.block_height") < 9000 ||
        col("emit_info.block_height") >= 9040 ||
        !col("emit_info.receipt_id").startsWith("r") ||
        !col("emit_info.contract_account_id").endsWith(".near")).count()
      assert(bad === 0L, s"seed=$seed")
    }
  }

  test("capped+star simhash pairs: cold-bucket completeness, subset, hub cover") {
    import graft.operators.Dedup
    for (seed <- Seq(5, 23)) {
      val rnd = new Random(seed)
      // random corpus with engineered clusters: a few identical-text
      // clusters (one pushed above the cap), plus unique-text docs
      val vocab = Vector.tabulate(40)(i => ("w" + ('a' + i % 26).toChar + i))
      def text(): String =
        Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      var id = 0L
      val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      val clusterSizes = Seq(Dedup.SimhashBucketCap.toInt + 40 + rnd.nextInt(60),
        5 + rnd.nextInt(20), 2)
      clusterSizes.foreach { n =>
        val t = text()
        (0 until n).foreach { _ => docs += ((id, t)); id += 1 }
      }
      (0 until 80).foreach { _ => docs += ((id, text())); id += 1 }
      val banded = Dedup.simhashBandedOf(
        Dedup.simhashesOf(docs.toSeq.toDF("doc_id", "text"))).persist()
      val capped = Dedup.simhashCandidatePairs(banded)
        .select(col("doc_a"), col("doc_b")).persist()
      // full pairs with per-pair min shared-bucket occupancy
      val occ = banded.groupBy(col("band"), col("bval"))
        .agg(count(lit(1)).as("occ"))
      val full = banded.join(occ, Seq("band", "bval"))
        .select(col("band"), col("bval"), col("occ"), col("doc_id").as("doc_a"))
        .join(banded.select(col("band"), col("bval"), col("doc_id").as("doc_b")),
          Seq("band", "bval"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(min(col("occ")).as("min_occ")).persist()
      // subset: every capped pair is a full-banding candidate
      assert(capped.exceptAll(full.select(col("doc_a"), col("doc_b")))
        .count() === 0L, s"seed=$seed")
      // completeness: every pair sharing a COLD bucket survives
      val cold = full.filter(col("min_occ") <= Dedup.SimhashBucketCap)
        .select(col("doc_a"), col("doc_b"))
      assert(cold.exceptAll(capped).count() === 0L, s"seed=$seed")
      // hub cover: in every hot bucket, the hub pairs with each member
      val hot = Dedup.simhashBucketStats(banded)
        .filter(col("occ") > Dedup.SimhashBucketCap)
        .select(col("band"), col("bval"), col("hub"))
      val expectedStar = banded.join(hot, Seq("band", "bval"))
        .filter(col("doc_id") =!= col("hub"))
        .select(col("hub").as("doc_a"), col("doc_id").as("doc_b")).distinct()
      assert(expectedStar.exceptAll(capped).count() === 0L, s"seed=$seed")
      banded.unpersist(); capped.unpersist(); full.unpersist()
    }
  }

  test("q75 delta algebra equals a direct v2 recompute on random corpora") {
    import graft.operators.Dedup
    for (seed <- Seq(11, 47)) {
      val rnd = new Random(seed)
      val sources = Vector("web", "book", "code", "wiki")
      def text(): String =
        Seq.fill(rnd.nextInt(12))("w" + rnd.nextInt(30)).mkString(" ")
      // ids dense from 0 so every %7/%5 class is populated; some docs
      // empty-text (the strlen/token edge)
      val docs = (0 until 400).map(i =>
        (i.toLong, sources(rnd.nextInt(sources.size)), text()))
        .toDF("doc_id", "source", "text").persist()
      def census(v: org.apache.spark.sql.DataFrame) = v
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(split(trim(col("text")), "\\s+"))).cast("long").as("n_tokens"),
          sum(octet_length(col("text"))).cast("long").as("total_bytes"))
      // direct: census(v2). delta: census(v1) composed with the four
      // signed delta classes — the algebra the operator ships
      val direct = census(Dedup.snapshotV2(docs))
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      def signed(v: org.apache.spark.sql.DataFrame, s: Int) = v
        .select(col("source"),
          lit(s.toLong).as("d0"),
          (lit(s) * size(split(trim(col("text")), "\\s+"))).cast("long").as("d1"),
          (lit(s) * octet_length(col("text"))).cast("long").as("d2"))
      val v1 = Dedup.snapshotV1(docs)
      val m7 = pmod(col("doc_id"), lit(7)); val m5 = pmod(col("doc_id"), lit(5))
      val delta = signed(v1, 1)
        .unionByName(signed(v1.filter(m7 === 0), -1))
        .unionByName(signed(Dedup.snapshotV2(docs).filter(m7 === 6), 1))
        .unionByName(signed(v1.filter(m7 =!= 0 && m5 === 2), -1))
        .unionByName(signed(Dedup.snapshotV2(docs)
          .filter(m7 =!= 6 && m5 === 2), 1))
        .groupBy(col("source"))
        .agg(sum(col("d0")).cast("long").as("n_docs"),
          sum(col("d1")).cast("long").as("n_tokens"),
          sum(col("d2")).cast("long").as("total_bytes"))
        .filter(col("n_docs") > 0)
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(delta === direct, s"seed=$seed")
      docs.unpersist()
    }
  }

  test("histogram quantile picks are bit-identical to the row-rank picks") {
    // the r12 de-sort claim: MIN(value WHERE cum >= idx) over the
    // per-(group, value) histogram equals the value at rank idx in
    // the row-sorted construction, for every group and percentile —
    // on random data with heavy ties and skewed group sizes (ties are
    // the case that matters: rank-contiguity of equal values is the
    // whole argument)
    val ps = Seq(1, 25, 50, 90, 99)
    for (seed <- Seq(3, 11, 77)) {
      val rnd = new Random(seed)
      val rows = (0 until 3000).map { i =>
        val g = s"g${rnd.nextInt(7)}"
        // small value domain -> many ties; one group gets a wide domain
        val v = if (g == "g0") rnd.nextInt(2000).toLong else rnd.nextInt(13).toLong
        (g, v, i.toLong)
      }.toDF("grp", "v", "id")
      val byRank = graft.operators.Rank.exactQuantilesByKey(
        rows, "grp", col("v"), col("id"), ps, p => s"p$p", "vmax")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val byHist = graft.operators.Rank.histQuantilesByKey(
        rows, "grp", col("v"), ps, p => s"p$p", "vmax")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(byHist === byRank, s"seed=$seed")
    }
  }

  test("histogram quantiles define null handling: drop nulls, equal the null-filtered row-rank picks") {
    // ADVICE r12: row_number counts nulls (sorted first) while the
    // histogram's min(when(...)) skips the null bucket, so the
    // bit-identity contract is hist(df) == exact(df WHERE v IS NOT
    // NULL). histQuantilesByKey now filters nulls internally; this
    // pins that defined behavior on random null-bearing data.
    val ps = Seq(1, 25, 50, 90, 99)
    for (seed <- Seq(5, 42)) {
      val rnd = new Random(seed)
      val rows = (0 until 2500).map { i =>
        val g = s"g${rnd.nextInt(5)}"
        // ~20% nulls, tie-heavy domain
        val v: java.lang.Long =
          if (rnd.nextInt(5) == 0) null else Long.box(rnd.nextInt(11).toLong)
        (g, v, i.toLong)
      }.toDF("grp", "v", "id")
      val byRankNoNull = graft.operators.Rank.exactQuantilesByKey(
        rows.filter(col("v").isNotNull), "grp", col("v"), col("id"),
        ps, p => s"p$p", "vmax")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val byHist = graft.operators.Rank.histQuantilesByKey(
        rows, "grp", col("v"), ps, p => s"p$p", "vmax")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(byHist === byRankNoNull, s"seed=$seed")
    }
  }

  test("argmax cell pick equals the per-layout window pick on tie-heavy scores") {
    // ss35's r13 rewrite: one scored (vec, centroid) table + a
    // max_by(c_id, struct(c_cos, -c_id)) argmax per (nlist, vec)
    // replaces the per-layout row_number windows (c_cos DESC, c_id
    // ASC). The tie-break must match EXACTLY — cos values are trunc4'd
    // in the operator, so score ties are routine, and a drifted
    // tie-break silently reassigns cells. Quantized random scores
    // force ties; both formulations must agree bit-for-bit.
    val nlists = Seq(2L, 4L, 8L, 16L)
    for (seed <- Seq(9, 31)) {
      val rnd = new Random(seed)
      val scored = (for {
        v <- 0 until 300
        c <- 0 until 16
      } yield (v.toLong, c.toLong, rnd.nextInt(5) / 10.0))
        .toDF("vec_id", "c_id", "c_cos")
      val byWindow = nlists.map { k =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
        scored.filter(col("c_id") < k)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(lit(k).as("nlist"), col("vec_id"), col("c_id").as("cell"))
      }.reduce(_ unionByName _)
      val byArgmax = scored
        .select(col("vec_id"), col("c_id"), col("c_cos"),
          explode(array(nlists.map(lit(_)): _*)).as("nlist"))
        .filter(col("c_id") < col("nlist"))
        .groupBy(col("nlist"), col("vec_id"))
        .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id"))).as("cell"))
        .select(col("nlist"), col("vec_id"), col("cell"))
      assert(byArgmax.count() === 300L * nlists.size, s"seed=$seed")
      assert(byArgmax.exceptAll(byWindow).count() === 0, s"seed=$seed")
      assert(byWindow.exceptAll(byArgmax).count() === 0, s"seed=$seed")
    }
  }
}
