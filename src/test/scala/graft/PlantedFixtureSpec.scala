package graft

import org.apache.spark.sql.functions._

/** Planted-fixture coverage for the three operators whose oracle rows
  * are legitimately EMPTY at every gated SF (VERDICT r11, missing #4):
  * q09 (no customer is order-less in the synthetic warehouse), q18
  * (no user is a clicker∩purchaser∖errorer), ss07 (no vector within
  * hamming ≤ 2 of the probe's bucket at spec scale). An empty↔empty
  * hash match proves only schema, so each gets a crafted-parquet run
  * (q48's pattern) asserting a NON-EMPTY result that matches a
  * driver-side recompute. The gated-SF entries stay untouched.
  *
  * Round 13 (VERDICT r12 #5) extends the pattern to the flag-census
  * operators whose ALARM branch never fires at gated SFs (the audit
  * swept every alarm-like column of the sf0.01 verify dump for
  * all-zero values): ev30/ev74 lateness (the gated corpus arrives in
  * order), ev61 burn alerts, ev63 interpolation (the gated hourly
  * grid is complete), mm13 cascade byte drops, ss22 dup-pair
  * coherence. Each fixture fires the branch and pins the fired value
  * against driver-side arithmetic. (ev23/ev52/ev54 audited as already
  * covered: crafted fixture in Round3Spec, injected corruption /
  * fencing asserted in Round6sSpec / the gate itself.)
  */
class PlantedFixtureSpec extends SparkSpec {

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  test("q09 anti-join surfaces planted order-less customers") {
    import spark.implicits._
    val dir = tempDir("q09")
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("c_custkey", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    // orders exist for customers 1 and 4 only -> 2 and 3 are orphaned
    Seq((100L, 1L), (101L, 1L), (102L, 4L))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q09_antijoin")(spark, dir).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[String]("c_name")))
    assert(got.toSeq === Seq((2L, "beta"), (3L, "gamma")))
  }

  test("q18 set algebra keeps exactly the planted click∩purchase∖error cohort") {
    import spark.implicits._
    val dir = tempDir("q18")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // u1: click+purchase, clean        -> kept
    // u2: click+purchase+error         -> dropped by except
    // u3: click only                   -> dropped by intersect
    // u4: purchase only                -> dropped by intersect
    // u5: click+purchase, clean        -> kept
    Seq(
      (1L, "click", t0), (1L, "purchase", t0),
      (2L, "click", t0), (2L, "purchase", t0), (2L, "error", t0),
      (3L, "click", t0),
      (4L, "purchase", t0),
      (5L, "click", t0), (5L, "purchase", t0))
      .toDF("user_id", "event_type", "ts")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q18_set_ops")(spark, dir).collect()
      .map(_.getAs[Long]("user_id"))
    assert(got.toSeq === Seq(1L, 5L))
  }

  test("ss07 multi-probe rerank finds planted hamming≤2 neighbors of the probe") {
    import spark.implicits._
    val dir = tempDir("ss07")
    // 64-dim vectors; the 16-bit sketch reads the SIGNS of dims 1-16.
    // probe (vec 0): all +1. Planted neighbors flip the first k dims:
    //   vec 1: k=0 -> hamming 0, cos 1.0
    //   vec 2: k=1 -> hamming 1, cos 62/64 = 0.96875
    //   vec 3: k=2 -> hamming 2, cos 60/64 = 0.9375
    //   vec 4: k=3 -> hamming 3, OUTSIDE the probe radius (excluded
    //          even though its cosine beats nothing — the radius is
    //          the filter, not the score)
    def vec(flips: Int): Seq[Double] =
      (0 until 64).map(i => if (i < flips) -1.0 else 1.0)
    Seq(
      (0L, vec(0)), (1L, vec(0)), (2L, vec(1)), (3L, vec(2)), (4L, vec(3)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("ss07_rerank")(spark, dir).collect()
    assert(got.map(_.getAs[Long]("vec_id")).toSeq === Seq(1L, 2L, 3L))
    assert(got.map(_.getAs[Long]("hamming")).toSeq === Seq(0L, 1L, 2L))
    // driver-side recompute of the exact cosines (trunc4 floor)
    assert(got.map(_.getAs[Double]("cos_sim")).toSeq ===
      Seq(1.0, math.floor(62.0 / 64 * 10000) / 10000,
        math.floor(60.0 / 64 * 10000) / 10000))
  }

  // --- round-13 alarm-branch fixtures (VERDICT r12 #5) ------------------

  /** A late-bearing event stream (arrival order = event_id; the
    * frontier is the running max ts). Global lateness (ev30's
    * construction): e3 5 s, e4 1000 s, e6 300 s behind; per-user
    * lateness (ev74's) is identical here because each user's frontier
    * equals the global one at its arrivals.
    */
  private def lateEventsDir(): String = {
    import spark.implicits._
    val dir = tempDir("late-ev")
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(sec))
    Seq(
      (1L, ts(1000), 1L, "click", 1.0, "{}"),
      (2L, ts(2000), 1L, "click", 1.0, "{}"),  // frontier -> 2000
      (3L, ts(1995), 1L, "click", 1.0, "{}"),  // 5 s late
      (4L, ts(1000), 1L, "view", 1.0, "{}"),   // 1000 s late
      (5L, ts(2000), 2L, "view", 1.0, "{}"),
      (6L, ts(1700), 2L, "view", 1.0, "{}"))   // 300 s late
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("ev30 drop pricing fires on planted late arrivals, exactly per delay stop") {
    val dir = lateEventsDir()
    val got = SparkEntry.queries("ev30_watermark_fit")(spark, dir).collect()
      .map(r => r.getAs[Long]("delay_s") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_late"))).toMap
    // late set {5s, 1000s, 300s}: delay 0 drops all three, 1s drops
    // all three (all late_us > 1e6), 10s drops {1000,300}, 60s drops
    // {1000,300}, 300s drops only the 1000s straggler (300 is not >)
    assert(got === Map(0L -> ((6L, 3L)), 1L -> ((6L, 3L)),
      10L -> ((6L, 2L)), 60L -> ((6L, 2L)), 300L -> ((6L, 1L))))
  }

  test("ev74 lateness quantiles fire on planted late arrivals, per type") {
    val dir = lateEventsDir()
    val got = SparkEntry.queries("ev74_lateness_quantiles")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("p50_us"),
          r.getAs[Long]("p90_us"), r.getAs[Long]("p99_us"),
          r.getAs[Long]("max_late_us"))).toMap
    // click lateness {0, 0, 5e6}: n=3 -> pick idx (n-1)*p div 100 + 1
    // = 2 for every stop -> 0, max 5e6 (the alarm column FIRES)
    // view lateness {0, 300e6, 1000e6}: idx 2 -> 300e6, max 1000e6
    assert(got === Map(
      "click" -> ((3L, 0L, 0L, 0L, 5000000L)),
      "view" -> ((3L, 300000000L, 300000000L, 300000000L, 1000000000L))))
  }

  test("ev61 fast/slow burn alerts fire on a planted error burst") {
    import spark.implicits._
    val dir = tempDir("burn")
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(sec))
    // hour 0: 100 events, 1 error (quiet); hour 1: 10 events, 9 errors
    val rows =
      (1 to 100).map(i => (i.toLong, ts(i.toLong), 1L,
        if (i == 1) "error" else "click", 1.0, "{}")) ++
      (1 to 10).map(i => (100L + i, ts(3600L + i), 1L,
        if (i <= 9) "error" else "click", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ev61_slo_burn_rate")(spark, dir).collect()
      .map(r => r.getAs[Long]("hour") -> r).toMap
    val h0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
      .getEpochSecond / 3600
    // driver-side fixed-point replay: base = 10·Fx div 110 = 90909;
    // hour1 err = 9·Fx div 10 = 900000, burn = 900000·Fx div 90909
    val base = 10L * 1000000L / 110L
    val burn1 = (9L * 1000000L / 10L) * 1000000L / base
    assert(got(h0).getAs[Long]("burn_fx") ===
      (1L * 1000000L / 100L) * 1000000L / base)
    assert(!got(h0).getAs[Boolean]("slow_alert"))
    assert(got(h0 + 1).getAs[Long]("burn_fx") === burn1)
    assert(got(h0 + 1).getAs[Boolean]("slow_alert"))
    assert(got(h0 + 1).getAs[Boolean]("fast_alert"), s"burn1=$burn1")
  }

  test("ev63 interpolates a planted hour gap with the exact linear value") {
    import spark.implicits._
    val dir = tempDir("interp")
    def ts(hr: Long) = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-01-01T00:30:00Z").plusSeconds(hr * 3600))
    // hours 0,1,3 carry data (values 1.0, 2.0, 4.0); hour 2 is a HOLE
    Seq((1L, ts(0), 1L, "click", 1.0, "{}"),
      (2L, ts(1), 1L, "click", 2.0, "{}"),
      (3L, ts(3), 1L, "click", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ev63_resample_interpolate")(spark, dir)
      .collect().map(r => (r.getAs[Long]("n"), r.getAs[Long]("out_fx"),
        r.getAs[Boolean]("interpolated")))
    // dense grid of 4 hours; the hole interpolates to
    // 2e6 + ((4e6-2e6)·(gap_pos)) div 2 = 3e6 — fired AND exact
    assert(got.length === 4)
    assert(got.map(_._3).toSeq === Seq(false, false, true, false))
    assert(got.map(_._2).toSeq ===
      Seq(1000000L, 2000000L, 3000000L, 4000000L))
  }

  test("mm13 cascade byte drops fire on planted exact and near duplicate payloads") {
    import spark.implicits._
    val dir = tempDir("mm13")
    // base/near differ in ONE byte value by 1 (same length): the
    // stripe sums differ by 1, which virtually never crosses a phash
    // threshold -> same or hamming<=3 sketch, different md5 -> a NEAR
    // dup; docs 1,2 are byte-identical -> an EXACT dup. doc 9 is the
    // control (unique, far from base).
    val base = ("the quick brown fox jumps over the lazy dog " * 4).trim
    val near = base.dropRight(1) + "h"
    val other = ("entirely different content stream with other words " * 4).trim
    Seq((1L, base, "en", "srcA"), (2L, base, "en", "srcA"),
      (3L, near, "en", "srcA"), (9L, other, "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    // fixture precondition: the planted near pair really is within
    // the cascade's hamming<=3 band (guards the one-byte-bump
    // assumption; if a future phash change breaks it, fail HERE with
    // a clear message, not with a silent never-fires)
    val ph = graft.operators.Multimodal.stripePhash(
      graft.operators.Multimodal.asMedia(
        graft.core.Tables.documents(spark, dir)))
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("phash")).toMap
    val ham = java.lang.Long.bitCount(ph(1L) ^ ph(3L))
    assert(ham <= 3, s"planted near pair drifted to hamming $ham — repick the perturbation")
    val got = SparkEntry.queries("mm13_cascade_bytes")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("bytes_in"), r.getAs[Long]("bytes_exact_dropped"),
          r.getAs[Long]("bytes_near_dropped"), r.getAs[Long]("bytes_kept"))).toMap
    val b = base.getBytes("UTF-8").length.toLong
    val o = other.getBytes("UTF-8").length.toLong
    // srcA: doc2 drops as exact dup (keeper = min id), doc3 drops as
    // near dup of survivor doc1 — BOTH branches fire with exact bytes
    assert(got("srcA") === ((3 * b, b, b, b)))
    assert(got("srcB") === ((o, 0L, 0L, o)))
  }

  test("ss22 coherence census fires on planted dup pairs and flags the incoherent one") {
    import spark.implicits._
    val dir = tempDir("ss22")
    // two dup-text groups: docs 1,2 share text A (identical
    // embeddings -> cos 1.0); docs 3,4 share text B (opposite
    // embeddings -> cos -1.0, the INCOHERENT alarm)
    Seq((1L, "alpha beta gamma", "en", "s"), (2L, "alpha beta gamma", "en", "s"),
      (3L, "delta epsilon zeta", "en", "s"), (4L, "delta epsilon zeta", "en", "s"),
      (5L, "unique text here", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    // (3,4): norm exactly 5, so cos(up,up)=25/25=1.0 and
    // cos(up,down)=-1.0 are float-EXACT (a sqrt(2)-norm vector makes
    // cos 0.99999… and floors to 9999)
    val up = Seq(3.0, 4.0)
    val down = up.map(-_)
    Seq((1L, up, 0L), (2L, up, 0L), (3L, up, 0L), (4L, down, 0L), (5L, up, 0L))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("ss22_dup_embed_coherence")(spark, dir).head()
    assert(r.getAs[Long]("n_dup_pairs") === 2L)
    assert(r.getAs[Long]("n_incoherent") === 1L)
    assert(r.getAs[Long]("min_cos_i4") === -10000L)
    // avg = trunc4((10000 + (-10000)) / 2 / 10000) = 0.0
    assert(r.getAs[Double]("avg_cos4") === 0.0)
  }
}
