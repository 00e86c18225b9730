package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
object Bench {

  /** Local cores of every bench, verify, tool and spec session:
    * SPARK_GRAFT_CPUS, default 4.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The one session contract. Bench, Verify, the dev tools and the
    * spec harness all run on it, so a DuckDB hash, a plan audit and a
    * shuffle budget all describe the same plans — same extensions,
    * dials and env pins. `ClusterConf` stays the separate deployment
    * posture.
    */
  def buildSession(cpus: String): SparkSession = {
    // Spill-aware partition sizing (the 100 TB knob): cpus partitions
    // is right when each holds a memory-sized slice, but a scale-
    // ladder corpus at the SAME partition count concentrates 100x the
    // rows per sort — the r10 sf10 leg OOM'd dd11/dd33's sorts at 32.
    // On a cluster this is spark.sql.shuffle.partitions sized to data;
    // here it's the same dial as an env override.
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // the sign-LSH density dial for ladder corpora (Dedup.signBandColsFor)
    val embBits = sys.env.getOrElse("SPARK_GRAFT_EMB_BAND_BITS",
      graft.operators.Dedup.EmbBandBits.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufParts)
      .config("spark.graft.emb.bandBits", embBits)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // InferFiltersFromGenerate is excluded at the session level
      // (r13 opt): on a COMPUTED array it copies the full generator
      // expression into an inferred size>0/isnotnull filter, which
      // then pushes below exchanges and re-evaluates the pipeline
      // per row at the scan's parallelism — the dd20 trap (8.5→0.7 s
      // in round 6), re-found in ev20's from_json flatten (two
      // duplicated 8×-from_json filter chains on the one-task scan;
      // 2.74→1.94 s excluded, controls flat). The rule's only effect
      // is adding filters that `explode` semantics already imply, so
      // plans are result-identical at every scale; at 100 TB the
      // duplicated-generator cost only grows, so exclusion is the
      // production posture too, not a local-mode dial.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // opt-in state-store provider pin: lets an oracle lap or a probe
    // run under the RocksDB production posture (`rocksdb` expands to
    // the Spark-shipped class). Unset = Spark's default heap provider.
    sys.env.get("SPARK_GRAFT_STATE_PROVIDER").foreach { p =>
      val cls =
        if (p == "rocksdb")
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        else p
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
    }
    spark
  }

  /** SPARK_GRAFT_ONLY=q01,ev13: the comma-separated name prefixes
    * that select a query subset for Bench and Verify. Unset selects
    * every query.
    */
  def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))

  private val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** One timed run of a query under the bench contract: a noop-format
    * write (count() lets Catalyst prune expression-heavy select
    * lists), a Failure on error so a failed run's time-to-failure
    * never becomes the min.
    */
  def sampleQuery(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : scala.util.Try[Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      scala.util.Success((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      scala.util.Failure(e)
    }
  }

  /** JSON string-body escape: quote, backslash and every control char
    * (< 0x20), so builder-authored SQL or an exception message never
    * breaks a consumer's json.load.
    */
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The warmup contract: repeat the IO/codegen/JIT warmup block
    * until `floorMs` has elapsed from THIS call (not JVM age — inside
    * an already-old JVM a JVM-age floor no-ops after one pass even
    * though the Spark paths are freshly loaded; ADVICE r11).
    */
  def warmupLoop(spark: SparkSession, sfDir: String, floorMs: Long): Unit = {
    val start = System.currentTimeMillis()
    def pass(): Unit = {
      Seq("lineitem", "documents", "embeddings", "events", "orders")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
      locally {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        spark.range(1000).select(col("id"), graft.functions.Hashing.hash64(col("id").cast("string")).as("h"))
          .withColumn("rn", row_number().over(Window.partitionBy(col("id") % 7).orderBy(col("h"))))
          .groupBy(col("rn")).agg(sum(col("h"))).orderBy(col("rn")).count()
        // warm the text/vector paths (regexp + md5 + explode + dot)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
        docs.select(graft.functions.Hashing.hash64(
            lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"),
            explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy(col("fp")).agg(count(col("tok"))).orderBy(col("fp")).count()
        val em = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
          .select(col("embedding").cast("array<double>").as("e"))
        em.select(graft.functions.DotExpr(col("e"), col("e")).as("d")).agg(sum(col("d"))).count()
      }
    }
    pass()
    while (System.currentTimeMillis() - start < floorMs) pass()
  }

  /** SPARK_GRAFT_WARMUP_MS with the typo-safe default (ADVICE r11):
    * a non-numeric value degrades to 45000, never crashes the lap.
    */
  def warmupFloorMsFromEnv: Long = sys.env.get("SPARK_GRAFT_WARMUP_MS")
    .flatMap(v => scala.util.Try(v.trim.toLong).toOption.orElse {
      System.err.println(
        s"[bench] SPARK_GRAFT_WARMUP_MS='$v' is not a long; using 45000")
      None
    }).getOrElse(45000L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = buildSession(cpus)
    // SPARK_GRAFT_TUNED=1: let the ENGINE set the scale dials from its
    // gated censuses (Tuned.session — q82 shuffle partitions, dd46
    // band geometry) instead of the env overrides above. The ladder's
    // tuned legs run under this; oracle laps leave it unset.
    if (sys.env.get("SPARK_GRAFT_TUNED").contains("1")) {
      val p = graft.operators.Tuned.session(spark, sfDir)
      println(s"""{"tuned":{"parts":${p.shuffleParts},"bandBits":${p.bandBits},"watermark_s":${p.watermarkDelayS}}}""")
    }
    // warmup: pay session/IO/codegen one-time costs outside the timings.
    // One pass is NOT enough: JIT compilation of Spark internals keeps
    // inflating timings for the first ~30-60 s of JVM life, which is
    // exactly the first ~10 alphabetical queries of a full lap — both
    // the r10 and r11 cross-round comparisons flagged early-lap dd*
    // "regressions" that dissolved on converged re-samples. Repeat the
    // warmup block (warmupLoop) until ≥ 45 s from bench start so every
    // query's samples start on compiled code.
    val warmupFloorMs = warmupFloorMsFromEnv
    // Load stamp: r4's driver bench ran on a contended box and
    // inflated untouched queries up to 14x, making every perf claim
    // unfalsifiable. Record 1-min system load at start/end plus the
    // count of OTHER jvm processes so a polluted run is self-labeling.
    // Read BEFORE the warmup floor: 45 s of 32-thread warmup drives
    // the 1-min average to ~4 all by itself, so a post-warmup reading
    // mislabels a quiet box as contended (the 06:02 r11 lap did).
    def loadAvg: Double = math.round(
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage * 10) / 10.0
    def otherJvms: Int = {
      val self = ProcessHandle.current().pid()
      Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty)
        .count { f =>
          f.getName.forall(_.isDigit) && f.getName.toLong != self &&
            (try {
              val comm = Files.readString(Paths.get(s"/proc/${f.getName}/comm")).trim
              comm == "java" || comm == "sbt"
            } catch { case _: Throwable => false })
        }
    }
    // Direct idle-CPU sample (500 ms over /proc/stat): the 1-min load
    // average takes minutes to decay, so a leg that starts right
    // after its OWN chain's previous leg reads load0 ≈ 20 on a box
    // with 100% idle CPUs and self-labels contended (every r12 sf10
    // chain leg did). Actual idle fraction at start is the truthful
    // contention signal; load stays in the stamp for history.
    def cpuIdleFrac: Double = {
      def read(): Array[Long] =
        Files.readAllLines(Paths.get("/proc/stat")).get(0)
          .split("\\s+").drop(1).map(_.toLong)
      try {
        val a = read(); Thread.sleep(500); val b = read()
        val d = b.zip(a).map { case (x, y) => x - y }
        val idle = (d(3) + d.lift(4).getOrElse(0L)).toDouble
        math.round(idle / math.max(d.sum, 1L) * 100) / 100.0
      } catch { case _: Throwable => -1.0 }
    }
    val load0 = loadAvg; val jvms0 = otherJvms; val idle0 = cpuIdleFrac
    warmupLoop(spark, sfDir, warmupFloorMs)
    // best-of-3 per query: machine-noise variance between single runs
    // measured up to 1.6x; the min is the reproducible cost.
    // Drive with a noop-format write, not count(): count() lets
    // Catalyst prune the final project, so expression-heavy select
    // lists would go untimed.
    def sample(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] =
      sampleQuery(spark, sfDir, name, fn).toOption
    // Same-day envelope probe (VERDICT r11 #5, opt-in via
    // SPARK_GRAFT_ENVELOPE_PROBE=1): BenchCompare's regression
    // envelope was a constant from a hand-measured A/B — fine until
    // the box or JVM changes. This mode MEASURES the day's noise at
    // lap start: 5 repeats of 3 designated tail queries (heavy,
    // batch-lane, historically stable), envelope = the worst
    // max/min spread among them. BenchCompare's `auto` mode reads it
    // from the sidecar and takes max(measured, 0.20) — a noisy box
    // widens the gate instead of flagging phantoms.
    val envelopeProbe: Option[Double] =
      if (sys.env.get("SPARK_GRAFT_ENVELOPE_PROBE").contains("1")) {
        val spreads = EnvelopeProbes.flatMap { p =>
          SparkEntry.queries.find(_._1.startsWith(p)).flatMap { case (n, f) =>
            // drop each probe's FIRST ATTEMPT: it is the tail of JIT
            // convergence (the r12 first probe read 1.81x spread, all
            // of it sample-1), not box noise — the envelope wants the
            // repeat spread of CONVERGED samples. Drop the slot BEFORE
            // flattening (ADVICE r12): with flatMap(...).drop(1) a
            // FAILED first attempt (sample = None) would shift the
            // drop onto a converged sample and keep the JIT tail.
            val ts = (1 to 5).map(_ => sample(n, f)).drop(1).flatten
            if (ts.size >= 2) Some(ts.max / ts.min - 1.0) else None
          }
        }
        if (spreads.nonEmpty) Some(math.round(spreads.max * 1000) / 1000.0)
        else None
      } else None
    envelopeProbe.foreach(e =>
      println(s"""{"envelope_probe":$e,"probes":"${EnvelopeProbes.mkString(",")}"}"""))
    // sample count override for scale-ladder legs (a 100x corpus pays
    // minutes per sample; one honest run beats three aborted ones)
    val nSamples = sys.env.get("SPARK_GRAFT_SAMPLES").map(_.toInt).getOrElse(3)
    val lap = SparkEntry.queries.filter(kv => selected(kv._1)).toSeq.sortBy(_._1)
    val firstPass = lap.map { case (name, fn) =>
      val ts = (1 to nSamples).flatMap(_ => sample(name, fn))
      // reclaim file-snapshot dirs (ev48-class streams) between
      // queries — each sample re-drains its own fresh dir, so at
      // ladder scale leaving them accumulates multi-GiB per sample
      graft.streaming.StreamJobs.cleanupFileSnapshots()
      (name, fn, ts)
    }
    // Contention self-repair: a query whose samples spread >2.5x was
    // measured under transient load (GC debris, a concurrent process)
    // — take two more samples so the min reflects the plan, not the
    // noise window. Spread, not an absolute threshold, so it needs no
    // prior-round table and scales with sf.
    val results = firstPass.map { case (name, fn, times) =>
      val all =
        if (times.nonEmpty && times.max / times.min > 2.5) {
          val extra = (1 to 2).flatMap(_ => sample(name, fn))
          graft.streaming.StreamJobs.cleanupFileSnapshots()
          times ++ extra
        } else times
      (name, all)
    }
    // Per-query detail lines (full names) for humans reading the log.
    // The driver's artifact keeps only the LAST ~2000 chars of output,
    // so the machine-readable summary must be ONE compact final line:
    // short ids (the SURVEY operator prefix before '_') + millisecond-
    // precision seconds keep ~100 queries near 1.5 KB. Round 3's
    // full-name full-precision line (~4.5 KB) was truncated mid-JSON
    // and lost 35 queries from the artifact.
    def ms3(v: Double): Double = math.round(v * 1000) / 1000.0
    // Detail lines carry EVERY sample (the artifact tail only keeps the
    // summary, but the driver log keeps these) so a disputed number is
    // auditable: min far below max = contention during that window.
    results.foreach { case (k, ts) =>
      val v = if (ts.nonEmpty) ts.min else -1.0
      println(s"""{"query":"$k","sec":${ms3(v)},"samples":[${ts.map(ms3).mkString(",")}]}""")
    }
    // summary keeps 2-decimal seconds (10 ms grain — plenty at the
    // 0.1–5 s per-query scale) so ~140 queries stay under the
    // driver's 2000-char tail capture; full precision lives in the
    // per-query detail lines above
    def ms2(v: Double): Double = math.round(v * 100) / 100.0
    val mins = results.map { case (k, ts) => (k, if (ts.nonEmpty) ts.min else -1.0) }
    val qs = mins.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + ms2(v)
    }.mkString("{", ",", "}")
    val total = if (mins.nonEmpty) mins.map(_._2).sum else 0.0
    // Lane split (VERDICT r7): streaming gates pay a fixed micro-batch
    // setup cost (~2-7 s each at any sf) that is real but constant —
    // folding it into one total masks batch-plan regressions. Report
    // the lanes separately; "value" stays the combined total so the
    // driver's last-JSON-line parser is unaffected.
    val (streamMins, batchMins) = mins.partition(kv => StreamingLane(kv._1))
    val batchTotal = batchMins.map(_._2).sum
    val streamTotal = streamMins.map(_._2).sum
    val nRerun = results.count(_._2.size > 3)
    val sfTag = sfDir.split('/').last
    // Contention self-labeling (VERDICT r7): a bench that STARTS on a
    // loaded box (r7 ran at load 6.7 with the driver's own processes
    // as the only suspects) cannot produce a trustworthy reading —
    // the load stamps were recorded but nothing flagged the run.
    // load0 is measured BEFORE this JVM does any work, so > 2.0 means
    // something else is burning cores. The JVM count is informational
    // only (emitted in the jvms field): keying contended on it assumed
    // the exactly-one-sbt-parent launch topology, which mislabels an
    // sbt-server run (two benign JVMs) as contended and a loaded bare
    // spark-submit run (zero other JVMs, load < 2) as quiet (ADVICE r8).
    // idle0 overrides a decayed-load false positive: ≥80% idle CPU at
    // start means nothing else is burning cores regardless of what
    // the (minutes-lagging) load average still reads — every r12 sf10
    // chain leg self-labeled contended at 100% idle via pure decay.
    // idle0 < 0 = /proc/stat unreadable → fall back to the load rule.
    val contended = load0 > 2.0 && (idle0 < 0 || idle0 < 0.8)
    if (contended)
      println(s"""{"warning":"bench started contended (load=$load0, idle=$idle0, other jvms=$jvms0): timings are upper bounds, re-run on a quiet box before comparing"}""")
    def laneJson(ms: Seq[(String, Double)]): String = {
      val slow = ms.sortBy(-_._2).take(3)
        .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + ms2(v) }
        .mkString("{", ",", "}")
      s"""{"sec":${ms3(ms.map(_._2).sum)},"n":${ms.size},"slowest":$slow}"""
    }
    val envJson = envelopeProbe.map(e => s""""envelope_probe":$e,""").getOrElse("")
    val line =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs,""" +
        s""""batch":${laneJson(batchMins)},"stream":${laneJson(streamMins)},$envJson""" +
        s""""load":[$load0,$loadAvg],"idle0":$idle0,"jvms":[$jvms0,$otherJvms],"reruns":$nRerun,"contended":$contended,"sf":"$sfTag"}"""
    println(line)
    // Sidecar with the FULL per-query map (VERDICT r9 #1): the driver
    // artifact's 2000-char tail can never hold all 333 entries, which
    // made the r9 tx15-17 "regressions" unprovable either way. Write
    // the complete summary line to a file so a quiet lap's per-query
    // map can be committed verbatim as the artifact of record.
    locally {
      val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "tmp/bench_full.json"))
      Option(out.getParent).foreach(Files.createDirectories(_))
      Files.writeString(out, line + "\n")
      println(s"""{"bench_full":"${out.toString}"}""")
    }
    // The driver's artifact keeps only the LAST ~2000 chars of output;
    // at 168+ queries the full map line above no longer fits, so the
    // round-5 artifact lost the headline total (parsed: null) — and
    // the r13 digest's 5-slowest-only "queries" map left the driver's
    // per-query comparison empty for 13 straight rounds (VERDICT r13
    // #2). Measurement-OUTPUT fix, r14: the FINAL line now also
    // carries ALL per-query times as a fixed-order value array —
    // "order":"alpha" declares the order (query full names sorted
    // ascending, exactly the order this lap ran and the order of
    // SparkEntry.queries keys sorted), "v" holds min-seconds at 2
    // decimals with trailing zeros trimmed (~5 B/query → ~1.7 KB for
    // 343). The timing loop is untouched; the full name→sec map still
    // prints above and persists in the bench_full sidecar. Fields
    // that also live on the full line (lanes, load stamps) move off
    // the final line to keep it inside the driver's 2000-char tail
    // next to sbt's closing "[success]" line; a degenerate lap that
    // still overflows ~1900 chars degrades (see digestJson).
    println(digestJson(mins, total, sfTag))
    spark.stop()
  }

  /** The FINAL digest line (the one inside the driver's 2000-char
    * tail). `mins` must be in query-name-ascending order — the order
    * the lap runs and the meaning of "order":"alpha". Values are
    * min-seconds at 2 decimals, trailing zeros trimmed (~5 B/query);
    * a degenerate lap that would overflow ~1900 chars degrades to 1
    * decimal, and if that still overflows, to the slowest-only digest
    * (no per-query array), rather than truncate mid-JSON.
    */
  def digestJson(mins: Seq[(String, Double)], total: Double, sfTag: String): String = {
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    def r2(v: Double): Double = math.round(v * 100) / 100.0
    def fmtTrim(v: Double, decimals: Int): String = {
      val p = math.pow(10, decimals)
      val r = math.round(v * p) / p
      if (r == math.rint(r)) r.toLong.toString
      else {
        val s = String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(r))
        if (decimals == 2 && s.endsWith("0")) s.dropRight(1) else s
      }
    }
    val slowest = mins.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + r2(v) }
      .mkString("{", ",", "}")
    def line(values: Option[Int]): String = {
      val vArr = values.fold("") { decimals =>
        mins.map { case (_, v) => fmtTrim(v, decimals) }
          .mkString(""""order":"alpha","v":[""", ",", "],")
      }
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${mins.size},""" +
        s""""queries":$slowest,$vArr"sf":"$sfTag"}"""
    }
    Seq(Some(2), Some(1)).map(line).find(_.length <= 1900).getOrElse(line(None))
  }

  /** The envelope probe's designated tail queries: heavy, batch-lane,
    * untouched for multiple rounds (their cost is plan-stable), so
    * repeat spread measures the BOX, not the code. Prefix match.
    */
  val EnvelopeProbes: Seq[String] = Seq("ss37", "dd11", "dd08")

  /** Queries whose implementation executes a Structured Streaming
    * job (micro-batch setup dominates their wall time at small sf).
    * Kept explicit — name conventions almost but don't quite cover it
    * (ev53 has no "stream" in its name; ev72's decode is batch).
    */
  val StreamingLane: Set[String] = Set(
    "ev11_stream_stats", "ev19_stream_pipeline", "ev21_stream_dedup",
    "ev28_stream_hourly", "ev38_stream_bursts", "ev42_stream_first_seen",
    "ev44_stream_hourly_actives", "ev45_stream_asof_census",
    "ev46_stream_compact", "ev47_stream_rate_limit", "ev48_stream_neardup",
    "ev49_stream_interval_join", "ev50_stream_upsert_sink",
    "ev51_stream_sessions", "ev53_backfill_seam", "ev73_lake_stream_ingest",
    "ev83_stream_tws_sessions", "ev84_stream_tws_first_seen")
}
